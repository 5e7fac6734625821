"""The local-mode confs. Python workers: an archive on the worker's path is
re-read by ``importlib.invalidate_caches()`` only when it changed, and the
session points Python workers at the daemon for local masters only.
Streaming checkpoints: local masters write them through the ``FileSystem``
manager, which still refuses a second commit of the same file."""

from __future__ import annotations

import importlib.util
import os
import zipfile
import zipimport

import pandas as pd
import pytest

from dend_covid19_spark import worker_daemon
from dend_covid19_spark.session import local_mode_conf


@pytest.fixture
def reads(monkeypatch):
    """Install the daemon's ``invalidate_caches`` and count
    ``zipimport._read_directory`` calls."""
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", worker_daemon.invalidate_if_changed)
    calls = []
    stock = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory", lambda a: calls.append(a) or stock(a))
    return calls


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def _load(importer: zipimport.zipimporter, name: str):
    spec = importer.find_spec(name)
    assert spec is not None, f"{name} not found in {importer.archive}"
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_unchanged_zip_not_reread(tmp_path, reads):
    arc = str(tmp_path / "lib.zip")
    _write_zip(arc, {"wd_mod_a": "VALUE = 1\n"})
    importer = zipimport.zipimporter(arc)
    reads.clear()  # the constructor's own read
    importer.invalidate_caches()
    assert reads == [arc]
    importer.invalidate_caches()
    assert reads == [arc]
    assert _load(importer, "wd_mod_a").VALUE == 1


def test_rewritten_zip_reread_and_new_module_imports(tmp_path, reads):
    arc = str(tmp_path / "lib.zip")
    _write_zip(arc, {"wd_mod_a": "VALUE = 1\n"})
    importer = zipimport.zipimporter(arc)
    reads.clear()
    importer.invalidate_caches()
    assert importer.find_spec("wd_mod_b") is None
    _write_zip(arc, {"wd_mod_a": "VALUE = 1\n", "wd_mod_b": "VALUE = 2\n"})
    importer.invalidate_caches()
    assert reads == [arc, arc]
    assert _load(importer, "wd_mod_b").VALUE == 2


def test_deleted_zip_falls_through(tmp_path, reads):
    arc = str(tmp_path / "lib.zip")
    _write_zip(arc, {"wd_mod_a": "VALUE = 1\n"})
    importer = zipimport.zipimporter(arc)
    importer.invalidate_caches()
    os.remove(arc)
    importer.invalidate_caches()  # the stock method: an empty directory, no exception
    assert importer.find_spec("wd_mod_a") is None
    _write_zip(arc, {"wd_mod_a": "VALUE = 3\n"})  # back again: read, not skipped
    importer.invalidate_caches()
    assert _load(importer, "wd_mod_a").VALUE == 3


def test_pandas_udf_workers_do_not_reread_archives(spark):
    """In the session's Python workers an ``importlib.invalidate_caches()``
    reads no zip directory (the stock daemon reads ~16 per call)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def times_ten_plus_reads(x: pd.Series) -> pd.Series:
        import importlib
        import zipimport

        calls = []
        stock = zipimport._read_directory
        zipimport._read_directory = lambda a: calls.append(a) or stock(a)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = stock
        return x * 10 + len(calls)

    df = spark.range(0, 40, 1, numPartitions=4).select(times_ten_plus_reads("id").alias("v"))
    assert df.rdd.getNumPartitions() >= 4
    assert sorted(r.v for r in df.collect()) == [i * 10 for i in range(40)]


FS_MANAGER = "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"


@pytest.mark.parametrize("master", ["local", "local[4]", "local[*]", "local-cluster[2,1,1024]"])
def test_daemon_conf_for_local_masters(master):
    conf = local_mode_conf(master)
    assert conf["spark.python.daemon.module"] == "dend_covid19_spark.worker_daemon"
    root = conf["spark.executorEnv.PYTHONPATH"]
    assert os.path.isfile(os.path.join(root, "dend_covid19_spark", "worker_daemon.py"))
    assert conf["spark.sql.streaming.checkpointFileManagerClass"] == FS_MANAGER


@pytest.mark.parametrize("master", ["spark://host:7077", "yarn", "k8s://https://host:6443", "mesos://host:5050"])
def test_no_daemon_conf_for_other_masters(master):
    assert local_mode_conf(master) == {}


def _checkpoint_manager(spark, path: str):
    """The manager a streaming query's checkpoint logs use for ``path``."""
    jvm = spark._jvm
    return jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(path), spark._jsparkSession.sessionState().newHadoopConf()
    )


def test_session_uses_daemon(spark, tmp_path):
    assert spark.sparkContext.master.startswith("local")
    assert spark.conf.get("spark.python.daemon.module") == "dend_covid19_spark.worker_daemon"
    assert _checkpoint_manager(spark, str(tmp_path)).getClass().getName() == FS_MANAGER


def test_checkpoint_commit_refuses_second_writer(spark, tmp_path):
    """A second non-overwrite ``createAtomic`` onto a committed file
    raises ``FileAlreadyExistsException`` and keeps the first bytes:
    ``HDFSMetadataLog`` relies on this to refuse a second writer of a
    batch."""
    from py4j.protocol import Py4JJavaError

    jvm = spark._jvm
    manager = _checkpoint_manager(spark, str(tmp_path))
    path = jvm.org.apache.hadoop.fs.Path(str(tmp_path / "0"))
    out = manager.createAtomic(path, False)
    out.write(bytearray(b"first"))
    out.close()
    out = manager.createAtomic(path, False)
    out.write(bytearray(b"second"))
    with pytest.raises(Py4JJavaError) as err:
        out.close()
    exists = jvm.java.lang.Class.forName("org.apache.hadoop.fs.FileAlreadyExistsException")
    assert exists.isInstance(err.value.java_exception), err.value.java_exception
    assert (tmp_path / "0").read_bytes() == b"first"
