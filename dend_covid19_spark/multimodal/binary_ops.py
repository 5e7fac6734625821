"""Multimodal column plumbing: opaque binary payloads + typed metadata.

The engine's stance for image/audio/video at 100 TB: store payloads as
``binary`` columns (or object-store URIs) beside typed metadata columns;
run decode / feature-extraction as Arrow-batched ``mapInPandas`` stages so
Python sees columnar batches, never rows.

The decode step in THIS module is STUBBED — the container has no
image/audio libraries — but everything Spark-side is real and tested:
schema handling, batch iteration, partition-preserving mapInPandas, and
deterministic fallback features. Swap ``_decode_stub`` for a real decoder
(PIL/librosa/ffmpeg) without touching the plan.

The stub is RETIRED for all three media classes: 24-bit BMP images
(``multimodal/bmp.py``), RIFF/WAVE audio (``multimodal/wav.py``), and
YUV4MPEG2 video (``multimodal/y4m.py``) are genuinely encoded and
decoded byte-for-byte — see the ``multimodal_decode_bmp`` /
``multimodal_decode_wav`` / ``multimodal_frame_sample_decoded`` /
``multimodal_resize_decoded`` queries. What remains here is the
metadata/dispatch/feature plumbing whose features are byte-level by
design (no decode claimed).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

META_SCHEMA = (
    "doc_id long, byte_len long, first_byte int, content_md5 string"
)

FRAME_BYTES = 32  # bytes per synthetic "frame" (modality dispatch)
HIST_BINS = 16  # byte-histogram bins (byte >> 4)


def _make_decode_stub():
    """Build the deterministic fake 'decode' used where a real media
    decoder would run. Built as a factory returning a nested function so
    UDF closures capture it *by value* (cloudpickle) — in local mode the
    only engine module a worker imports is the ``worker_daemon`` shim.
    Raises NotImplementedError for payloads we can't fake (where
    PIL/librosa/ffmpeg would be required)."""
    import hashlib

    def decode(payload: bytes) -> dict:
        if payload is None:
            raise NotImplementedError(
                "real media decode requires PIL/librosa/ffmpeg"
            )
        return {
            "byte_len": len(payload),
            "first_byte": payload[0] if payload else -1,
            "content_md5": hashlib.md5(payload).hexdigest(),
        }

    return decode


_decode_stub = _make_decode_stub()  # module-level handle for unit tests


def attach_binary_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Model a multimodal payload: the UTF-8 bytes of ``text_col`` as an
    opaque binary column (stand-in for image/audio bytes)."""
    return df.withColumn("payload", F.col(text_col).cast("binary"))


def extract_binary_meta(df: DataFrame) -> DataFrame:
    """Arrow-batched metadata extraction over the binary column.

    ``mapInPandas`` receives an iterator of pandas batches (no per-row
    Python overhead); output schema is declared so Catalyst plans the
    downstream without re-inference. At scale: partition-parallel, no
    shuffle, memory bounded by the Arrow batch size.
    """

    decode = _make_decode_stub()

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            metas = pdf["payload"].map(decode)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "byte_len": metas.map(lambda m: m["byte_len"]).astype("int64"),
                    "first_byte": metas.map(lambda m: m["first_byte"]).astype("int32"),
                    "content_md5": metas.map(lambda m: m["content_md5"]),
                }
            )

    return df.select("doc_id", "payload").mapInPandas(extract, META_SCHEMA)


def dispatch_modalities(df: DataFrame) -> DataFrame:
    """Heterogeneous-corpus routing: one Arrow mapInPandas stage that
    dispatches each row to its modality's extractor (image -> byte_len,
    audio -> first_byte, video -> frame count; each a stand-in for the
    real PIL/librosa/ffmpeg feature) and emits a unified long-format
    (doc_id, modality, feature, feature_value) frame.

    This is the mixed-corpus shape: one scan, one Python stage, no
    per-modality job — partition-parallel with no shuffle; adding a
    modality is a new branch in the dispatch table, not a new pipeline.
    The modality column would be real metadata in production; here it is
    derived deterministically (doc_id % 3) so the oracle can mirror it.
    """

    extractors = {
        "image": ("byte_len", lambda b: len(b)),
        "audio": ("first_byte", lambda b: b[0] if b else -1),
        "video": ("n_frames", lambda b: len(b) // FRAME_BYTES),
    }
    modality_of = {0: "image", 1: "audio", 2: "video"}

    def dispatch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            mods, feats, vals = [], [], []
            for doc_id, b in zip(pdf["doc_id"], pdf["payload"]):
                mod = modality_of[doc_id % 3]
                feat, fn = extractors[mod]
                mods.append(mod)
                feats.append(feat)
                vals.append(fn(b))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "modality": mods,
                    "feature": feats,
                    "feature_value": pd.Series(vals, dtype="int64"),
                }
            )

    return df.select("doc_id", "payload").mapInPandas(
        dispatch, "doc_id long, modality string, feature string, feature_value long"
    )


def extract_byte_histogram(df: DataFrame, bins: int = HIST_BINS) -> DataFrame:
    """Feature-extraction stage: 16-bin histogram of the payload's byte
    values (byte >> 4) as a fixed-length feature vector — numpy-vectorized
    per Arrow batch, the slot where a real embedding/feature model runs.
    """
    import numpy as np

    def hist(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [
                np.bincount(
                    np.frombuffer(b, dtype=np.uint8) >> 4, minlength=bins
                )[:bins].astype("int64").tolist()
                for b in pdf["payload"]
            ]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "hist": feats})

    return df.select("doc_id", "payload").mapInPandas(
        hist, "doc_id long, hist array<bigint>"
    )


PHASH_BITS = 16  # aHash-style signature width (one bit per histogram bin)


def extract_phash(df: DataFrame) -> DataFrame:
    """Perceptual-hash stage (aHash shape): bit b of the signature is 1
    iff histogram bin b exceeds the per-payload mean bin mass — the
    average-hash construction real image dedup uses over downsampled
    pixels, here over the byte-value profile (byte % 16 — for text-like
    payloads the letter-frequency fingerprint; >>4 would collapse all
    lowercase bytes into two bins and every payload onto one
    signature) the decode stub exposes.
    Integer threshold (cnt * BITS > total) keeps it exactly portable.
    numpy-vectorized per Arrow batch like the other extractors."""
    import numpy as np

    def phash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            sigs = []
            for b in pdf["payload"]:
                hist = np.bincount(
                    np.frombuffer(b, dtype=np.uint8) % 16, minlength=PHASH_BITS
                )[:PHASH_BITS].astype("int64")
                bits = hist * PHASH_BITS > hist.sum()
                sigs.append(int((bits << np.arange(PHASH_BITS)).sum()))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "sig": sigs})

    return df.select("doc_id", "payload").mapInPandas(
        phash, "doc_id long, sig long"
    )
