"""Multimodal (binary) column plumbing: image/audio/video as opaque
``binary`` columns with typed metadata (north-star requirement; the
reference's PNG sink K2 at `/root/reference/src/managers/
image_manager.py:200-219` is the ancestor of this shape).

The decode step is STUBBED: the real image/audio libraries are not in
this container, so ``decode_image`` raises NotImplementedError while
``fake_decode_meta`` provides a deterministic stand-in. Everything
Spark-side — schemas, Arrow batch shape, mapInPandas signatures,
partition behavior — is real and tested.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

#: Typed metadata schema for a multimodal asset column.
ASSET_META_SCHEMA = T.StructType(
    [
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("content_md5", T.StringType(), False),
        T.StructField("fake_width", T.IntegerType(), True),
        T.StructField("fake_height", T.IntegerType(), True),
    ]
)


def decode_image(payload: bytes):
    """Real image decode — requires an imaging library not present here.

    Deliberately stubbed (see module docstring): callers on the
    correctness path must use fake_decode_meta instead.
    """
    raise NotImplementedError(
        "image decode requires an imaging library not installed in this "
        "environment; use fake_decode_meta for the deterministic test path"
    )


def fake_decode_meta(payload: bytes) -> tuple[int, str, int, int]:
    """Deterministic stand-in for decode: (n_bytes, md5, width, height).

    width/height derive from the first two payload bytes — stable, cheap,
    and oracle-expressible (ascii() + modulo in SQL). A missing byte
    counts as 0, matching SQL ascii('') = 0, so empty/1-byte payloads
    agree with the oracle too (tests/test_edge_docs.py doc 0).
    """
    md5 = hashlib.md5(payload).hexdigest()
    w = ((payload[0] if payload else 0) % 64) + 1
    h = ((payload[1] if len(payload) > 1 else 0) % 64) + 1
    return len(payload), md5, w, h


def with_asset_meta(
    df: DataFrame, binary_col: str = "content", key_cols: tuple[str, ...] = ("doc_id",)
) -> DataFrame:
    """Attach decoded metadata columns to a binary-column DataFrame via
    mapInPandas (Arrow-batched; one python worker per partition)."""
    key_fields = [df.schema[k] for k in key_cols]
    out_schema = T.StructType(list(key_fields) + list(ASSET_META_SCHEMA.fields))

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            metas = pdf[binary_col].map(fake_decode_meta)
            out = pdf[list(key_cols)].copy()
            out["n_bytes"] = metas.map(lambda m: m[0]).astype("int64")
            out["content_md5"] = metas.map(lambda m: m[1])
            out["fake_width"] = metas.map(lambda m: m[2]).astype("int32")
            out["fake_height"] = metas.map(lambda m: m[3]).astype("int32")
            yield out

    return df.mapInPandas(batches, schema=out_schema)


# ---------------------------------------------------------------------------
# Frame sampling: video-style 1->N decode (UDTF shape, U2 analog). No
# real frame decoder ships; the deterministic stand-in slices fixed-size
# byte windows so the exploding mapInPandas plumbing (schema, batch
# shape, ordering) is fully testable.
# ---------------------------------------------------------------------------

FRAME_SIZE = 16
MAX_FRAMES = 4

FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("frame_bytes", T.LongType(), False),
        T.StructField("frame_md5", T.StringType(), False),
    ]
)


def fake_frames(payload: bytes) -> list[bytes]:
    """Deterministic stand-in: up to MAX_FRAMES fixed-size byte windows."""
    n = min(MAX_FRAMES, len(payload) // FRAME_SIZE)
    return [payload[i * FRAME_SIZE : (i + 1) * FRAME_SIZE] for i in range(n)]


def sample_frames(df: DataFrame, binary_col: str = "content", id_col: str = "doc_id") -> DataFrame:
    """Explode each binary payload into frame rows via mapInPandas (1->N)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, idxs, sizes, md5s = [], [], [], []
            for did, payload in zip(pdf[id_col], pdf[binary_col]):
                for i, fr in enumerate(fake_frames(bytes(payload))):
                    ids.append(int(did))
                    idxs.append(i)
                    sizes.append(len(fr))
                    md5s.append(hashlib.md5(fr).hexdigest())
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "frame_bytes": pd.Series(sizes, dtype="int64"),
                    "frame_md5": pd.Series(md5s, dtype="object"),
                }
            )

    return df.mapInPandas(batches, schema=FRAME_SCHEMA)


# ---------------------------------------------------------------------------
# Feature extraction: binary payload -> numeric feature vector (the
# "feature-extract" slot of the multimodal pipeline). The real extractor
# (CNN embedding / mel spectrogram) is stubbed like decode_image; the
# deterministic stand-in computes integer byte statistics (4-bin
# histogram + sum), so the numpy-in-Arrow-batches plumbing is verified
# by an exact integer oracle.
# ---------------------------------------------------------------------------

FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("byte_sum", T.LongType(), False),
        T.StructField("bin0", T.LongType(), False),
        T.StructField("bin1", T.LongType(), False),
        T.StructField("bin2", T.LongType(), False),
        T.StructField("bin3", T.LongType(), False),
    ]
)


def extract_features(df: DataFrame, binary_col: str = "content", id_col: str = "doc_id") -> DataFrame:
    """Byte-statistics features via mapInPandas + numpy (vectorized)."""
    import numpy as np

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for did, payload in zip(pdf[id_col], pdf[binary_col]):
                b = np.frombuffer(bytes(payload), dtype=np.uint8)
                if len(b) == 0:
                    # no bytes -> no feature row (matches the oracle's
                    # explode-then-group, which drops empty payloads)
                    continue
                hist = np.bincount(b >> 6, minlength=4)
                rows.append(
                    (int(did), len(b), int(b.sum()), *(int(h) for h in hist))
                )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "n_bytes", "byte_sum", "bin0", "bin1", "bin2", "bin3"],
            )

    return df.mapInPandas(batches, schema=FEATURES_SCHEMA)


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("target_w", T.IntegerType(), False),
        T.StructField("target_h", T.IntegerType(), False),
        T.StructField("resized", T.BinaryType(), False),
        T.StructField("resized_md5", T.StringType(), False),
    ]
)


def resize_image(payload: bytes, w: int, h: int) -> bytes:
    """Real image resize — requires an imaging library not present here.

    Deliberately stubbed (see module docstring): callers on the
    correctness path must use fake_resize instead.
    """
    raise NotImplementedError(
        "image resize requires an imaging library not installed in this "
        "environment; use fake_resize for the deterministic test path"
    )


def fake_resize(payload: bytes, w: int, h: int) -> bytes:
    """Deterministic stand-in for resize: clamp-or-pad to w*h bytes.

    Truncates long payloads and right-pads short ones with 0x20 so the
    output length is exactly the target pixel count — shape-correct
    plumbing (fixed-size output per asset) without a codec. Oracle:
    rpad + substring arithmetic in SQL.
    """
    target = w * h
    return (bytes(payload) + b" " * target)[:target]


def resize_assets(
    df: DataFrame, w: int = 8, h: int = 8, binary_col: str = "content", id_col: str = "doc_id"
) -> DataFrame:
    """Batch resize through mapInPandas: binary in -> fixed-shape binary out.

    The real-codec version swaps fake_resize for resize_image with the
    same signature/schema; partitioning, Arrow batching, and the binary
    output column are production-shaped either way.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for did, payload in zip(pdf[id_col], pdf[binary_col]):
                out = fake_resize(payload, w, h)
                rows.append(
                    (int(did), w, h, out, hashlib.md5(out).hexdigest())
                )
            yield pd.DataFrame(
                rows, columns=["doc_id", "target_w", "target_h", "resized", "resized_md5"]
            )

    return df.mapInPandas(batches, schema=RESIZED_SCHEMA)


# ---------------------------------------------------------------------------
# Audio-style DSP windowing: binary payload as PCM samples -> overlapping
# frames -> per-frame energy. The real decoder (wav/mp3 -> int16) is
# stubbed like decode_image; the stand-in treats each byte as one
# unsigned sample, so frame energies are exact integers and the
# overlapping-window numpy plumbing (sliding_window_view over Arrow
# batches) is verified by an integer oracle. Frame/hop mirror the
# 25ms/10ms convention of speech front-ends.
# ---------------------------------------------------------------------------

AUDIO_FRAME = 16   # samples per frame
AUDIO_HOP = 8      # hop between frame starts (50% overlap)
AUDIO_MAX_FRAMES = 6

AUDIO_ENERGY_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("n_samples", T.LongType(), False),
        T.StructField("energy", T.LongType(), False),
    ]
)


def decode_audio(payload: bytes):
    """Real audio decode — requires an audio library not present here."""
    raise NotImplementedError(
        "audio decode requires an audio library not installed in this "
        "environment; the byte-as-sample stand-in is the test path"
    )


def audio_frame_energy(
    df: DataFrame, binary_col: str = "content", id_col: str = "doc_id"
) -> DataFrame:
    """Overlapping-frame energy via mapInPandas + numpy sliding windows."""
    import numpy as np

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, idxs, ns, es = [], [], [], []
            for did, payload in zip(pdf[id_col], pdf[binary_col]):
                samples = np.frombuffer(bytes(payload), dtype=np.uint8).astype(np.int64)
                n_frames = 0
                if len(samples) >= AUDIO_FRAME:
                    n_frames = min(
                        (len(samples) - AUDIO_FRAME) // AUDIO_HOP + 1, AUDIO_MAX_FRAMES
                    )
                if n_frames > 0:
                    win = np.lib.stride_tricks.sliding_window_view(samples, AUDIO_FRAME)
                    starts = np.arange(n_frames) * AUDIO_HOP
                    frames = win[starts]
                    energy = (frames * frames).sum(axis=1)
                    ids.extend([int(did)] * n_frames)
                    idxs.extend(range(n_frames))
                    ns.extend([AUDIO_FRAME] * n_frames)
                    es.extend(int(e) for e in energy)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "n_samples": pd.Series(ns, dtype="int64"),
                    "energy": pd.Series(es, dtype="int64"),
                }
            )

    return df.mapInPandas(batches, schema=AUDIO_ENERGY_SCHEMA)
