"""Multimodal column plumbing — image/audio/video as opaque ``binary``
columns with typed metadata (north-star extension op, BASELINE.json).

The container has no image/audio codecs, so the *decode* step is stubbed
(``decode_image`` raises NotImplementedError unless handed a registered fake
decoder); everything Spark-side is real and tested: schema, Arrow batch
shape, ``mapInPandas`` signatures, partitioning. Swapping the stub for
Pillow/librosa is a one-function change on the executors.

Design for 100 TB: blobs ride in parquet binary columns; feature extraction
is mapInPandas so each task processes a whole Arrow batch of blobs without
JVM↔Python per-row chatter; metadata-only queries never touch blob bytes
(column pruning keeps them out of the scan).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("byte_len", T.LongType(), False),
        T.StructField("n_frames", T.LongType(), False),
        T.StructField("mean_byte", T.DoubleType(), False),
        T.StructField("features", T.ArrayType(T.DoubleType()), False),
    ]
)


def attach_blob(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Make an opaque binary column (+ media_type tag). Test stand-in for a
    real image/audio payload: the utf-8 bytes of the text. Everything
    downstream treats it as opaque bytes."""
    return docs.withColumn("blob", F.encode(F.col(text_col), "utf-8")).withColumn(
        "media_type", F.lit("application/octet-stream")
    )


def decode_image(blob: bytes):  # pragma: no cover - stub by design
    """STUB: real deployments register a decoder (Pillow etc.) here."""
    raise NotImplementedError(
        "image decoding requires a codec library not present in this "
        "container; register a decoder or use extract_features' "
        "deterministic byte-level features"
    )


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("width", T.IntegerType(), False),
        T.StructField("height", T.IntegerType(), False),
        T.StructField("resized", T.BinaryType(), False),
    ]
)


def _as_bytes(blob) -> bytes:
    """NULL-safe blob coercion: None and b'' both become a 1-byte payload
    so downstream math never divides by zero or calls bytes(None)."""
    return bytes(blob) if blob is not None and len(blob) else b"\x00"


def resize_images(
    df: DataFrame, id_col: str = "doc_id", width: int = 32, height: int = 32
) -> DataFrame:
    """'Decode → resize → re-encode' with the decode stubbed: treats the
    blob as a byte matrix and nearest-neighbor-samples it to width×height
    bytes (deterministic fake in place of a real codec — swap the sampler
    for Pillow's `Image.resize` on executors with codecs installed). The
    Spark contract is the real one: binary in, fixed-size binary +
    dimensions out, Arrow-batched."""

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        target = width * height
        for pdf in batches:
            rows = []
            for doc_id, blob in zip(pdf[id_col], pdf["blob"]):
                b = _as_bytes(blob)
                out = bytes(b[(i * len(b)) // target] for i in range(target))
                rows.append(
                    {
                        "doc_id": int(doc_id),
                        "width": width,
                        "height": height,
                        "resized": out,
                    }
                )
            yield pd.DataFrame(rows, columns=["doc_id", "width", "height", "resized"])

    return df.select(id_col, "blob").mapInPandas(resize, RESIZED_SCHEMA)


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("frame_idx", T.LongType(), False),
        T.StructField("frame", T.BinaryType(), False),
    ]
)


def frame_sample(
    df: DataFrame, id_col: str = "doc_id", frame_bytes: int = 256, stride: int = 2
) -> DataFrame:
    """Frame sampling: explode each blob into every ``stride``-th
    fixed-size frame — the video-keyframe / audio-chunk shape. One blob row
    in, O(len/frame_bytes/stride) frame rows out, all inside one Arrow
    batch pass (no per-row JVM↔Python crossings)."""

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, blob in zip(pdf[id_col], pdf["blob"]):
                b = bytes(blob) if blob is not None else b""
                for idx, off in enumerate(range(0, max(len(b), 1), frame_bytes)):
                    if idx % stride == 0:
                        rows.append(
                            {
                                "doc_id": int(doc_id),
                                "frame_idx": idx,
                                "frame": b[off : off + frame_bytes],
                            }
                        )
            yield pd.DataFrame(rows, columns=["doc_id", "frame_idx", "frame"])

    return df.select(id_col, "blob").mapInPandas(sample, FRAME_SCHEMA)


def extract_features(
    df: DataFrame, id_col: str = "doc_id", frame_bytes: int = 256, n_buckets: int = 8
) -> DataFrame:
    """'Decode + featurize' with a deterministic fake decoder: frame-sample
    the byte stream every ``frame_bytes`` bytes and emit a byte-histogram
    feature vector. The Spark plumbing (schema, batching, partition
    behavior) is exactly what a real image featurizer uses."""

    def featurize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, blob in zip(pdf[id_col], pdf["blob"]):
                b = bytes(blob) if blob is not None else b""
                frames = [
                    b[i : i + frame_bytes] for i in range(0, max(len(b), 1), frame_bytes)
                ]
                hist = [0.0] * n_buckets
                for by in b:
                    hist[by % n_buckets] += 1.0
                total = max(len(b), 1)
                rows.append(
                    {
                        "doc_id": int(doc_id),
                        "byte_len": len(b),
                        "n_frames": len(frames),
                        "mean_byte": (sum(b) / total) if b else 0.0,
                        "features": [h / total for h in hist],
                    }
                )
            yield pd.DataFrame(rows)

    return df.select(id_col, "blob").mapInPandas(featurize, FEATURE_SCHEMA)


def audio_window_energy(
    df: DataFrame,
    id_col: str = "doc_id",
    window: int = 128,
    silence_rms: float = 20.0,
) -> DataFrame:
    """Audio-style windowed energy over an opaque blob: treat the bytes
    as 8-bit unsigned PCM samples (the decode stub convention — swap the
    byte view for a real soundfile/ffmpeg decode on executors with
    codecs), split into fixed ``window``-sample frames (trailing partial
    frame dropped; blobs shorter than one frame emit no row), and report
    per-blob (n_samples, n_windows, mean_rms, silence_frac, peak_rms,
    peak_window) — the VAD/silence-trim signal an audio curation
    pipeline runs before transcription.

    Plumbing contract is the real one: binary in, Arrow-batched
    mapInPandas, numpy view + reshape per batch (no per-sample Python).
    Window RMS is rounded half-away to 6 dp BEFORE the silence compare
    and the argmax (numpy argmax takes the first max → lowest window
    index), so the whole statistic mirrors bit-for-bit into X82_SQL's
    byte arithmetic."""
    import numpy as np

    def _rha(x, dec=6):
        p = 10.0 ** dec
        return np.sign(x) * np.floor(np.abs(x) * p + 0.5) / p

    out_schema = (
        f"{id_col} long, n_samples long, n_windows long, mean_rms double, "
        "silence_frac double, peak_rms double, peak_window int"
    )

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, blob in zip(pdf[id_col], pdf["blob"]):
                b = _as_bytes(blob)
                n = len(b)
                nw = n // window
                if nw == 0:
                    continue
                arr = (
                    np.frombuffer(bytes(b[: nw * window]), dtype=np.uint8)
                    .astype("float64")
                    .reshape(nw, window)
                    - 128.0
                )
                rms = _rha(np.sqrt((arr * arr).mean(axis=1)))
                peak = int(np.argmax(rms))
                # mean of the 6-dp window RMS values in INTEGER
                # micro-units with explicit half-up division: a float
                # mean of n multiples of 1e-6 lands on exact .5 rounding
                # ties constantly (sum/n is a multiple of 1e-6/n), and
                # summation-order ulp then flips the last digit per
                # engine — integers cannot tie-break differently.
                mrms = np.rint(rms * 1e6).astype("int64")
                mean_micro = (2 * int(mrms.sum()) + nw) // (2 * nw)
                rows.append(
                    {
                        id_col: int(doc_id),
                        "n_samples": n,
                        "n_windows": nw,
                        "mean_rms": mean_micro / 1e6,
                        "silence_frac": float(
                            _rha(np.float64((rms < silence_rms).sum() / nw))
                        ),
                        "peak_rms": float(rms[peak]),
                        "peak_window": peak,
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[id_col, "n_samples", "n_windows", "mean_rms",
                         "silence_frac", "peak_rms", "peak_window"],
            )

    return df.select(id_col, "blob").mapInPandas(feats, out_schema)
