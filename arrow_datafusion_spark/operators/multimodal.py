"""Multimodal column plumbing: opaque binary payloads + typed metadata,
processed with Arrow-batched pandas UDFs over ``mapInPandas``.

The container has no image/audio codecs, so the DECODE step is stubbed
(clearly marked below) — but everything Spark-side is real and tested: the
(payload BINARY, meta STRUCT) schema, the mapInPandas batch iteration, the
Arrow transfer, and the deterministic per-byte feature extraction. Swapping
the stub for PIL/librosa changes one function body, not the pipeline.

Scale notes: mapInPandas streams Arrow batches (no per-row Python overhead);
payload columns stay opaque through shuffles (never parsed JVM-side); feature
extraction is embarrassingly parallel — partition count is the only knob.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "attach_binary_payload",
    "extract_byte_features",
    "decode_image",
    "fake_decode_image",
    "resize_pooled",
    "sample_frames",
]


def attach_binary_payload(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Model a multimodal row: (id, payload binary, meta struct). The fixture
    corpus has no real media, so the payload is the utf-8 text bytes — the
    schema and everything downstream treat it as an opaque blob."""
    payload = F.encode(F.col(text_col), "utf-8")
    meta = F.struct(
        F.octet_length(F.col(text_col)).alias("n_bytes"),
        F.lit("text/plain").alias("content_type"),
    )
    return df.select(F.col(id_col), payload.alias("payload"), meta.alias("meta"))


def extract_byte_features(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Arrow-batched feature extraction over opaque payloads: byte count,
    md5 hex, and mean byte value — deterministic, so oracle-able.

    This is the UDWF/feature-extract pattern (SURVEY.md §2.11): pandas in,
    pandas out, one Python call per Arrow batch.
    """
    schema = f"{id_col} long, n_bytes int, payload_md5 string, mean_byte double"

    def batches(it: Iterator) -> Iterator:
        import arrow_datafusion_spark.worker  # noqa: F401  (zip shim)
        import hashlib
        import math

        import pandas as pd

        for pdf in it:
            payloads = pdf["payload"]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "n_bytes": payloads.map(len).astype("int32"),
                    "payload_md5": payloads.map(
                        lambda b: hashlib.md5(bytes(b)).hexdigest()
                    ),
                    # floor(x·1e6 + 0.5): half-AWAY rounding like the SQL
                    # engines — Python's round() is half-EVEN and disagrees
                    # on exact .5 ties (sum divisible by len·2^k), e.g.
                    # 35991/384 = 93.7265625 → .726563 away, .726562 even.
                    "mean_byte": payloads.map(
                        lambda b: math.floor(sum(b) / len(b) * 1e6 + 0.5) / 1e6
                        if len(b)
                        else 0.0
                    ),
                }
            )

    return df.mapInPandas(batches, schema)


def decode_image(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """STUB — image decode requires a codec library not present in this
    container. The Spark-side contract (binary in → struct{width,height,mode}
    + array<float> features out via mapInPandas) is what the pipeline
    depends on; plug PIL in here when available."""
    try:
        import PIL.Image  # noqa: F401
    except ImportError as exc:  # pragma: no cover - codec libs not installed
        raise NotImplementedError(
            "image decode needs PIL; the mapInPandas plumbing pattern is "
            "demonstrated (and tested) in extract_byte_features"
        ) from exc
    raise NotImplementedError("wire PIL decode here when codecs are available")


def fake_decode_image(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic FAKE decode (no codec libs in this container): the
    payload bytes become a row-major width×height float image in [0, 1],
    width = 8 + n_bytes % 9, zero-padded to fill the last row. The output
    schema — id, width int, height int, pixels array<float> — is exactly
    what a real decoder produces; swapping PIL in changes only the body.
    """
    schema = f"{id_col} long, width int, height int, pixels array<float>"

    def batches(it: Iterator) -> Iterator:
        import arrow_datafusion_spark.worker  # noqa: F401  (zip shim)
        import pandas as pd

        def decode(b) -> tuple[int, int, list[float]]:
            raw = bytes(b)
            w = 8 + len(raw) % 9
            h = max(1, -(-len(raw) // w))  # ceil
            px = [x / 255.0 for x in raw] + [0.0] * (w * h - len(raw))
            return w, h, px

        for pdf in it:
            decoded = pdf["payload"].map(decode)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "width": decoded.map(lambda t: t[0]).astype("int32"),
                    "height": decoded.map(lambda t: t[1]).astype("int32"),
                    "pixels": decoded.map(lambda t: t[2]),
                }
            )

    return df.mapInPandas(batches, schema)


def resize_pooled(df: DataFrame, factor: int = 2, id_col: str = "doc_id") -> DataFrame:
    """2-D average-pool resize (factor×factor blocks, edge blocks padded by
    truncation): (id, width, height, pixels) → the same shape at
    ceil(w/f)×ceil(h/f). numpy over Arrow batches — the real resize kernel
    shape; a bilinear PIL resize drops into the same contract."""
    schema = f"{id_col} long, width int, height int, pixels array<float>"

    def batches(it: Iterator) -> Iterator:
        import arrow_datafusion_spark.worker  # noqa: F401  (zip shim)
        import numpy as np
        import pandas as pd

        def pool(row):
            w, h = int(row["width"]), int(row["height"])
            img = np.asarray(row["pixels"], dtype="float32").reshape(h, w)
            oh, ow = -(-h // factor), -(-w // factor)
            padded = np.zeros((oh * factor, ow * factor), dtype="float32")
            padded[:h, :w] = img
            out = padded.reshape(oh, factor, ow, factor).mean(axis=(1, 3))
            return ow, oh, [round(float(v), 6) for v in out.ravel()]

        for pdf in it:
            pooled = pdf.apply(pool, axis=1)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "width": pooled.map(lambda t: t[0]).astype("int32"),
                    "height": pooled.map(lambda t: t[1]).astype("int32"),
                    "pixels": pooled.map(lambda t: t[2]),
                }
            )

    return df.mapInPandas(batches, schema)


def sample_frames(
    df: DataFrame, frame_bytes: int = 32, stride: int = 4, id_col: str = "doc_id"
) -> DataFrame:
    """Frame sampling for video-shaped payloads: the payload is a
    concatenation of fixed-size frames; emit every ``stride``-th frame as
    its OWN ROW (1→N mapInPandas — the generator/UnnestExec batch shape).
    Deterministic: frame_idx and an md5 per frame."""
    schema = f"{id_col} long, frame_idx int, frame_md5 string, n_bytes int"

    def batches(it: Iterator) -> Iterator:
        import arrow_datafusion_spark.worker  # noqa: F401  (zip shim)
        import hashlib

        import pandas as pd

        for pdf in it:
            ids, idxs, digests, sizes = [], [], [], []
            for _, row in pdf.iterrows():
                raw = bytes(row["payload"])
                n_frames = max(1, -(-len(raw) // frame_bytes))
                for i in range(0, n_frames, stride):
                    chunk = raw[i * frame_bytes : (i + 1) * frame_bytes]
                    ids.append(row[id_col])
                    idxs.append(i)
                    digests.append(hashlib.md5(chunk).hexdigest())
                    sizes.append(len(chunk))
            yield pd.DataFrame(
                {
                    id_col: pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "frame_md5": digests,
                    "n_bytes": pd.Series(sizes, dtype="int32"),
                }
            )

    return df.mapInPandas(batches, schema)
