"""Multimodal (image/audio/video) column plumbing.

Media content is carried as opaque ``binary`` columns with typed metadata —
the pattern for interleaved text+media corpora at scale: the docs table
holds only ``media_ref`` anchors (kept in span order by the extraction
engine); heavy bytes live in a separate media table joined by ref when a
stage actually needs them.

The decode step is STUBBED by design: the real decoders (PIL / libav /
librosa) are not in this environment, so ``decode_media`` dispatches to
them behind an import-try and otherwise raises NotImplementedError —
unless the payload is a synthetic fixture (header ``ASTF``) in which case
a deterministic fake decode parses the header. Everything Spark-side —
schema, Arrow batch shape, ``mapInPandas`` signature, partitioning — is
real and tested.
"""

from __future__ import annotations

import struct
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MEDIA_SCHEMA_DDL = (
    "media_ref string, media_type string, content binary, "
    "meta struct<width:int,height:int,duration_ms:int,codec:string>"
)

DECODED_SCHEMA_DDL = (
    "media_ref string, media_type string, width int, height int, "
    "n_frames int, mean_luma double"
)

_MAGIC = b"ASTF"


# ---------------------------------------------------------------------------
# fixture payloads (deterministic)
# ---------------------------------------------------------------------------


def make_fixture_payload(media_type: str, width: int, height: int, n_frames: int, seed: int) -> bytes:
    """Synthetic media blob: magic + packed header + seeded body bytes."""
    rng = np.random.default_rng(seed)
    body = rng.integers(0, 256, size=64, dtype=np.uint8).tobytes()
    head = _MAGIC + struct.pack("<3i", width, height, n_frames)
    return head + body


def media_table(spark: SparkSession, n: int = 50, seed: int = 13) -> DataFrame:
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        mt = ("image", "audio", "video")[int(rng.integers(0, 3))]
        w, h = int(rng.integers(16, 512)), int(rng.integers(16, 512))
        frames = 1 if mt == "image" else int(rng.integers(10, 300))
        rows.append(
            (
                f"{mt[:3]}://obj/{i:09d}",
                mt,
                make_fixture_payload(mt, w, h, frames, seed * 1000 + i),
                (w, h, frames * 33, "fix"),
            )
        )
    return spark.createDataFrame(rows, MEDIA_SCHEMA_DDL)


# ---------------------------------------------------------------------------
# decode / featurize kernels (Arrow-batched)
# ---------------------------------------------------------------------------


def _decode_one(media_type: str, content: bytes):
    if content[:4] == _MAGIC:
        w, h, frames = struct.unpack("<3i", content[4:16])
        # deterministic fake luma from the body bytes; a header-only
        # payload (exactly 16 bytes — routed here because the batch path
        # requires len>16) has mean_luma DEFINED as 0.0, the one contract
        # both decode paths share (ADVICE r2: body.mean() of an empty
        # array is NaN + RuntimeWarning otherwise)
        body = np.frombuffer(content[16:], dtype=np.uint8)
        return w, h, frames, (float(body.mean()) / 255.0 if body.size else 0.0)
    # real path — decoders not available in this container
    try:  # pragma: no cover - exercised only where PIL exists
        if media_type == "image":
            import io

            from PIL import Image  # noqa: F401

            img = Image.open(io.BytesIO(content))
            arr = np.asarray(img.convert("L"), dtype=np.float64)
            return img.width, img.height, 1, float(arr.mean()) / 255.0
    except ImportError:
        pass
    raise NotImplementedError(
        f"no decoder available for media_type={media_type!r} payload"
    )


def _decode_fixture_batch(contents: list):
    """Vectorized ASTF decode for a whole Arrow batch: all headers parsed
    via ONE (n,16) numpy byte view, all body means via ONE reduceat over
    the concatenated bodies — no per-row struct.unpack / .mean() calls.

    Bit-identical to the scalar ``_decode_one``: body bytes are integers,
    so their float64 sums are exact regardless of summation order, and the
    final (sum/len)/255.0 matches the scalar mean()/255.0 exactly.
    """
    heads = np.frombuffer(
        b"".join(c[:16] for c in contents), dtype=np.uint8
    ).reshape(-1, 16)
    whf = np.ascontiguousarray(heads[:, 4:16]).view("<i4")  # (n, 3)
    bodies = [c[16:] for c in contents]
    lens = np.fromiter((len(b) for b in bodies), dtype=np.int64, count=len(bodies))
    cat = np.frombuffer(b"".join(bodies), dtype=np.uint8).astype(np.int64)
    starts = np.zeros(len(bodies), dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    sums = np.add.reduceat(cat, starts)
    means = (sums / lens) / 255.0
    return whf[:, 0], whf[:, 1], whf[:, 2], means


def decode_media(media: DataFrame) -> DataFrame:
    """binary content → typed decode record (mapInPandas, Arrow-batched).

    Fixture (``ASTF``) payloads — the only kind this container can decode —
    take the fully vectorized batch path; anything else falls back to the
    per-item real-codec dispatch (inherently per-item: each blob is an
    independent compressed stream)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            contents = [bytes(c) for c in pdf["content"]]
            is_fix = np.array(
                [c[:4] == _MAGIC and len(c) > 16 for c in contents], dtype=bool
            )
            n = len(contents)
            w = np.zeros(n, dtype=np.int64)
            h = np.zeros(n, dtype=np.int64)
            nf = np.zeros(n, dtype=np.int64)
            luma = np.zeros(n, dtype=np.float64)
            if is_fix.any():
                fi = np.flatnonzero(is_fix)
                fw, fh, fnf, fl = _decode_fixture_batch([contents[i] for i in fi])
                w[fi], h[fi], nf[fi], luma[fi] = fw, fh, fnf, fl
            for i in np.flatnonzero(~is_fix):
                w[i], h[i], nf[i], luma[i] = _decode_one(
                    pdf["media_type"].iloc[i], contents[i]
                )
            yield pd.DataFrame(
                {
                    "media_ref": pdf["media_ref"].to_numpy(),
                    "media_type": pdf["media_type"].to_numpy(),
                    "width": w,
                    "height": h,
                    "n_frames": nf,
                    "mean_luma": luma,
                }
            )

    return media.mapInPandas(fn, schema=DECODED_SCHEMA_DDL)


def resize_plan(media: DataFrame, max_side: int = 224) -> DataFrame:
    """Pure-plan resize: computes target dims JVM-side (no UDF) — the
    actual pixel work would happen in the decode kernel at the new dims.
    floor (not round) so the arithmetic is identical across engines
    (round-half ties differ between Spark and DuckDB)."""
    w = F.col("meta.width")
    h = F.col("meta.height")
    scale = F.least(F.lit(max_side) / w, F.lit(max_side) / h, F.lit(1.0))
    return media.select(
        "media_ref",
        "media_type",
        F.floor(w * scale).cast("int").alias("target_w"),
        F.floor(h * scale).cast("int").alias("target_h"),
    )


def frame_sample_plan(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Frame-sampling plan for video/audio: one row per sampled timestamp
    (sequence + explode, JVM-side)."""
    dur = F.col("meta.duration_ms")
    ts = F.sequence(F.lit(0), dur - 1, F.lit(every_ms))
    return (
        media.filter(F.col("media_type") != "image")
        .select("media_ref", F.explode(ts).alias("sample_ms"))
    )


# ---------------------------------------------------------------------------
# driver-contract queries over a documents-derived deterministic sidecar
# ---------------------------------------------------------------------------

RESIZE_MAX_SIDE = 224
FRAME_EVERY_MS = 1000


def media_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic media-metadata sidecar derived from the documents
    table (the fixture stand-in for the real media table at this SF —
    BASELINE.md: no external data; the DuckDB oracle replays the same
    arithmetic)."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    mt = (
        F.when(F.col("n_chars") % 3 == 0, "image")
        .when(F.col("n_chars") % 3 == 1, "audio")
        .otherwise("video")
    )
    return d.select(
        F.concat(F.lit("med://"), F.col("doc_id")).alias("media_ref"),
        mt.alias("media_type"),
        F.struct(
            (F.col("n_chars") % 497 + 16).cast("int").alias("width"),
            (F.col("n_chars") % 311 + 16).cast("int").alias("height"),
            (F.col("n_chars") % 9000 + 500).cast("int").alias("duration_ms"),
            F.lit("fix").alias("codec"),
        ).alias("meta"),
    )


def m_resize_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize planning over the media sidecar — pure JVM plan, no UDF."""
    return resize_plan(media_dims(spark, sf_dir), max_side=RESIZE_MAX_SIDE)


def m_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame/sample timestamps for non-image media (sequence + explode)."""
    out = frame_sample_plan(media_dims(spark, sf_dir), every_ms=FRAME_EVERY_MS)
    return out.select("media_ref", F.col("sample_ms").cast("int").alias("sample_ms"))


def m_decode_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched decode kernel over the synthetic media table.

    VALUE-checked in the driver contract: binary payload parsing is not
    SQL-expressible, so the oracle is a golden parquet of the expected
    decode records computed by the same deterministic pure-Python path
    (frozen by scripts/regen_golden.py; determinism also pinned by
    tests/test_multimodal.py)."""
    dec = decode_media(media_table(spark, n=200, seed=13))
    return dec.withColumn("mean_luma", F.round("mean_luma", 4))
