"""SparkSession factory with the engine's scale-oriented defaults.

Mirrors of the reference's singleton init (model/lexicon loaded once per
JVM, /root/reference/src/main/java/org/grobid/core/engines/AstroParser.java:67-81)
live on the Spark side as: AQE on (skewed Arrow batches from giant docs),
arrow execution on, capped records-per-batch (bounds UDF memory on skew
docs), and shuffle partitions sized to cores — not the 200 default.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession

# kernel sweet spot: unique-token amortization grows with batch size until
# ~8k docs, where the factorized tables fall out of cache (measured
# 1024..16384).
ARROW_BATCH_ROWS = 4096

# the engine's runtime settings, declared once: build_session and the
# spark-submit entry (scripts/submit_extract.py) both set them. AQE, Arrow
# execution with capped records per batch, UTC session time.
ENGINE_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": str(ARROW_BATCH_ROWS),
    "spark.sql.session.timeZone": "UTC",
}


def build_session(
    app_name: str = "astrospark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """``SPARK_GRAFT_CPUS`` sets the local width; unset, it is the CPUs this
    process may run on."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config(map=ENGINE_CONF)
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("ASTROSPARK_DRIVER_MEM", "16g"))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


@contextmanager
def utc_scope(spark: SparkSession):
    """Pin ``spark.sql.session.timeZone = UTC`` for the duration of a
    plan-building block, then restore the caller's setting (the same
    set-and-restore shape as footer_stats' conf handling,
    ops/layout.py).

    Why: the events table stores TIMESTAMP_NTZ, and every
    ``cast(ts as timestamp)`` / ``unix_timestamp(ts)`` interprets the
    wall-clock value in the SESSION time zone. A constant offset
    cancels inside frame bounds and differences, but a DST-transitioning
    zone makes the wall→epoch map non-linear: two events 24.5 wall-hours
    apart straddling a spring-forward compress to a 23.5h epoch gap and
    a trailing-24h RANGE frame flips (diverging from the DuckDB oracle's
    naive epoch_us). Pinning UTC makes unix_micros ≡ epoch_us exactly,
    for ANY caller session TZ.

    Scoping is sound because PySpark analyzes plans EAGERLY at each
    transformation (Spark's ResolveTimeZone fills the expression's
    timeZoneId from the session conf at analysis time and never
    overwrites a resolved one), so DataFrames built inside the block
    keep UTC semantics after the conf is restored — asserted by
    tests/test_range_skew.py's DST regression.
    """
    key = "spark.sql.session.timeZone"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "UTC")
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
