"""Multi-dimensional data layout: z-order (Morton) interleaving for
min/max data skipping.

At 100 TB the fastest scan is the one that never reads the file:
parquet footers carry per-column min/max, and engines prune row groups
whose range misses the predicate. A single sort column makes that
pruning perfect on ONE dimension and useless on every other; bit
interleaving two quantized dimensions into one sort key (the z-order /
Morton curve — what Delta's and Iceberg's OPTIMIZE ZORDER BY write)
makes files cover small RECTANGLES of the (a, b) space, so min/max
pruning works on BOTH dimensions at once. tests/test_layout_zorder.py
measures it: against a two-dimensional range predicate, z-ordered files
are prunable where single-column-sorted files are not.

Everything is integer bit arithmetic (shift/and/or), so the key — and
the contract row's coarse-cell rollup — replays bit-for-bit in DuckDB;
the whole computation is JVM-side codegen, no UDF anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

ZORDER_BITS = 16  # per-dimension; the interleaved key fits in 32 bits
ZORDER_CELL_SHIFT = 24  # contract rollup: top 8 bits -> <=256 cells
PRICE_BUCKET = 100  # dollars-per-bucket quantization for l_extendedprice


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def zorder_key(a, b, bits: int = ZORDER_BITS) -> F.Column:
    """Interleave the low ``bits`` of two non-negative ints: bit i of
    ``a`` lands at position 2i+1, bit i of ``b`` at 2i. Pure
    shift/and/or column expression — whole-stage codegen, and the exact
    same arithmetic replays in any SQL engine (see zorder_key_sql)."""
    a, b = F.col(a) if isinstance(a, str) else a, F.col(b) if isinstance(b, str) else b
    key = F.lit(0).cast("long")
    for i in range(bits):
        key = key.bitwiseOR(
            F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        ).bitwiseOR(F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), 2 * i))
    return key


def zorder_key_sql(a: str, b: str, bits: int = ZORDER_BITS) -> str:
    """The identical interleave as portable SQL (DuckDB oracle twin of
    zorder_key — same shift/and/or terms, OR-folded)."""
    terms = []
    for i in range(bits):
        terms.append(f"((({a} >> {i}) & 1) << {2 * i + 1})")
        terms.append(f"((({b} >> {i}) & 1) << {2 * i})")
    return "(" + " | ".join(terms) + ")"


def _lineitem_dims(spark, sf_dir) -> DataFrame:
    """The two query dimensions of the demo workload: part key and
    price bucket — 'which files hold part P at price around V'. Each
    dim is min-max scaled to the FULL bits-wide domain (integer
    arithmetic over a broadcast 1-row stats frame): unequal effective
    bit widths are the classic z-order pitfall — the wider dimension's
    high bits dominate the key and the curve degenerates to a single
    sort (measured: part spanning 8 bits against price's 11 gave ZERO
    part-side pruning before scaling)."""
    cap = (1 << ZORDER_BITS) - 1
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.col("l_partkey").cast("long").alias("raw_part"),
        F.floor(F.col("l_extendedprice") / PRICE_BUCKET).cast("long").alias("raw_price"),
    )
    stats = li.agg(
        F.min("raw_part").alias("mn_a"),
        F.max("raw_part").alias("mx_a"),
        F.min("raw_price").alias("mn_b"),
        F.max("raw_price").alias("mx_b"),
    )

    def scaled(col, mn, mx):
        span = F.greatest(F.col(mx) - F.col(mn), F.lit(1))
        return F.floor((F.col(col) - F.col(mn)) * cap / span).cast("long")

    return li.join(F.broadcast(stats)).select(
        "l_orderkey",
        scaled("raw_part", "mn_a", "mx_a").alias("d_part"),
        scaled("raw_price", "mn_b", "mx_b").alias("d_price"),
    )


def zorder_cells(spark, sf_dir) -> DataFrame:
    """Contract row: the coarse z-cell rollup of lineitem's
    (part, price-bucket) space — per 8-bit-prefix cell, the row count
    and each dimension's min/max. This IS the file-level metadata a
    z-ordered write would produce (one cell ~ one file's footer stats),
    so the row proves the key computation and the rectangles it induces
    are cross-engine exact."""
    dims = _lineitem_dims(spark, sf_dir)
    key = zorder_key("d_part", "d_price")
    return (
        dims.withColumn("zcell", F.shiftright(key, ZORDER_CELL_SHIFT).cast("int"))
        .groupBy("zcell")
        .agg(
            F.count("*").cast("int").alias("n_rows"),
            F.min("d_part").alias("min_part"),
            F.max("d_part").alias("max_part"),
            F.min("d_price").alias("min_price"),
            F.max("d_price").alias("max_price"),
        )
    )


def zorder_cells_sql() -> str:
    """DuckDB oracle for zorder_cells (identical integer min-max
    scaling + interleave; IEEE double division of exactly-representable
    ints floors identically in both engines)."""
    cap = (1 << ZORDER_BITS) - 1
    zk = zorder_key_sql("d_part", "d_price")
    return (
        "WITH raw AS (SELECT CAST(l_partkey AS BIGINT) AS raw_part, "
        f"CAST(floor(l_extendedprice / {PRICE_BUCKET}) AS BIGINT) AS raw_price "
        "FROM lineitem), "
        "s AS (SELECT min(raw_part) AS mn_a, max(raw_part) AS mx_a, "
        "min(raw_price) AS mn_b, max(raw_price) AS mx_b FROM raw), "
        "dims AS (SELECT "
        f"CAST(floor((raw_part - mn_a) * {cap} / greatest(mx_a - mn_a, 1)) AS BIGINT) AS d_part, "
        f"CAST(floor((raw_price - mn_b) * {cap} / greatest(mx_b - mn_b, 1)) AS BIGINT) AS d_price "
        "FROM raw CROSS JOIN s) "
        f"SELECT CAST({zk} >> {ZORDER_CELL_SHIFT} AS INT) AS zcell, "
        "CAST(count(*) AS INT) AS n_rows, "
        "min(d_part) AS min_part, max(d_part) AS max_part, "
        "min(d_price) AS min_price, max(d_price) AS max_price "
        "FROM dims GROUP BY zcell"
    )


def footer_stats(spark: SparkSession, path: str, col: str) -> dict:
    """count/min/max of a parquet column answered from FOOTER METADATA,
    no row scan: Spark's DSv2 parquet reader pushes whole-table
    COUNT/MIN/MAX into the scan (``PushedAggregation`` in the plan) and
    assembles the answer from each file's row count and column
    statistics — the 100 TB "how big is this table / what date range
    does it cover" query in O(files) footer reads instead of O(rows).

    The two enabling confs are flipped only for the duration of the
    call and restored after (aggregate pushdown lives on the v2 read
    path, and the library session keeps parquet on the default v1 path
    everywhere else); the aggregation executes eagerly inside the
    flipped window so the captured plan is the one that ran. Returns
    ``{"n", "min", "max", "pushed"}`` — ``pushed`` is read off the
    EXECUTED plan, so callers (and tests/test_layout_zorder.py) can
    assert the metadata-only path actually served the query. Pushdown
    requires no data filter and a non-nested column; with either
    present Spark silently falls back to a row scan, which this flag
    surfaces. Timestamp columns are one such fallback (Spark excludes
    them from footer MIN/MAX — int96-era stats are untrustworthy);
    numeric/string/date columns push.
    """
    prev = {
        k: spark.conf.get(k, None)
        for k in ("spark.sql.sources.useV1SourceList", "spark.sql.parquet.aggregatePushdown")
    }
    try:
        spark.conf.set("spark.sql.sources.useV1SourceList", "")
        spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
        agg = spark.read.parquet(path).agg(
            F.count("*").alias("n"),
            F.min(col).alias("mn"),
            F.max(col).alias("mx"),
        )
        row = agg.collect()[0]
        plan = agg._jdf.queryExecution().executedPlan().toString()
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    return {
        "n": row["n"],
        "min": row["mn"],
        "max": row["mx"],
        "pushed": "PushedAggregation: [" in plan and "COUNT(*)" in plan,
    }


def assign_contiguous_ids(
    df: DataFrame, order_col: str, n_parts: int | None = None
) -> DataFrame:
    """Contiguous 0..N-1 ids in ``order_col`` order WITHOUT the global
    single-partition sort — the example-numbering primitive every
    training-data pipeline needs (stable sample ids, shard manifests),
    where the naive ``row_number() OVER (ORDER BY ...)`` plans an
    Exchange SinglePartition and funnels 100 TB through one task.

    Three bounded steps instead: (1) range-repartition + local sort on
    the order column (the partition INDEX is then ordinal in range
    order); (2) per-partition row counts — n_parts rows to the driver,
    bounded metadata like the checkpoint commit reads, never data —
    prefix-summed into per-partition offsets; (3) broadcast the offset
    table back and add it to the per-partition local row_number. The
    local window partitions by the range-partition id, so its exchange
    moves each partition as a unit and parallelism is preserved;
    nothing ever serializes through one task. The result equals the
    global rank by ``order_col`` regardless of where the range sampler
    places boundaries (unique order keys make rank boundary-
    independent), which is what lets a DuckDB row_number() oracle
    value-check it. Returns the input columns plus ``seq`` (long).
    """
    spark = df.sparkSession
    if n_parts is None:
        n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    from astrospark.ops.caching import scoped_persist

    ranged = scoped_persist(
        df.repartitionByRange(n_parts, order_col)
        .sortWithinPartitions(order_col)
        .withColumn("_pid", F.spark_partition_id())
    )
    counts = sorted(
        (r["_pid"], r["n"])
        for r in ranged.groupBy("_pid").agg(F.count("*").alias("n")).collect()
    )
    offsets, acc = [], 0
    for pid, n in counts:
        offsets.append((pid, acc))
        acc += n
    odf = spark.createDataFrame(offsets, "_pid int, _offset long")
    local = (
        F.row_number().over(Window.partitionBy("_pid").orderBy(order_col)) - 1
    )
    return (
        ranged.withColumn("_local", local.cast("long"))
        .join(F.broadcast(odf), "_pid")
        .withColumn("seq", F.col("_local") + F.col("_offset"))
        .drop("_pid", "_local", "_offset")
    )


def contiguous_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract row: contiguous ids over documents in doc_id order —
    equals row_number() OVER (ORDER BY doc_id) - 1 but computed with
    assign_contiguous_ids' bounded three-step plan (no Exchange
    SinglePartition anywhere; plan-pinned)."""
    d = _t(spark, sf_dir, "documents").select("doc_id")
    return assign_contiguous_ids(d, "doc_id").select("doc_id", "seq")
