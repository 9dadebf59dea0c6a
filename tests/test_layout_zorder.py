"""Z-order layout: scalar interleave replay, cross-engine cell rollup,
and the measured data-skipping claim — z-ordered files are min/max
prunable on BOTH query dimensions, single-column-sorted files only on
their sort dimension (the curve's worst single-dim overlap must beat
the single sort's)."""

import glob
import io
from contextlib import redirect_stdout

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"
N_FILES = 16


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


def _interleave(a: int, b: int, bits: int = 16) -> int:
    key = 0
    for i in range(bits):
        key |= ((a >> i) & 1) << (2 * i + 1)
        key |= ((b >> i) & 1) << (2 * i)
    return key


def test_zorder_key_scalar_replay(spark):
    from astrospark.ops.layout import zorder_key

    pairs = [(0, 0), (1, 0), (0, 1), (3, 5), (255, 1), (65535, 65535), (43690, 21845)]
    df = spark.createDataFrame(pairs, "a long, b long").withColumn(
        "zk", zorder_key("a", "b")
    )
    for r in df.collect():
        assert r.zk == _interleave(r.a, r.b), (r.a, r.b)
    # locality sanity: adjacent points differ in few low bits
    assert _interleave(65535, 65535) == (1 << 32) - 1


def test_zorder_cells_cross_engine(spark):
    """The contract row's twin, asserted locally too: identical scaled
    dims + interleave + rollup in DuckDB."""
    import duckdb

    from astrospark.ops.layout import zorder_cells, zorder_cells_sql

    got = sorted(map(tuple, zorder_cells(spark, SF).collect()))
    con = duckdb.connect()
    con.sql(f"CREATE VIEW lineitem AS SELECT * FROM '{SF}/lineitem.parquet'")
    want = sorted(con.sql(zorder_cells_sql()).fetchall())
    assert got == want
    assert len(got) > 100  # the 8-bit cell space is well populated


def _write_sorted(df, path: str, key_col) -> None:
    """Range-partition by the key into N_FILES files and sort within
    each, so every file covers a contiguous key range (for a z-key, a
    rectangle of the dim space) — the write table-format OPTIMIZE
    ZORDER does."""
    (
        df.withColumn("_zk", key_col)
        .repartitionByRange(N_FILES, "_zk")
        .sortWithinPartitions("_zk")
        .drop("_zk")
        .write.mode("overwrite")
        .parquet(path)
    )


def test_zorder_layout_prunes_both_dims(spark, tmp_path):
    """The skipping measurement. Write the same rows twice — z-ordered
    and part-sorted — into N_FILES files each; count files whose
    min/max box overlaps a central 20%-quantile range predicate on each
    dimension separately. The single sort prunes (near-)perfectly on
    its own dimension and not at all on the other; z-order prunes
    meaningfully on BOTH, so its worst single-dimension overlap is
    strictly better than the single sort's."""
    from astrospark.ops.layout import _lineitem_dims, zorder_key

    dims = _lineitem_dims(spark, SF).cache()
    try:
        z_path = str(tmp_path / "z")
        p_path = str(tmp_path / "p")
        _write_sorted(dims, z_path, zorder_key("d_part", "d_price"))
        _write_sorted(dims, p_path, F.col("d_part"))

        def file_boxes(path):
            boxes = []
            for f in sorted(glob.glob(path + "/part-*.parquet")):
                r = (
                    spark.read.parquet(f)
                    .agg(
                        F.min("d_part"),
                        F.max("d_part"),
                        F.min("d_price"),
                        F.max("d_price"),
                    )
                    .collect()[0]
                )
                boxes.append(tuple(r))
            return boxes

        def overlap(boxes, lo, hi, dim):
            i0, i1 = (0, 1) if dim == 0 else (2, 3)
            return sum(1 for b in boxes if not (b[i1] < lo or b[i0] > hi))

        zb, pb = file_boxes(z_path), file_boxes(p_path)
        assert len(zb) == len(pb) == N_FILES
        (p40, p60), (v40, v60) = dims.approxQuantile(
            ["d_part", "d_price"], [0.4, 0.6], 0.0
        )

        z_worst = max(
            overlap(zb, p40, p60, 0), overlap(zb, v40, v60, 1)
        )
        p_on_part = overlap(pb, p40, p60, 0)
        p_on_price = overlap(pb, v40, v60, 1)
        # the sort dimension prunes hard; the other doesn't prune at all
        assert p_on_part <= 6
        assert p_on_price >= N_FILES - 2
        # z-order's worst dimension still prunes (measured 9-11/16)
        assert z_worst <= 13
        assert z_worst < p_on_price
    finally:
        dims.unpersist()


def test_footer_stats_pushed_and_exact(spark):
    """count/min/max served from parquet footers (PushedAggregation on
    the executed plan) must equal the row-scan answer, and the conf
    flip must not leak: the session's parquet path stays v1 after."""
    from astrospark.ops.layout import footer_stats

    path = f"{SF}/lineitem.parquet"
    got = footer_stats(spark, path, "l_quantity")
    assert got["pushed"], "metadata-only path did not serve the aggregate"

    scan = (
        spark.read.parquet(path)
        .agg(
            F.count("*").alias("n"),
            F.min("l_quantity").alias("mn"),
            F.max("l_quantity").alias("mx"),
        )
        .collect()[0]
    )

    # the documented fallback: timestamp MIN/MAX is excluded from
    # footer stats — the flag must surface the silent row-scan.
    assert not footer_stats(spark, path, "l_shipdate")["pushed"]
    assert (got["n"], got["min"], got["max"]) == (scan["n"], scan["mn"], scan["mx"])

    # conf restored: the ordinary read path is v1 FileScan again, and
    # no PushedAggregation appears without the flip.
    plain = spark.read.parquet(path).agg(F.count("*").alias("n"))
    plan = plain._jdf.queryExecution().executedPlan().toString()
    assert "FileScan parquet" in plan and "PushedAggregation" not in plan


def test_contiguous_ids_exact_and_invariant(spark, tmp_path):
    """seq equals the global rank by doc_id for any partition count
    (including empty range partitions), and for any physical input
    layout — the boundary-independence claim."""
    from astrospark.ops.layout import assign_contiguous_ids

    d = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id")
    ids = sorted(r.doc_id for r in d.collect())
    expected = sorted((doc, i) for i, doc in enumerate(ids))

    for n_parts in (4, 64):
        got = sorted(
            (r.doc_id, r.seq)
            for r in assign_contiguous_ids(d, "doc_id", n_parts).collect()
        )
        assert got == expected, n_parts

    # physical reshard of the input must not change a single id
    d.repartition(7).write.parquet(str(tmp_path / "documents.parquet"))
    d7 = spark.read.parquet(str(tmp_path / "documents.parquet"))
    got = sorted(
        (r.doc_id, r.seq) for r in assign_contiguous_ids(d7, "doc_id").collect()
    )
    assert got == expected


def test_contiguous_ids_no_single_partition_plan(spark):
    """The point of the op: NO Exchange SinglePartition anywhere (the
    naive global row_number funnels everything through one task); the
    order is established by rangepartitioning and the offset table
    joins via broadcast."""
    from astrospark.ops.layout import contiguous_ids

    plan = _plan(contiguous_ids(spark, SF))
    assert "SinglePartition" not in plan
    assert "rangepartitioning" in plan
    assert "BroadcastHashJoin" in plan
