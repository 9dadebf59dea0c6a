"""Physical-plan regression tests: pin the scale-critical plan properties
(SURVEY.md §4 / PLANS.md) so a refactor can't silently reintroduce a
shuffle, lose a broadcast, or un-push a filter.

Assertions run on the optimizer's output (explain string) — no data needs
to move, so these are cheap."""

import io
from contextlib import redirect_stdout

import pytest

SF_DIR = "/root/testdata/sf0.001"


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


@pytest.fixture(scope="module")
def queries():
    import __spark_entry__ as E

    return E.queries()


def test_extraction_single_exchange_single_udf(spark, artifacts):
    """Flagship plan: one repartition Exchange on doc_id, ONE MapInPandas,
    nothing else wide (north_rule: one narrow Arrow-UDF stage)."""
    from astrospark.engine.extraction import broadcast_artifacts, extract_spans
    from astrospark.fixtures import docs_dataframe

    bcast = broadcast_artifacts(spark, artifacts)
    plan = plan_of(extract_spans(docs_dataframe(spark, 10, seed=1, skew_every=0), bcast))
    # "Name (" matches the tree node once; "(n) Name" detail blocks don't
    assert plan.count("MapInPandas (") == 1
    # exactly the explicit repartition; no join/agg/sort exchanges
    assert plan.count("Exchange (") == 1
    for bad in ("SortMergeJoin", "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert bad not in plan


def test_contract_extraction_is_one_path(spark, queries):
    """The contract's interleaved extraction, skew docs included, takes the
    same single path: one Exchange, one MapInPandas, no Window re-rank and
    no Union of a second scan."""
    plan = plan_of(queries["extract_interleaved"](spark, SF_DIR))
    assert plan.count("MapInPandas (") == 1
    assert plan.count("Exchange (") == 1
    for bad in ("Window", "Union"):
        assert bad not in plan


def test_extraction_scan_prunes_columns(spark, artifacts):
    from astrospark.engine.extraction import broadcast_artifacts, extract_spans
    from astrospark.io.sources import documents_to_docs, read_docs

    bcast = broadcast_artifacts(spark, artifacts)
    docs = documents_to_docs(read_docs(spark, f"{SF_DIR}/documents.parquet"))
    plan = plan_of(extract_spans(docs, bcast))
    # of the documents table's 6 columns only doc_id+text are read
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan


def test_r1_filter_pushed_to_scan(spark, queries):
    plan = plan_of(queries["r1_pricing_summary"](spark, SF_DIR))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    assert "HashAggregate" in plan


def test_broadcast_joins(spark, queries):
    for name in ("r2_segment_revenue", "j1_dict_semijoin"):
        plan = plan_of(queries[name](spark, SF_DIR))
        assert "BroadcastHashJoin" in plan, name
        assert "SortMergeJoin" not in plan, name


def test_semi_join_shape(spark, queries):
    plan = plan_of(queries["r3_priority_with_lineitems"](spark, SF_DIR))
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_no_cross_products_in_pair_generators(spark, queries):
    """Candidate generation must never plan a cross join: minhash/jaccard
    pairs come from posting-list expansion, embedding pairs from the
    bucket equi-join. (The 1-row query-vector broadcast in ann_cosine_topk
    is the one legitimate BroadcastNestedLoopJoin and is excluded.)"""
    for name in ("dedup_minhash_lsh", "dedup_ngram_jaccard", "emb_neardup_pairs"):
        plan = plan_of(queries[name](spark, SF_DIR))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_aggregations_have_partial_phase(spark, queries):
    """Map-side combine before the exchange (partial_ functions present)."""
    plan = plan_of(queries["a4_source_stats"](spark, SF_DIR), mode="extended")
    assert "partial_count" in plan or "partial_sum" in plan


def test_runtime_bloom_filter_join_injection(spark):
    """Runtime row-level filtering at scale: when a large shuffle join
    has a selective build side, Catalyst injects a bloom filter —
    bloom_filter_agg on the dim side, might_contain pre-filtering the
    fact scan BEFORE the shuffle — so most fact rows never cross the
    exchange. Thresholds are tuned to test data size; the feature is on
    by default in the library session (spark.sql.optimizer.runtime.
    bloomFilter.enabled), so at production scale this fires without
    code changes."""
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.01"
    tuned = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    saved = {}
    for key, val in tuned.items():
        try:
            saved[key] = spark.conf.get(key)
        except Exception:
            saved[key] = None
        spark.conf.set(key, val)
    try:
        li = spark.read.parquet(f"{sf}/lineitem.parquet")
        urgent = spark.read.parquet(f"{sf}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        joined = li.join(urgent, li.l_orderkey == urgent.o_orderkey).select(
            "l_orderkey", "o_totalprice"
        )
        assert joined.count() > 0
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan, plan[:600]
        assert "might_contain" in plan, plan[:600]
    finally:
        for key, val in saved.items():
            if val is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, val)
