"""Product-quantization tests: a full scalar (pure-Python integer)
replay of codebook training + encoding + ADC scoring pins the values
independently of both engines; plan guards pin the broadcast/TakeOrdered
shape that makes PQ the compressed scale path.

The scalar replays run at the ORACLE pin (PQ_ORACLE_M=4 × PQ_ORACLE_K=16
— the parameterization the driver contract value-checks); the library
DEFAULT (PQ_M=16 × PQ_K=256, the production codebook whose retrieval
quality BENCH/RECALL.md measures) is shape-checked separately below."""

import io
import math
from contextlib import redirect_stdout

SF = "/root/testdata/sf0.001"


def _scalar_pq(vecs, m, k):
    """Replay pq_codebooks/pq_codes/ann_pq_topk semantics in plain
    Python: floor-quantize, per-subspace Lloyd with integer squared-L2
    + code-asc tie-break, floor(avg) updates, ADC table scoring."""
    from astrospark.ops.similarity import PQ_ITERS, QUANT_SCALE, TOP_K

    dim = len(next(iter(vecs.values())))
    sub = dim // m
    q = {
        vid: [math.floor(float(x) * QUANT_SCALE) for x in v]
        for vid, v in vecs.items()
    }
    sv = {
        (vid, mi): qv[mi * sub : (mi + 1) * sub]
        for vid, qv in q.items()
        for mi in range(m)
    }

    def d2(a, b):
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    cb = {(mi, c): sv[(c, mi)] for c in range(1, k + 1) for mi in range(m)}
    for _ in range(PQ_ITERS):
        members = {}
        for (vid, mi), s in sv.items():
            best = min(
                (d2(s, cb[(mi, c)]), c) for c in range(1, k + 1)
            )
            members.setdefault((mi, best[1]), []).append(s)
        for key, ms in members.items():
            n = len(ms)
            cb[key] = [
                math.floor(sum(s[i] for s in ms) / n) for i in range(sub)
            ]
    codes = {
        (vid, mi): min((d2(s, cb[(mi, c)]), c) for c in range(1, k + 1))[1]
        for (vid, mi), s in sv.items()
    }
    table = {
        (mi, c): d2(sv[(0, mi)], cb[(mi, c)])
        for mi in range(m)
        for c in range(1, k + 1)
    }
    adist = {
        vid: sum(table[(mi, codes[(vid, mi)])] for mi in range(m))
        for vid in vecs
        if vid != 0
    }
    topk = sorted(adist.items(), key=lambda kv: (kv[1], kv[0]))[:TOP_K]
    return codes, topk


def _load_vecs(spark):
    rows = spark.read.parquet(f"{SF}/embeddings.parquet").collect()
    return {r.vec_id: r.embedding for r in rows}


def test_pq_codes_scalar_replay(spark):
    from astrospark.ops.similarity import PQ_ORACLE_K, PQ_ORACLE_M, pq_codes

    expected_codes, _ = _scalar_pq(_load_vecs(spark), PQ_ORACLE_M, PQ_ORACLE_K)
    got = {
        (r.vec_id, r.m): r.code
        for r in pq_codes(spark, SF, m=PQ_ORACLE_M, k=PQ_ORACLE_K).collect()
    }
    assert got == expected_codes
    assert all(1 <= c <= PQ_ORACLE_K for c in got.values())
    # exactly m codes per vector — the compressed representation
    per_vec = {}
    for vid, m in got:
        per_vec[vid] = per_vec.get(vid, 0) + 1
    assert set(per_vec.values()) == {PQ_ORACLE_M}


def test_ann_pq_topk_scalar_replay(spark):
    from astrospark.ops.similarity import PQ_ORACLE_K, PQ_ORACLE_M, ann_pq_topk

    _, expected_topk = _scalar_pq(_load_vecs(spark), PQ_ORACLE_M, PQ_ORACLE_K)
    got = [
        (r.vec_id, r.adist)
        for r in ann_pq_topk(spark, SF, m=PQ_ORACLE_M, k=PQ_ORACLE_K).collect()
    ]
    assert got == expected_topk


def test_pq_production_defaults_shape(spark):
    """The library DEFAULT codebook is the production parameterization
    (VERDICT r3 #3): 16 subspaces × 256 codewords. Shape-checked (the
    full scalar replay at K=256 is the contract pin's job at 4×16);
    retrieval quality at these knobs is measured by scripts/ann_recall.py
    → BENCH/RECALL.md §PQ."""
    from astrospark.ops.similarity import PQ_K, PQ_M, TOP_K, ann_pq_topk, pq_codes

    assert (PQ_M, PQ_K) == (16, 256)
    codes = pq_codes(spark, SF).collect()
    per_vec = {}
    for r in codes:
        assert 1 <= r.code <= PQ_K
        per_vec[r.vec_id] = per_vec.get(r.vec_id, 0) + 1
    assert set(per_vec.values()) == {PQ_M}
    # >1 distinct codeword actually used per subspace (training not
    # degenerate), and the ADC ranking is full-length and sorted
    by_m = {}
    for r in codes:
        by_m.setdefault(r.m, set()).add(r.code)
    assert all(len(cs) > 8 for cs in by_m.values())
    top = [(r.vec_id, r.adist) for r in ann_pq_topk(spark, SF).collect()]
    assert len(top) == TOP_K
    assert top == sorted(top, key=lambda t: (t[1], t[0]))


def test_pq_plan_shape(spark):
    """Codebooks and the ADC table ride broadcasts; the final ranking is
    a TakeOrdered, and nothing degenerates into a cross product."""
    from astrospark.ops.similarity import ann_pq_topk

    buf = io.StringIO()
    with redirect_stdout(buf):
        ann_pq_topk(spark, SF).explain(mode="formatted")
    plan = buf.getvalue()
    assert "BroadcastHashJoin" in plan
    assert "TakeOrdered" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ivfadc_is_adc_restricted_to_probed_cell(spark):
    """IVFADC == the scalar ADC ranking restricted to the query's
    coarse cell: candidates never leave the probed cell, and within it
    the order is exactly the PQ approximate distance (at the oracle
    pin, so the expected ranking is the scalar replay's)."""
    from astrospark.ops.similarity import (
        PQ_ORACLE_K,
        PQ_ORACLE_M,
        TOP_K,
        ann_ivfadc_topk,
        kmeans_cells,
    )

    cells = {
        r.vec_id: r.cell
        for r in kmeans_cells(spark, SF).filter("rnk = 1").collect()
    }
    q_cell = cells[0]

    from astrospark.ops.similarity import ann_pq_topk

    got = [
        (r.vec_id, r.adist)
        for r in ann_ivfadc_topk(spark, SF, m=PQ_ORACLE_M, k=PQ_ORACLE_K).collect()
    ]
    assert len(got) <= TOP_K
    assert all(cells[vid] == q_cell for vid, _ in got)
    # ranking agrees with the unrestricted ADC scorer wherever both rank:
    # any cell-mate the full ADC top-k ranks must appear in IVFADC's list
    # no later than its full-ADC position
    full = [
        (r.vec_id, r.adist)
        for r in ann_pq_topk(spark, SF, m=PQ_ORACLE_M, k=PQ_ORACLE_K).collect()
    ]
    full_cellmates = [(v, d) for v, d in full if cells[v] == q_cell]
    assert got[: len(full_cellmates)] == full_cellmates
    # distances ascend with vec_id tie-break
    assert got == sorted(got, key=lambda t: (t[1], t[0]))


def test_indexed_ivfadc_matches_in_query_and_prunes(spark, tmp_path):
    """build_ann_index + ann_ivfadc_topk_indexed must return the exact
    rows of the in-query ann_ivfadc_topk at the same knobs, and the
    probe's code scan must statically prune to the probed cells'
    partitions (the 100 TB IO story)."""
    from astrospark.ops.caching import release_caches
    from astrospark.ops.similarity import (
        PQ_ORACLE_K,
        PQ_ORACLE_M,
        ann_ivfadc_topk,
        ann_ivfadc_topk_indexed,
        build_ann_index,
    )

    sf = "/root/testdata/sf0.001"
    idx = str(tmp_path / "annidx")
    build_ann_index(spark, sf, idx, m=PQ_ORACLE_M, k=PQ_ORACLE_K)

    for q, nprobe in ((0, 1), (7, 2)):
        want = ann_ivfadc_topk(
            spark, sf, query_vec_id=q, nprobe=nprobe, m=PQ_ORACLE_M, k=PQ_ORACLE_K
        ).collect()
        got_df = ann_ivfadc_topk_indexed(
            spark, idx, sf, query_vec_id=q, nprobe=nprobe, m=PQ_ORACLE_M
        )
        assert [tuple(r) for r in got_df.collect()] == [tuple(r) for r in want]

    release_caches()
    # pruning evidence: the cell filter reaches the scan as a partition
    # filter (static pruning — no training, no corpus-wide file list)
    plan = got_df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan.split("PartitionFilters", 1)[1][:200]
    # and ZERO training in the query plan: the in-query variant's
    # Lloyd/encode argmins all run through row_number windows — the
    # indexed probe must have none
    assert "Window" not in plan and "row_number" not in plan


def test_index_probe_param_validation(spark, tmp_path):
    """ADVICE r4: a probe deeper than the index's stored coarse ranking
    (nprobe > build-time max_rank) or an m differing from the build-time
    PQ split must fail loudly — previously the deep probe silently
    scanned at most max_rank cells and the wrong m silently joined wrong
    codebooks. build_ann_index now persists meta.parquet and the indexed
    probe validates against it."""
    import pytest

    from astrospark.ops.caching import release_caches
    from astrospark.ops.similarity import (
        PQ_ORACLE_K,
        PQ_ORACLE_M,
        ann_ivfadc_topk_indexed,
        build_ann_index,
    )

    sf = "/root/testdata/sf0.001"
    idx = str(tmp_path / "annidx")
    build_ann_index(spark, sf, idx, m=PQ_ORACLE_M, k=PQ_ORACLE_K, max_rank=2)
    release_caches()

    meta = spark.read.parquet(f"{idx}/meta.parquet").collect()[0]
    assert (meta.max_rank, meta.m, meta.k) == (2, PQ_ORACLE_M, PQ_ORACLE_K)

    # in-range parameters pass and return rows
    ok = ann_ivfadc_topk_indexed(
        spark, idx, sf, query_vec_id=1, nprobe=2, m=PQ_ORACLE_M
    )
    assert ok.count() > 0

    with pytest.raises(ValueError, match="nprobe=3 exceeds"):
        ann_ivfadc_topk_indexed(spark, idx, sf, query_vec_id=1, nprobe=3, m=PQ_ORACLE_M)
    with pytest.raises(ValueError, match="does not match the index's build-time"):
        ann_ivfadc_topk_indexed(
            spark, idx, sf, query_vec_id=1, nprobe=1, m=PQ_ORACLE_M * 2
        )
