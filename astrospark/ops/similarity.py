"""Similarity search over the embeddings table (array<float> column).

Brute-force cosine top-k as the exact baseline (JVM-side arithmetic via
``aggregate``/``zip_with`` higher-order functions — no Python UDF), plus an
axis-sign LSH bucketing as the scale path: bucket key = sign pattern of the
first SIGN_DIMS components (deterministic, portable to the SQL oracle);
at 10^12 scale the bucket key becomes the shuffle/partition key so
candidate generation never goes all-pairs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

TOP_K = 10
SIGN_DIMS = 4
NEARDUP_COS = 0.35


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def _norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a, b):
    return _dot(a, b) / (_norm(a) * _norm(b))


def ann_cosine_topk(spark, sf_dir, query_vec_id: int = 0) -> DataFrame:
    """Exact top-k by cosine against the query vector (default vec_id=0,
    the oracle-contract query; any corpus vector can be probed)."""
    e = _emb(spark, sf_dir)
    q = e.filter(F.col("vec_id") == query_vec_id).select(F.col("embedding").alias("q_emb"))
    joined = e.filter(F.col("vec_id") != query_vec_id).crossJoin(F.broadcast(q))
    sims = joined.select(
        "vec_id",
        F.round(cosine(F.col("embedding").cast("array<double>"), F.col("q_emb").cast("array<double>")), 4).alias("cos_sim"),
    )
    return sims.orderBy(F.desc("cos_sim"), F.asc("vec_id")).limit(TOP_K)


def sign_bucket(col):
    """LSH bucket: concatenated sign bits of the first SIGN_DIMS dims.

    ORACLE-CONTRACT granularity (2^4 = 16 buckets). The scale default is
    the rp_* family below — 2^16-key md5-hyperplane signatures — because
    a 16-bucket key degenerates joins/scans to ~N/16 per bucket."""
    bits = [
        F.when(F.element_at(col, i + 1) >= 0, "1").otherwise("0")
        for i in range(SIGN_DIMS)
    ]
    return F.concat(*bits)


def ann_lsh_buckets(spark, sf_dir) -> DataFrame:
    """Bucket census for the sign-LSH index (the scale-path partitioner)."""
    e = _emb(spark, sf_dir)
    return (
        e.select(sign_bucket(F.col("embedding")).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").cast("int").alias("n_vecs"))
    )


def ann_lsh_topk(spark, sf_dir, query_vec_id: int = 0) -> DataFrame:
    """Approximate top-k: search only the query's sign bucket."""
    e = _emb(spark, sf_dir).withColumn("bucket", sign_bucket(F.col("embedding")))
    q = e.filter(F.col("vec_id") == query_vec_id).select(
        F.col("embedding").alias("q_emb"), F.col("bucket").alias("q_bucket")
    )
    cands = e.filter(F.col("vec_id") != query_vec_id).join(
        F.broadcast(q), F.col("bucket") == F.col("q_bucket")
    )
    sims = cands.select(
        "vec_id",
        F.round(cosine(F.col("embedding").cast("array<double>"), F.col("q_emb").cast("array<double>")), 4).alias("cos_sim"),
    )
    return sims.orderBy(F.desc("cos_sim"), F.asc("vec_id")).limit(TOP_K)


N_CENTROIDS = 8
QUANT_SCALE = 1000  # integer quantization step for cross-engine-exact keys


def quantize(col):
    """floor(x·QUANT_SCALE) per component → array<long>.

    The foundation of cross-engine-deterministic scoring (ADVICE r1): with
    small-integer components, dot products and squared norms are EXACT in
    float64 in ANY summation order (every partial sum ≪ 2^53), so Spark's
    fold and DuckDB's list_dot_product produce bit-identical values — the
    1-ulp accumulation-order drift that can flip a round()ed score simply
    cannot occur. floor (not round) because floor of a single IEEE multiply
    is deterministic everywhere, with no tie-rule to match.
    """
    return F.transform(col, lambda x: F.floor(x * QUANT_SCALE))


def ivf_cells(spark, sf_dir) -> DataFrame:
    """IVF coarse quantizer: assign every vector to its nearest centroid.

    Centroids are the deterministic seed vectors vec_id 1..N_CENTROIDS (a
    production build would k-means them; the assignment/search plan is
    identical). The centroid table is broadcast; assignment is a
    broadcast nested-loop over N_CENTROIDS rows + windowed argmax. At
    10^12 scale the cell id becomes the partition key, so probe-time
    search touches one cell's partitions only.

    The assignment KEY is fully deterministic across engines: vectors and
    centroids are integer-quantized (``quantize``), the dot product and
    centroid norm² are exact integers, and the score qdot/sqrt(qn2) is two
    IEEE ops (one divide, one sqrt) on identical inputs — bit-identical in
    Spark and DuckDB, unlike the previous 4-decimal-rounded cosine whose
    accumulation order differed per engine and could flip a cell at a
    rounding boundary (ADVICE r1).
    """
    from pyspark.sql import Window

    e = _emb(spark, sf_dir).withColumn(
        "qv", quantize(F.col("embedding").cast("array<double>"))
    )
    cents = e.filter(F.col("vec_id").between(1, N_CENTROIDS)).select(
        F.col("vec_id").alias("cid"),
        F.col("qv").alias("qc"),
        F.aggregate(
            F.transform(F.col("qv"), lambda x: x * x),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ).alias("qn2"),
    )
    qdot = F.aggregate(
        F.zip_with(F.col("qv"), F.col("qc"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    scored = e.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "cid",
        (qdot.cast("double") / F.sqrt(F.col("qn2").cast("double"))).alias("s"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("s"), F.asc("cid"))
    from astrospark.ops.caching import scoped_persist

    # same index-once-probe-many persist as kmeans_cells
    return scoped_persist(
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", F.col("cid").alias("cell"))
    )


KM_ITERS = 2


def kmeans_centroids(spark, sf_dir, iters: int = KM_ITERS) -> DataFrame:
    """Deterministic Lloyd k-means over the integer-quantized vectors —
    the production coarse quantizer for IVF (ivf_cells' seed-vector
    centroids are the plan-identical stand-in; this trains them).

    Every step is cross-engine exact: assignment uses the same
    qdot/sqrt(qn2) deterministic score as ivf_cells; the update is a
    per-dimension avg of small integers (exact long sums → one IEEE
    divide) floored back to integers, so the DuckDB oracle replays the
    whole iteration bit-for-bit (unrolled CTEs). Cells that lose all
    members keep their previous centroid (left-join coalesce). Fixed
    ``iters`` (no convergence test) keeps the computation a static plan.

    Scale shape: per iteration ONE broadcast join (8 centroids) + ONE
    aggregation keyed by cell with map-side partial avg — the standard
    Spark k-means step; vectors never shuffle against each other.
    """
    e = _emb(spark, sf_dir).withColumn(
        "qv", quantize(F.col("embedding").cast("array<double>"))
    ).select("vec_id", "qv")
    dim = _emb_dim(_emb(spark, sf_dir))
    cents = e.filter(F.col("vec_id").between(1, N_CENTROIDS)).select(
        F.col("vec_id").alias("cid"), F.col("qv").alias("qc")
    )
    qn2 = F.aggregate(
        F.transform(F.col("qc"), lambda x: x * x),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    qdot = F.aggregate(
        F.zip_with(F.col("qv"), F.col("qc"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    from pyspark.sql import Window

    w = Window.partitionBy("vec_id").orderBy(F.desc("s"), F.asc("cid"))
    for _ in range(iters):
        scored = e.crossJoin(F.broadcast(cents.withColumn("qn2", qn2))).select(
            "vec_id",
            "cid",
            "qv",
            (qdot.cast("double") / F.sqrt(F.col("qn2").cast("double"))).alias("s"),
        )
        assign = (
            scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("vec_id", F.col("cid").alias("cell"), "qv")
        )
        upd = assign.groupBy(F.col("cell").alias("cid")).agg(
            F.array(
                *[
                    F.floor(F.avg(F.element_at("qv", i + 1))).cast("long")
                    for i in range(dim)
                ]
            ).alias("qc_new")
        )
        cents = (
            cents.join(upd, "cid", "left")
            .select("cid", F.coalesce("qc_new", "qc").alias("qc"))
        )
    return cents


def kmeans_cells(spark, sf_dir, max_rank: int = 4) -> DataFrame:
    """(vec_id, cell, rnk) centroid ranking against the k-means-trained
    centroids, rnk 1..``max_rank`` — stage 1 of ``ann_ivf_kmeans_topk``.
    rnk=1 rows are the corpus cell MEMBERSHIP; rnk ≤ nprobe rows of the
    query vector are its PROBE list (FAISS-style nprobe), so the one
    cached DataFrame serves both sides. Exposed for the
    retrieval-quality harness (cell sizes = probe-time candidate counts).

    scoped_persist'd: the assignment (training + one pass over the
    corpus) is the INDEX — repeated probes in one session reuse it
    instead of re-running Lloyd iterations per query (index-once,
    probe-many; measured 3.7s → sub-second per probe in
    scripts/ann_recall.py). At 10^12 vectors the assignment would be a
    materialized table partitioned by cell, not a block-manager cache.
    Released via ops.caching.release_caches()."""
    from pyspark.sql import Window

    e = _emb(spark, sf_dir).withColumn(
        "qv", quantize(F.col("embedding").cast("array<double>"))
    )
    cents = kmeans_centroids(spark, sf_dir)
    qn2 = F.aggregate(
        F.transform(F.col("qc"), lambda x: x * x),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    qdot = F.aggregate(
        F.zip_with(F.col("qv"), F.col("qc"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("s"), F.asc("cid"))
    from astrospark.ops.caching import scoped_persist

    return scoped_persist(
        e.crossJoin(F.broadcast(cents.withColumn("qn2", qn2)))
        .select(
            "vec_id",
            "cid",
            (qdot.cast("double") / F.sqrt(F.col("qn2").cast("double"))).alias("s"),
        )
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= max_rank)
        .select("vec_id", F.col("cid").alias("cell"), "rnk")
    )


def ann_ivf_kmeans_topk(spark, sf_dir, query_vec_id: int = 0, nprobe: int = 1) -> DataFrame:
    """IVF probe against k-means-trained centroids: every vector is
    assigned by the deterministic integer score; the query searches its
    ``nprobe`` nearest cells (default 1 — the oracle-contract setting;
    BENCH/RECALL.md measures the recall the knob buys) with exact-cosine
    rerank inside them."""
    e = _emb(spark, sf_dir)
    cells = kmeans_cells(spark, sf_dir)
    member = cells.filter(F.col("rnk") == 1).select("vec_id", "cell")
    v = e.join(member, "vec_id")
    q_cells = cells.filter(
        (F.col("vec_id") == query_vec_id) & (F.col("rnk") <= nprobe)
    ).select(F.col("cell").alias("q_cell"))
    q_emb = e.filter(F.col("vec_id") == query_vec_id).select(
        F.col("embedding").alias("q_emb")
    )
    cands = (
        v.filter(F.col("vec_id") != query_vec_id)
        .join(F.broadcast(q_cells), F.col("cell") == F.col("q_cell"))
        .crossJoin(F.broadcast(q_emb))
    )
    sims = cands.select(
        "vec_id",
        F.round(
            cosine(
                F.col("embedding").cast("array<double>"),
                F.col("q_emb").cast("array<double>"),
            ),
            4,
        ).alias("cos_sim"),
    )
    return sims.orderBy(F.desc("cos_sim"), F.asc("vec_id")).limit(TOP_K)


def ann_ivf_topk(spark, sf_dir, query_vec_id: int = 0) -> DataFrame:
    """IVF probe: search only the query vector's cell (nprobe=1)."""
    e = _emb(spark, sf_dir)
    cells = ivf_cells(spark, sf_dir)
    v = e.join(cells, "vec_id")
    q = v.filter(F.col("vec_id") == query_vec_id).select(
        F.col("embedding").alias("q_emb"), F.col("cell").alias("q_cell")
    )
    cands = v.filter(F.col("vec_id") != query_vec_id).join(
        F.broadcast(q), F.col("cell") == F.col("q_cell")
    )
    sims = cands.select(
        "vec_id",
        F.round(
            cosine(F.col("embedding").cast("array<double>"), F.col("q_emb").cast("array<double>")),
            4,
        ).alias("cos_sim"),
    )
    return sims.orderBy(F.desc("cos_sim"), F.asc("vec_id")).limit(TOP_K)


# ---------------------------------------------------------------------------
# scale path: k-bit random-hyperplane LSH (VERDICT r1 §2)
#
# The sign_bucket() family above keys on 2^SIGN_DIMS = 16 buckets — fine as
# the portable oracle-contract setting, a scale-killer as a default (a
# same-bucket join over N/16 members is ~N²/16 pairs at 10^12 vectors).
# The default scale path below uses RP_BANDS bands of RP_BITS md5-derived
# random-hyperplane sign bits each: 2^16 = 65,536 bucket keys PER BAND, so
# the candidate join key has web-scale cardinality, with banding (like
# minhash LSH) carrying the recall. All arithmetic is exact-integer over
# quantize()d vectors, so signatures are bit-identical across engines.
# ---------------------------------------------------------------------------

RP_BITS = 16  # bits per band → 65,536 bucket keys per band
RP_BANDS = 4  # collide-in-any-band recall knob (SIGMOD'12-style banding)
RP_PROBE_DEPTHS = (16, 8)  # LSH-forest prefix depths probed at query time
RP_MAX_BUCKET = 1000  # same bounded-bucket guard as dedup_minhash_lsh


def _rp_planes(dim: int, n_planes: int = RP_BANDS * RP_BITS) -> list:
    """Deterministic hyperplane matrix: component (b, i) is the first byte
    of md5('rp:b:i') shifted to [-128, 127]. Reproducible from the same
    md5 in SQL, so the DuckDB oracle derives the identical matrix."""
    import hashlib

    return [
        [hashlib.md5(f"rp:{b}:{i}".encode()).digest()[0] - 128 for i in range(dim)]
        for b in range(n_planes)
    ]


def _emb_dim(e: DataFrame) -> int:
    """Embedding dimensionality — one tiny first() driver job per query
    build (the parquet schema doesn't carry list lengths, and caching by
    schema would wrongly collide across datasets)."""
    return len(e.select("embedding").first()[0])


def _rp_sig_df(spark, sf_dir) -> DataFrame:
    """vec_id + signature (+ kept embedding for the verify stages).

    Signatures are computed in a VECTORIZED pandas UDF: the whole Arrow
    batch becomes one (n, dim) float64 matrix and all 64 hyperplane dots
    are ONE matmul — the idiomatic Arrow-UDF shape for dense linear
    algebra (a JVM higher-order-function formulation needs 64 interpreted
    aggregate lambdas per row: measured ~8× slower end-to-end and it
    bloats codegen). Exactness is preserved: quantized components ≤ 10³,
    plane bytes ≤ 128, so every product/sum is an exact integer in
    float64 (≪ 2^53) — the signature bits are bit-identical to the DuckDB
    oracle's per-plane list_dot_product regardless of summation order.
    """
    e = _emb(spark, sf_dir)
    dim = _emb_dim(e)
    H = np.asarray(_rp_planes(dim), dtype=np.float64)  # (planes, dim)

    @F.pandas_udf("string")
    def sig_udf(emb: pd.Series) -> pd.Series:
        if len(emb) == 0:
            return pd.Series([], dtype=object)
        V = np.stack([np.asarray(v, dtype=np.float64) for v in emb])
        q = np.floor(V * QUANT_SCALE)
        bits = ((q @ H.T) >= 0).astype(np.uint8) + 48  # '0'/'1' bytes
        raw = bits.tobytes()
        w = H.shape[0]
        return pd.Series([raw[i * w : (i + 1) * w].decode() for i in range(len(emb))])

    # persisted: every consumer (ann_rp_topk, emb_neardup_banded,
    # knn_join) references the signature column from 2-3 plan branches,
    # and Spark recomputes shared lineage per branch — without the persist
    # the full-corpus signature UDF (the dominant stage at scale) would
    # run once per branch, like the signature persist in dedup_minhash_lsh.
    # scoped_persist: released by the caller via ops.caching.release_caches()
    from astrospark.ops.caching import scoped_persist

    return scoped_persist(e.withColumn("sig", sig_udf(F.col("embedding"))))


def _band_keys(sig_df: DataFrame, depths=(RP_BITS,)) -> DataFrame:
    """Long-format (vec_id, band, depth, bk): one row per band per probe
    depth — candidate generation is ONE equi-join on (band, depth, bk),
    exactly the minhash-LSH long-format shape."""
    rows = ", ".join(
        f"{b}, {d}, substring(sig, {b * RP_BITS + 1}, {d})"
        for b in range(RP_BANDS)
        for d in depths
    )
    n = RP_BANDS * len(depths)
    return sig_df.select(
        "vec_id", F.expr(f"stack({n}, {rows}) AS (band, depth, bk)")
    )


def rp_candidates(spark, sf_dir, query_vec_id: int = 0, probe_depths=RP_PROBE_DEPTHS) -> DataFrame:
    """Distinct candidate vec_ids colliding with the query in any
    (band, probe-depth) bucket — stage 1 of ``ann_rp_topk``, exposed so
    the retrieval-quality harness (scripts/ann_recall.py) can report
    candidate-set sizes for the recall/speedup tradeoff.

    ``probe_depths`` is THE recall knob (BENCH/RECALL.md measures it):
    appending shorter prefixes (e.g. ``(16, 8, 4)``) probes coarser
    LSH-forest buckets — monotonically more candidates, more recall."""
    sigs = _rp_sig_df(spark, sf_dir)
    keys = _band_keys(sigs, depths=probe_depths)
    qk = (
        keys.join(sigs.filter(F.col("vec_id") == query_vec_id).select("vec_id"), "vec_id")
        .select(F.col("band").alias("q_band"), F.col("depth").alias("q_depth"), F.col("bk").alias("q_bk"))
    )
    return (
        keys.filter(F.col("vec_id") != query_vec_id)
        .join(
            F.broadcast(qk),
            (F.col("band") == F.col("q_band"))
            & (F.col("depth") == F.col("q_depth"))
            & (F.col("bk") == F.col("q_bk")),
        )
        .select("vec_id")
        .distinct()
    )


def ann_rp_topk(spark, sf_dir, query_vec_id: int = 0, probe_depths=RP_PROBE_DEPTHS) -> DataFrame:
    """Approximate top-k via banded RP-LSH with prefix probing.

    Stage 1 (candidates): equi-join the query's band keys against the
    corpus band keys at each probe depth (16-bit exact bucket, then the
    8-bit prefix — the LSH-forest pattern: shorter prefixes = coarser
    buckets probed only as a recall fallback). The query side is ~8 rows
    → BroadcastHashJoin; the corpus side is never self-joined and never
    grouped on an O(1)-cardinality key.
    Stage 2 (verify): exact cosine rerank of the distinct candidates.

    At 10^12 vectors the full-depth probe touches ~N/65536 per band and
    the corpus band-key table is the partition layout, so a probe is a
    key-pruned lookup, not a scan.
    """
    cands = rp_candidates(spark, sf_dir, query_vec_id, probe_depths)
    e = _emb(spark, sf_dir)
    q = e.filter(F.col("vec_id") == query_vec_id).select(F.col("embedding").alias("q_emb"))
    sims = (
        e.join(cands, "vec_id")
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(
                cosine(
                    F.col("embedding").cast("array<double>"),
                    F.col("q_emb").cast("array<double>"),
                ),
                4,
            ).alias("cos_sim"),
        )
    )
    return sims.orderBy(F.desc("cos_sim"), F.asc("vec_id")).limit(TOP_K)


def emb_neardup_banded(
    spark,
    sf_dir,
    max_bucket: int | None = RP_MAX_BUCKET,
    probe_depths=RP_PROBE_DEPTHS,
) -> DataFrame:
    """Near-duplicate detection over 65k-bucket banded RP-LSH.

    Candidates collide in ≥1 (band, probe-depth) bucket; pairs expand
    from bounded posting lists (collect_set per (band, depth, bk),
    capped at ``max_bucket`` — the dedup_minhash_lsh guard), then
    exact-cosine verify. ``probe_depths`` is the recall knob
    (BENCH/RECALL.md §3 measures it): the LIBRARY DEFAULT is the
    deployment knob ``RP_PROBE_DEPTHS = (16, 8)`` — 0.90 planted-pair
    recall at cos ≥ 0.9 vs 0.27 for the single full-depth pass
    (VERDICT r3 "Next round" #4); the contract pins ``(16,)``, the
    setting the DuckDB oracle replays. Output keeps every candidate
    with its verdict (is_neardup = cos ≥ NEARDUP_COS) so the
    filter-verification accounting is visible.

    Replaces emb_neardup_pairs as the scale default: the same-bucket join
    there runs over 16 buckets (≈N²/16 pairs at web scale); here a bucket
    key has 2^16 values per band and oversized buckets are routed out.
    """
    sigs = _rp_sig_df(spark, sf_dir)
    bands = _band_keys(sigs, depths=probe_depths)
    if max_bucket is not None:
        keep = (
            bands.groupBy("band", "depth", "bk")
            .agg(F.count_distinct("vec_id").alias("sz"))
            .filter((F.col("sz") >= 2) & (F.col("sz") <= max_bucket))
            .select("band", "depth", "bk")
        )
        bands = bands.join(keep, ["band", "depth", "bk"])
    pairs_expr = (
        "flatten(transform(vs, (a, i) -> "
        "transform(slice(vs, i + 2, size(vs)), "
        "b -> named_struct('vec_a', a, 'vec_b', b))))"
    )
    pairs = (
        bands.groupBy("band", "depth", "bk")
        .agg(F.array_sort(F.collect_set("vec_id")).alias("vs"))
        .filter(F.size("vs") >= 2)
        .select(F.explode(F.expr(pairs_expr)).alias("p"))
        .select(F.col("p.vec_a").alias("vec_a"), F.col("p.vec_b").alias("vec_b"))
        .distinct()
    )
    e = (
        _emb(spark, sf_dir)
        .withColumn("emb_d", F.col("embedding").cast("array<double>"))
        .withColumn("nrm", _norm(F.col("emb_d")))
    )
    a = e.select(F.col("vec_id").alias("vec_a"), F.col("emb_d").alias("emb_a"), F.col("nrm").alias("nrm_a"))
    b = e.select(F.col("vec_id").alias("vec_b"), F.col("emb_d").alias("emb_b"), F.col("nrm").alias("nrm_b"))
    return (
        pairs.join(a, "vec_a")
        .join(b, "vec_b")
        .select(
            "vec_a",
            "vec_b",
            F.round(
                _dot(F.col("emb_a"), F.col("emb_b")) / (F.col("nrm_a") * F.col("nrm_b")), 4
            ).alias("cos_sim"),
        )
        .withColumn("is_neardup", (F.col("cos_sim") >= NEARDUP_COS).cast("int"))
    )


KNN_K = 5


def knn_join(
    spark,
    sf_dir,
    k: int = KNN_K,
    max_bucket: int | None = RP_MAX_BUCKET,
    probe_depths=RP_PROBE_DEPTHS,
) -> DataFrame:
    """Approximate k-NN SELF-join over the whole embedding table — the
    workhorse of semantic dedup/clustering on training corpora (every
    vector gets its k nearest candidates, not just one query).

    Candidates: equi-self-join of the banded RP-LSH keys at depths 16 and
    8 (the prefix fallback keeps small/sparse corpora from starving);
    oversized buckets are routed out by ``max_bucket`` exactly like
    dedup_minhash_lsh, so the join volume per bucket is bounded. Verify:
    exact cosine + per-vector row_number rank. At 10^12 vectors this is
    the standard LSH kNN-join: shuffle on (band, depth, bk) — a
    2^16-cardinality key — then a rank window partitioned by vec_id.
    """
    from pyspark.sql import Window

    sigs = _rp_sig_df(spark, sf_dir)
    keys = _band_keys(sigs, depths=probe_depths)
    if max_bucket is not None:
        keep = (
            keys.groupBy("band", "depth", "bk")
            .agg(F.count_distinct("vec_id").alias("sz"))
            .filter((F.col("sz") >= 2) & (F.col("sz") <= max_bucket))
            .select("band", "depth", "bk")
        )
        keys = keys.join(keep, ["band", "depth", "bk"])
    a = keys.select("band", "depth", "bk", F.col("vec_id").alias("va"))
    b = keys.select("band", "depth", "bk", F.col("vec_id").alias("vb"))
    cands = (
        a.join(b, ["band", "depth", "bk"])
        .filter(F.col("va") != F.col("vb"))
        .select(F.col("va").alias("vec_id"), F.col("vb").alias("neighbor_id"))
        .distinct()
    )
    e = (
        _emb(spark, sf_dir)
        .withColumn("emb_d", F.col("embedding").cast("array<double>"))
        .withColumn("nrm", _norm(F.col("emb_d")))
    )
    ea = e.select(F.col("vec_id"), F.col("emb_d").alias("emb_a"), F.col("nrm").alias("nrm_a"))
    eb = e.select(F.col("vec_id").alias("neighbor_id"), F.col("emb_d").alias("emb_b"), F.col("nrm").alias("nrm_b"))
    scored = (
        cands.join(ea, "vec_id")
        .join(eb, "neighbor_id")
        .select(
            "vec_id",
            "neighbor_id",
            F.round(
                _dot(F.col("emb_a"), F.col("emb_b")) / (F.col("nrm_a") * F.col("nrm_b")), 4
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= k)
        .select("vec_id", "neighbor_id", "cos_sim", "rnk")
    )


def emb_neardup_pairs(spark, sf_dir) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, bucket-prefiltered.

    ORACLE-CONTRACT variant: keys on the 16-value sign_bucket — kept for
    the portable SIGN_DIMS=4 semantics; the production default for
    near-dup detection is ``emb_neardup_banded`` (2^16-key banded RP-LSH),
    which this 16-bucket same-bucket join cannot survive at 10^12 rows.

    Same-bucket pairs only (the LSH contract); exact cosine filter after.

    Norms are precomputed ONCE per vector before the pair join (the naive
    per-pair cosine re-aggregates both norms for every joined row — an
    O(pairs·dim) waste that dominates at bucket sizes in the thousands);
    the per-pair work is a single dot product. FP op order is unchanged
    (same aggregate expression per vector), so results are bit-identical
    to the per-pair formulation and to the DuckDB oracle.
    """
    e = (
        _emb(spark, sf_dir)
        .withColumn("bucket", sign_bucket(F.col("embedding")))
        .withColumn("emb_d", F.col("embedding").cast("array<double>"))
        .withColumn("nrm", _norm(F.col("emb_d")))
    )
    a = e.select(F.col("vec_id").alias("vec_a"), F.col("emb_d").alias("emb_a"), F.col("nrm").alias("nrm_a"), "bucket")
    b = e.select(F.col("vec_id").alias("vec_b"), F.col("emb_d").alias("emb_b"), F.col("nrm").alias("nrm_b"), "bucket")
    pairs = a.join(b, "bucket").filter(F.col("vec_a") < F.col("vec_b"))
    sims = pairs.select(
        "vec_a",
        "vec_b",
        F.round(
            _dot(F.col("emb_a"), F.col("emb_b")) / (F.col("nrm_a") * F.col("nrm_b")), 4
        ).alias("cos_sim"),
    )
    return sims.filter(F.col("cos_sim") >= NEARDUP_COS)


SEMDEDUP_MAX_CELL = 4000  # same bounded-bucket spirit as RP_MAX_BUCKET


def semantic_dedup(
    spark,
    sf_dir,
    tau: float = NEARDUP_COS,
    max_cell: int | None = SEMDEDUP_MAX_CELL,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): assign every vector to its trained k-means cell
    (the deterministic coarse quantizer behind ``ann_ivf_kmeans_topk``),
    then inside each cell drop every vector that has an earlier (lower
    vec_id) cell-mate at cosine ≥ ``tau``. Output is corpus-wide:
    (vec_id, cell, is_kept) — the kept set is the semantically deduped
    corpus, and the per-cell accounting stays visible.

    The keep rule is the fixed-order variant of the paper's per-cluster
    dedup: deterministic (no random representative), exactly
    SQL-expressible (drop iff ∃ lower-id neighbor ≥ tau), and
    independent of execution order.

    Scale shape: candidate pairs NEVER cross cells — after the
    (broadcast-centroid) assignment, ONE shuffle keyed by cell builds
    sorted posting lists and pairs expand JVM-side from them, exactly
    the dedup_minhash_lsh shape. In production k grows with the corpus
    so cells stay ~fixed-size; a cell that still exceeds ``max_cell``
    is routed out of the pairwise and its members are conservatively
    KEPT (bounded-bucket guard; the driver contract pins
    ``max_cell=None`` for exhaustive oracle semantics, contract-only).
    The threshold compares the 4-decimal-rounded cosine so the DuckDB
    replay is decision-identical.
    """
    member = (
        kmeans_cells(spark, sf_dir)
        .filter(F.col("rnk") == 1)
        .select("vec_id", "cell")
    )
    pair_src = member
    if max_cell is not None:
        small = (
            member.groupBy("cell")
            .agg(F.count_distinct("vec_id").alias("sz"))
            .filter((F.col("sz") >= 2) & (F.col("sz") <= max_cell))
            .select("cell")
        )
        pair_src = member.join(small, "cell")
    pairs_expr = (
        "flatten(transform(vs, (a, i) -> "
        "transform(slice(vs, i + 2, size(vs)), "
        "b -> named_struct('vec_a', a, 'vec_b', b))))"
    )
    pairs = (
        pair_src.groupBy("cell")
        .agg(F.array_sort(F.collect_set("vec_id")).alias("vs"))
        .filter(F.size("vs") >= 2)
        .select(F.explode(F.expr(pairs_expr)).alias("p"))
        .select(F.col("p.vec_a").alias("vec_a"), F.col("p.vec_b").alias("vec_b"))
    )
    e = (
        _emb(spark, sf_dir)
        .withColumn("emb_d", F.col("embedding").cast("array<double>"))
        .withColumn("nrm", _norm(F.col("emb_d")))
    )
    a = e.select(F.col("vec_id").alias("vec_a"), F.col("emb_d").alias("emb_a"), F.col("nrm").alias("nrm_a"))
    b = e.select(F.col("vec_id").alias("vec_b"), F.col("emb_d").alias("emb_b"), F.col("nrm").alias("nrm_b"))
    drops = (
        pairs.join(a, "vec_a")
        .join(b, "vec_b")
        .select(
            "vec_b",
            F.round(
                _dot(F.col("emb_a"), F.col("emb_b")) / (F.col("nrm_a") * F.col("nrm_b")), 4
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= tau)
        .select(F.col("vec_b").alias("vec_id"))
        .distinct()
        .withColumn("dropped", F.lit(1))
    )
    return member.join(drops, "vec_id", "left").select(
        "vec_id",
        F.col("cell").cast("int").alias("cell"),
        F.when(F.col("dropped").isNull(), 1).otherwise(0).cast("int").alias("is_kept"),
    )


# Product-quantization params: m subspaces of dim/m components each, k
# codewords per subspace, trained by the same deterministic
# fixed-iteration Lloyd machinery as kmeans_centroids. One vector
# compresses to m small codes — at web scale that is the difference
# between shipping raw float32 vectors (100 TB) and shipping ~8 bytes
# per vector to the scoring stage.
#
# PQ_M/PQ_K are the LIBRARY DEFAULTS — the production parameterization
# (Jégou et al. 2011 run 8-64 subspaces × 256 codewords; recall@10 at
# these knobs is measured in BENCH/RECALL.md §PQ — 16 subspaces chosen
# over 8 because the measured recall@10 on the driver embeddings is
# 0.60 vs 0.38 at identical K, still 16× compression at dim=64).
# PQ_ORACLE_M/K are the CONTRACT-ONLY pin: the DuckDB twin replays the
# unrolled Lloyd training bit-for-bit, and the tiny codebook keeps that
# replay tractable — the same defaults-vs-oracle-pin split as max_bucket
# (VERDICT r3 #3).
PQ_M = 16
PQ_K = 256
PQ_ORACLE_M = 4
PQ_ORACLE_K = 16
PQ_ITERS = 2


def _pq_subvectors(spark, sf_dir, m: int = PQ_M) -> DataFrame:
    """Long-format quantized subvectors (vec_id, m, sq): the full vector
    splits into ``m`` contiguous slices; quantization (floor(x·SCALE))
    keeps every downstream distance an exact integer, so assignments and
    ADC sums are engine-exact (same rationale as `quantize`)."""
    e = _emb(spark, sf_dir)
    dim = _emb_dim(e)
    sub = dim // m
    qv = quantize(F.col("embedding").cast("array<double>"))
    subs = F.array(
        *[
            F.struct(
                F.lit(mi).alias("m"), F.slice(qv, mi * sub + 1, sub).alias("sq")
            )
            for mi in range(m)
        ]
    )
    return (
        e.select("vec_id", F.explode(subs).alias("s"))
        .select("vec_id", F.col("s.m").alias("m"), F.col("s.sq").alias("sq"))
    )


def _pq_l2(a, b):
    """Exact integer squared-L2 between quantized subvectors."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def pq_codebooks(
    spark, sf_dir, iters: int = PQ_ITERS, m: int = PQ_M, k: int = PQ_K
) -> DataFrame:
    """Per-subspace PQ codebooks (m, code, qc) — Lloyd k-means run on
    every subspace AT ONCE (the subspace id rides the group key, so all
    ``m`` trainings share one plan). Deterministic end to end: integer
    squared-L2 assignment with code-asc tie-break, floor(avg) centroid
    update, empty cells keep their previous codeword; the DuckDB oracle
    replays the unrolled iterations bit-for-bit (at the PQ_ORACLE_M/K
    pin — the library default is the production 8×256 codebook).

    Scale shape: per iteration ONE broadcast join (m·k ≤ 2048
    codewords) + ONE argmin window keyed (vec_id, m) + ONE per-(m, code)
    partial-avg aggregation — subvectors never shuffle against each
    other, same as the coarse k-means."""
    from pyspark.sql import Window

    sv = _pq_subvectors(spark, sf_dir, m=m)
    e = _emb(spark, sf_dir)
    sub = _emb_dim(e) // m
    cents = sv.filter(F.col("vec_id").between(1, k)).select(
        "m", F.col("vec_id").alias("code"), F.col("sq").alias("qc")
    )
    w = Window.partitionBy("vec_id", "m").orderBy(F.asc("d"), F.asc("code"))
    for _ in range(iters):
        scored = sv.join(F.broadcast(cents), "m").select(
            "vec_id", "m", "sq", "code", _pq_l2(F.col("sq"), F.col("qc")).alias("d")
        )
        assign = (
            scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("vec_id", "m", "code", "sq")
        )
        upd = assign.groupBy("m", "code").agg(
            F.array(
                *[
                    F.floor(F.avg(F.element_at("sq", i + 1))).cast("long")
                    for i in range(sub)
                ]
            ).alias("qc_new")
        )
        cents = cents.join(upd, ["m", "code"], "left").select(
            "m", "code", F.coalesce("qc_new", "qc").alias("qc")
        )
    # scoped_persist: 64 rows, but the lineage is the whole Lloyd
    # training — probe-many sessions reuse the trained codebooks like
    # kmeans_cells reuses the coarse assignment. Released via
    # ops.caching.release_caches().
    from astrospark.ops.caching import scoped_persist

    return scoped_persist(cents)


def pq_codes(spark, sf_dir, m: int = PQ_M, k: int = PQ_K) -> DataFrame:
    """PQ encoding (vec_id, m, code): every vector compresses to ``m``
    nearest-codeword ids — the asymmetric-distance index payload. One
    broadcast join (m·k codewords) + one argmin window; the raw vectors
    are read once and never shuffled, which is the whole point: the
    persisted index is ``m`` small ints per vector, ~100-1000× smaller
    than the float32 corpus it stands in for."""
    from pyspark.sql import Window

    sv = _pq_subvectors(spark, sf_dir, m=m)
    cents = pq_codebooks(spark, sf_dir, m=m, k=k)
    w = Window.partitionBy("vec_id", "m").orderBy(F.asc("d"), F.asc("code"))
    scored = sv.join(F.broadcast(cents), "m").select(
        "vec_id", "m", "code", _pq_l2(F.col("sq"), F.col("qc")).alias("d")
    )
    # scoped_persist: the encoded code table IS the ANN index
    # (index-once, probe-many — same idiom and lifetime as
    # kmeans_cells); at 10^12 vectors it would be a cell-partitioned
    # materialized table, not a block-manager cache.
    from astrospark.ops.caching import scoped_persist

    return scoped_persist(
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", F.col("m").cast("int").alias("m"), F.col("code").cast("int").alias("code"))
    )


def ann_pq_topk(
    spark, sf_dir, query_vec_id: int = 0, m: int = PQ_M, k: int = PQ_K
) -> DataFrame:
    """PQ asymmetric-distance top-k (the ADC half of IVFADC, Jégou et
    al. 2011): the query's exact squared-L2 to every codeword forms a
    m×k lookup table; a database vector's approximate distance is
    the SUM of its codes' table entries — computed entirely from the
    compressed codes, never touching raw database vectors.

    Scale shape: the distance table (m·k ≤ 2048 rows) BROADCASTS onto
    the code table; scoring is one broadcast join + one doc-keyed sum +
    a TakeOrdered — at 10^12 vectors the scan reads ``m`` ints per
    vector instead of the full float array, and composes with the IVF
    cell pruning of ``ann_ivf_kmeans_topk`` for the full IVFADC layout.
    Distances are exact integers (quantized components), so ranking and
    ties (adist asc, vec_id asc) replay identically in DuckDB (at the
    PQ_ORACLE_M/K contract pin; the library default is the production
    8×256 codebook — recall measured in BENCH/RECALL.md §PQ)."""
    sv = _pq_subvectors(spark, sf_dir, m=m)
    codes = pq_codes(spark, sf_dir, m=m, k=k)
    cents = pq_codebooks(spark, sf_dir, m=m, k=k)
    qsub = sv.filter(F.col("vec_id") == query_vec_id).select(
        "m", F.col("sq").alias("q_sq")
    )
    table = cents.join(qsub, "m").select(
        "m", "code", _pq_l2(F.col("q_sq"), F.col("qc")).alias("qd")
    )
    return (
        codes.filter(F.col("vec_id") != query_vec_id)
        .join(F.broadcast(table), ["m", "code"])
        .groupBy("vec_id")
        .agg(F.sum("qd").cast("bigint").alias("adist"))
        .orderBy(F.asc("adist"), F.asc("vec_id"))
        .limit(TOP_K)
    )


def ann_ivfadc_topk(
    spark,
    sf_dir,
    query_vec_id: int = 0,
    nprobe: int = 1,
    m: int = PQ_M,
    k: int = PQ_K,
) -> DataFrame:
    """Full IVFADC retrieval (Jégou et al. 2011): IVF cell pruning
    (the trained coarse quantizer of ``ann_ivf_kmeans_topk``) composed
    with PQ asymmetric-distance scoring (``ann_pq_topk``) — candidates
    come from the query's ``nprobe`` nearest cells, and are ranked from
    their compressed PQ codes alone.

    This is the memory-feasible production layout: the scoring stage
    touches (cell, PQ_M codes) per vector — never raw floats — so a
    10^12-vector index is a cell-partitioned code table a few bytes per
    vector, and a probe reads only the probed cells' partitions. The
    exact-rerank variant (ann_ivf_kmeans_topk) is the accuracy ceiling;
    this is the footprint floor; production reranks the ADC top-R with
    exact distances, which composes these two queries.

    Every stage is the deterministic integer machinery of its parts, so
    the DuckDB oracle replays coarse training + PQ training + encoding +
    scoring bit-for-bit (shared CTE prefixes)."""
    cells = kmeans_cells(spark, sf_dir)
    member = cells.filter(F.col("rnk") == 1).select("vec_id", "cell")
    q_cells = cells.filter(
        (F.col("vec_id") == query_vec_id) & (F.col("rnk") <= nprobe)
    ).select(F.col("cell").alias("q_cell"))

    sv = _pq_subvectors(spark, sf_dir, m=m)
    codes = pq_codes(spark, sf_dir, m=m, k=k)
    cents = pq_codebooks(spark, sf_dir, m=m, k=k)
    qsub = sv.filter(F.col("vec_id") == query_vec_id).select(
        "m", F.col("sq").alias("q_sq")
    )
    table = cents.join(qsub, "m").select(
        "m", "code", _pq_l2(F.col("q_sq"), F.col("qc")).alias("qd")
    )
    cand_codes = (
        codes.filter(F.col("vec_id") != query_vec_id)
        .join(member, "vec_id")
        .join(F.broadcast(q_cells), F.col("cell") == F.col("q_cell"))
    )
    return (
        cand_codes.join(F.broadcast(table), ["m", "code"])
        .groupBy("vec_id")
        .agg(F.sum("qd").cast("bigint").alias("adist"))
        .orderBy(F.asc("adist"), F.asc("vec_id"))
        .limit(TOP_K)
    )


# embedding-hygiene constants: the expected dimensionality of the driver
# embeddings table, and the deterministic fault slices injected by the
# query (the synthetic vectors are clean, so the gate would be degenerate
# without them; both engines build the identical faulty vectors)
HYGIENE_DIM = 64
HYGIENE_ZERO_MOD = 97  # vec_id % 97 == 0 → all-zero vector
HYGIENE_NAN_MOD = 89  # vec_id % 89 == 1 → NaN in component 0


def embedding_hygiene(spark, sf_dir) -> DataFrame:
    """Vector-quality gate — the hygiene pass every embedding pipeline
    runs before ANN indexing or training: dimension check, NaN scan,
    zero-norm detection, one keep flag. Bad vectors poison k-means
    centroids (NaN propagates through every mean) and cosine scoring
    (zero norm divides by zero), so they are dropped at ingest, not
    discovered at query time.

    Norms use the established ``quantize`` machinery (floor(x·1000) per
    component → exact integer sums in any order, similarity.py:98), and
    the NaN branch short-circuits via CASE in both engines — lazy branch
    evaluation is what keeps floor(NaN)→bigint from ever being computed.

    Scale shape: scan → project, ZERO shuffles, no UDF — per-vector
    array expressions in one codegen stage, same cost class as any
    ingest projection at 10^12 vectors.
    """
    e = _emb(spark, sf_dir)
    emb_d = F.col("embedding").cast("array<double>")
    faulty = (
        F.when(
            F.col("vec_id") % HYGIENE_ZERO_MOD == 0,
            F.transform(emb_d, lambda x: F.lit(0.0)),
        )
        .when(
            F.col("vec_id") % HYGIENE_NAN_MOD == 1,
            # open-ended tail slice (ADVICE r3): the DuckDB twin uses
            # emb[2:], so slice to the ACTUAL array end — a corpus whose
            # dim exceeds HYGIENE_DIM would otherwise diverge between
            # engines on the injected vector's n_dims
            F.concat(
                F.array(F.expr("CAST('NaN' AS DOUBLE)")),
                F.slice(emb_d, 2, F.size(emb_d) - 1),
            ),
        )
        .otherwise(emb_d)
    )
    step = e.select("vec_id", faulty.alias("emb"))
    has_nan = (F.size(F.filter("emb", lambda x: F.isnan(x))) > 0).cast("int")
    qsq = F.aggregate(
        F.transform(quantize(F.col("emb")), lambda x: x * x),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    flagged = step.select(
        "vec_id",
        F.size("emb").cast("int").alias("n_dims"),
        has_nan.alias("has_nan"),
        F.when(has_nan == 1, F.lit(-1).cast("bigint"))
        .otherwise(qsq.cast("bigint"))
        .alias("norm2_q"),
    )
    return flagged.select(
        "vec_id",
        "n_dims",
        "has_nan",
        "norm2_q",
        (
            (F.col("n_dims") == HYGIENE_DIM)
            & (F.col("has_nan") == 0)
            & (F.col("norm2_q") > 0)
        )
        .cast("int")
        .alias("kept"),
    )


NEG_K = 4
NEG_ANCHORS = 4       # anchors = vec_id < NEG_ANCHORS (bounded set)
NEG_SAMPLE_HEX = "0"  # md5 first nibble gate: 1/16 candidate sample
NEG_MAX_COS = 0.8     # false-negative guard, exact-verified on the sample


def contrastive_negatives(spark, sf_dir) -> DataFrame:
    """Deterministic negative mining for contrastive embedding training
    — the training-pair prep step (anchor, negative) batches are built
    from: for each anchor, a pseudo-random sample of the corpus with
    near-duplicates excluded. Negatives are a SAMPLE, not nearest
    neighbors, so no LSH index is needed; the false-negative guard
    (dropping candidates too similar to the anchor) runs as EXACT
    cosine on the sampled candidates only — the standard recipe (cf.
    in-batch negatives with similarity filtering in dense-retrieval
    training).

    Shape for scale: the bounded anchor set broadcasts against ONE scan
    of the vector table (corpus read once regardless of anchor count);
    the md5-nibble gate prunes 15/16 of candidates BEFORE any cosine
    math; the per-anchor top-k is a WindowGroupLimit window keyed by
    anchor. Determinism: the sample and its ranking are pure functions
    of (anchor_id, vec_id) via md5 — task retries, reruns, and the
    DuckDB oracle agree row-for-row (rand() would be none of those).
    Cosine parity uses the same rounded-double spelling as the green
    ann_cosine_topk contract row.
    """
    e = _emb(spark, sf_dir)
    anchors = e.filter(F.col("vec_id") < NEG_ANCHORS).select(
        F.col("vec_id").alias("anchor_id"), F.col("embedding").alias("a_emb")
    )
    cand = (
        e.crossJoin(F.broadcast(anchors))
        .filter(F.col("vec_id") != F.col("anchor_id"))
        .withColumn(
            "hk", F.md5(F.concat_ws(":", F.col("anchor_id"), F.col("vec_id")))
        )
        .filter(F.substring("hk", 1, 1) == NEG_SAMPLE_HEX)
    )
    sims = cand.select(
        "anchor_id",
        "vec_id",
        "hk",
        F.round(
            cosine(
                F.col("embedding").cast("array<double>"),
                F.col("a_emb").cast("array<double>"),
            ),
            4,
        ).alias("cos_sim"),
    ).filter(F.col("cos_sim") < NEG_MAX_COS)
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("hk").asc(), F.col("vec_id").asc()
    )
    return (
        sims.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= NEG_K)
        .select(
            "anchor_id",
            "vec_id",
            "hk",
            "cos_sim",
            F.col("rk").cast("int").alias("rk"),
        )
    )


def embedding_dim_stats(spark, sf_dir) -> DataFrame:
    """Per-dimension moment statistics over the embedding matrix — the
    drift / dead-dimension monitor every embedding pipeline runs before
    trusting an index build (a dimension whose variance collapses after
    a model update silently degrades every downstream LSH/IVF/PQ
    structure built here).

    Sums are over ``quantize``d integer components (exact in any
    accumulation order — same foundation as the IVF scoring), so the
    DuckDB replay is bit-identical. No mean/variance division is
    emitted: Spark's DIV truncates toward zero while DuckDB's ``//``
    floors, and dimension sums CAN be negative — consumers divide.

    Shape for scale: posexplode ×dim fans out rows, but the aggregate
    key space is the DIMENSIONALITY (64), so map-side combine collapses
    each task to |dims| cells — the shuffle is corpus-size-independent,
    like the sketch family.
    """
    e = _emb(spark, sf_dir)
    q = e.select(
        F.posexplode(quantize(F.col("embedding").cast("array<double>"))).alias(
            "dim0", "qx"
        )
    )
    return (
        q.groupBy((F.col("dim0") + 1).cast("int").alias("dim"))
        .agg(
            F.count("*").cast("bigint").alias("n_vecs"),
            F.sum("qx").cast("bigint").alias("sum_q"),
            F.sum(F.col("qx") * F.col("qx")).cast("bigint").alias("sumsq_q"),
        )
    )


EVAL_STRIDE = 50  # vec_id % EVAL_STRIDE == 0 marks the held-out eval set
DECON_COS = 0.30  # contamination threshold on the quantized cosine


def decon_eval_frame(emb_df: DataFrame) -> DataFrame:
    """(eval_id, eq, en2) eval-side frame for the decontamination
    screen: quantized components + precomputed squared norm. Eval
    membership is deterministic (``vec_id % EVAL_STRIDE == 0``) so the
    oracle replays it. Benchmark-sized by nature (10^2-10^5 rows), so
    every consumer broadcasts it."""
    q = quantize(F.col("embedding").cast("array<double>"))
    return emb_df.filter(F.col("vec_id") % EVAL_STRIDE == 0).select(
        F.col("vec_id").alias("eval_id"),
        q.alias("eq"),
        F.aggregate(
            F.transform(q, lambda x: x * x),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ).alias("en2"),
    )


def screen_decontaminate(train_emb: DataFrame, eval_frame: DataFrame) -> DataFrame:
    """The decontamination screen core of the contract row: per
    training vector, the max quantized cosine against the (broadcast)
    eval frame plus the threshold flag.
    Verdicts are per-vector given the eval frame — no train x train
    interaction — so the screen composes over arbitrary input splits
    (micro-batches) with no state; ties on the ROUNDED score break to
    the lowest eval_id in both engines.

    Shape for scale: one scan of ``train_emb``, broadcast-probe against
    the eval frame, map-side-combined max(struct) argmax — the exchange
    carries at most one partial per (task, vec_id) (measured:
    tests/test_shuffle_volume.py); zero corpus-sized shuffles."""
    q = quantize(F.col("embedding").cast("array<double>"))
    tr = train_emb.select(
        "vec_id",
        q.alias("q"),
        F.aggregate(
            F.transform(q, lambda x: x * x),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ).alias("tn2"),
    )
    qdot = F.aggregate(
        F.zip_with(F.col("q"), F.col("eq"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    sims = tr.crossJoin(F.broadcast(eval_frame)).select(
        "vec_id",
        "eval_id",
        F.round(
            qdot.cast("double")
            / (F.sqrt(F.col("tn2").cast("double")) * F.sqrt(F.col("en2").cast("double"))),
            4,
        ).alias("cos_sim"),
    )
    best = sims.groupBy("vec_id").agg(
        F.max(
            F.struct(
                F.col("cos_sim").alias("s"), (-F.col("eval_id")).alias("ne")
            )
        ).alias("b")
    )
    return best.select(
        "vec_id",
        (-F.col("b.ne")).cast("bigint").alias("nearest_eval_id"),
        F.col("b.s").alias("cos_sim"),
        (F.col("b.s") >= DECON_COS).cast("int").alias("contaminated"),
    )


def semantic_decontaminate(spark, sf_dir) -> DataFrame:
    """Embedding-level benchmark decontamination — the semantic twin of
    ``ops.text.decontaminate_ngram``. N-gram overlap misses paraphrased
    or re-tokenized eval leakage; the standard counter (e.g. the
    contamination audits in LLM data pipelines) is a nearest-eval-vector
    sweep: for every training vector, the max cosine against the eval
    set plus a threshold flag (``screen_decontaminate``; the
    ``EVAL_STRIDE`` split makes eval membership oracle-replayable).

    Cross-engine determinism: integer-quantized components (see
    ``quantize``) make every dot/norm exact in any summation order, so
    Spark's long fold and DuckDB's ``list_dot_product`` agree bit-for-
    bit. At 10^12 training rows the broadcast-probe + partial-agg plan
    is optimal: zero corpus-sized shuffles (see the core's docstring)."""
    e = _emb(spark, sf_dir)
    return screen_decontaminate(
        e.filter(F.col("vec_id") % EVAL_STRIDE != 0), decon_eval_frame(e)
    )



def build_ann_index(
    spark, sf_dir: str, index_dir: str, m: int = PQ_M, k: int = PQ_K,
    max_rank: int = 4,
) -> None:
    """Materialize the IVFADC index to ``index_dir`` — the amortization
    step the in-query variants deliberately skip (their deterministic
    training replay is what makes them DuckDB-contractable; a production
    10^12-vector deployment trains ONCE and probes forever, per the
    kmeans_cells/pq_codes docstrings and VERDICT r3's plan audit).

    Three tables:

    - ``cells.parquet`` — (vec_id, cell, rnk) coarse-quantizer ranking
      (rnk=1 is membership; a query row's rnk ≤ nprobe is its probe
      list).
    - ``codebooks.parquet`` — (m, code, qc) trained PQ codewords
      (m·k rows; broadcast-sized by construction).
    - ``codes_by_cell.parquet`` — the compressed payload (vec_id, m,
      code), PARTITIONED BY cell: a probe reads only the probed cells'
      partitions (parquet partition pruning), which is the layout that
      makes IVFADC memory- and IO-feasible at 100 TB — ``m`` small ints
      per vector, and only ~nprobe/n_cells of them touched per query.

    One-time build cost: coarse training + PQ training + encoding + one
    vec_id-keyed join to attach cells to codes. Everything written is
    the exact integer machinery of the in-query path, so
    ``ann_ivfadc_topk_indexed`` returns bit-identical results.

    ``meta.parquet`` records the build parameters (max_rank, m, k); the
    probe validates against it, so a ``nprobe`` deeper than
    the stored ranking or an ``m`` different from the build-time PQ
    split fails loudly instead of silently probing fewer cells / joining
    the wrong codebooks (ADVICE r4)."""
    spark.createDataFrame(
        [(int(max_rank), int(m), int(k))], "max_rank int, m int, k int"
    ).coalesce(1).write.mode("overwrite").parquet(f"{index_dir}/meta.parquet")
    cells = kmeans_cells(spark, sf_dir, max_rank=max_rank)
    cells.write.mode("overwrite").parquet(f"{index_dir}/cells.parquet")
    cents = pq_codebooks(spark, sf_dir, m=m, k=k)
    cents.write.mode("overwrite").parquet(f"{index_dir}/codebooks.parquet")
    member = cells.filter(F.col("rnk") == 1).select("vec_id", "cell")
    (
        pq_codes(spark, sf_dir, m=m, k=k)
        .join(member, "vec_id")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(f"{index_dir}/codes_by_cell.parquet")
    )


def _validate_index_params(spark, index_dir: str, nprobe: int, m: int) -> None:
    """Fail loudly when a probe's parameters exceed / mismatch what
    build_ann_index stored (ADVICE r4: a deeper nprobe used to probe at
    most the stored max_rank cells with no error, and a differing m
    silently joined wrong codebooks). Pre-meta indexes (no meta.parquet)
    are accepted as built with the historical defaults (max_rank=4,
    m=PQ_M)."""
    try:
        meta = spark.read.parquet(f"{index_dir}/meta.parquet").collect()[0]
        built_rank, built_m = int(meta.max_rank), int(meta.m)
    except Exception:  # pre-meta index layout
        built_rank, built_m = 4, PQ_M
    if nprobe > built_rank:
        raise ValueError(
            f"nprobe={nprobe} exceeds the index's stored coarse ranking "
            f"depth max_rank={built_rank}; rebuild with build_ann_index("
            f"..., max_rank>={nprobe})"
        )
    if m != built_m:
        raise ValueError(
            f"m={m} does not match the index's build-time PQ split "
            f"m={built_m}; codebook join would be wrong"
        )


def ann_ivfadc_topk_indexed(
    spark,
    index_dir: str,
    sf_dir: str,
    query_vec_id: int = 0,
    nprobe: int = 1,
    m: int = PQ_M,
) -> DataFrame:
    """IVFADC probe against a ``build_ann_index`` output — identical
    results to ``ann_ivfadc_topk`` at the same (m, k, nprobe, query),
    with ZERO training in the query plan.

    The probe list (≤ nprobe cell ids) is read driver-side from the
    tiny rnk ≤ nprobe slice of the stored assignment — the same bounded
    scalar-read class as the dedup fixpoint probes (a handful of ints,
    never corpus rows) — and becomes a LITERAL partition filter, so the
    code scan statically prunes to the probed cells' files before any
    task launches. The query's distance table is (m·k) rows built from
    the stored codebooks and broadcast; scoring is one broadcast join +
    one partial-agg + TakeOrdered, reading ``m`` ints per candidate.

    (nprobe, m) are validated against the index's stored build
    parameters — see build_ann_index's meta.parquet note."""
    _validate_index_params(spark, index_dir, nprobe=nprobe, m=m)
    cells = spark.read.parquet(f"{index_dir}/cells.parquet")
    probe = [
        r.cell
        for r in cells.filter(
            (F.col("vec_id") == query_vec_id) & (F.col("rnk") <= nprobe)
        )
        .select("cell")
        .collect()
    ]
    cents = spark.read.parquet(f"{index_dir}/codebooks.parquet")
    qsub = _pq_subvectors(spark, sf_dir, m=m).filter(
        F.col("vec_id") == query_vec_id
    ).select("m", F.col("sq").alias("q_sq"))
    table = cents.join(qsub, "m").select(
        "m", "code", _pq_l2(F.col("q_sq"), F.col("qc")).alias("qd")
    )
    codes = (
        spark.read.parquet(f"{index_dir}/codes_by_cell.parquet")
        .filter(F.col("cell").isin([int(c) for c in probe]))
        .filter(F.col("vec_id") != query_vec_id)
    )
    return (
        codes.join(F.broadcast(table), ["m", "code"])
        .groupBy("vec_id")
        .agg(F.sum("qd").cast("bigint").alias("adist"))
        .orderBy(F.asc("adist"), F.asc("vec_id"))
        .limit(TOP_K)
    )
