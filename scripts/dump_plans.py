"""Dump physical plans of the headline queries → PLANS.md, with the
scale-relevant properties called out (pushed filters, pruned schemas,
broadcast joins, partial aggregation, single narrow UDF stage)."""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

NOTES = {
    "extract_flagship": (
        "One scan → repartition on doc_id → ONE MapInPandas stage → project. "
        "No other shuffle; ReadSchema carries only doc_id+spans."
    ),
    "p2_blank_filter": (
        "ReadSchema pruned to exactly the projected columns + filter input; "
        "the filter itself (length(trim(text))>0 — a function of a column, "
        "not parquet-pushable) runs fused in WholeStageCodegen directly on "
        "the columnar scan output, before anything wider materializes."
    ),
    "j1_dict_semijoin": (
        "Dictionary side is BroadcastExchange → BroadcastHashJoin; the big "
        "side never shuffles for the join; partial_count before the final "
        "per-doc aggregation exchange."
    ),
    "a4_source_stats": (
        "HashAggregate(partial) → Exchange → HashAggregate(final): map-side "
        "combine bounds the shuffle to one row per (source,lang) per task."
    ),
    "dedup_minhash_lsh": (
        "Signatures: exploded shingles feed partial-min HashAggregate — "
        "only 16 minhash strings per doc cross the shuffle, no distinct "
        "pass. Candidates: posting-list aggregation per (band_id, key) "
        "bucket with JVM-side pair expansion — never a self-join, never a "
        "cross join."
    ),
    "dedup_cc_clusters": (
        "Iterative min-label propagation with pointer doubling over the "
        "LSH pair graph: O(log diameter) rounds, each two label-key "
        "shuffles over the edge-touched subgraph only; per-round "
        "checkpointing (reliable checkpoint-dir files when configured, "
        "else local blocks with deterministic superseded-round release) "
        "truncates the lineage, so the final plan joins the "
        "converged (node,lbl) scan against the corpus — the full corpus "
        "is touched exactly once, at the closing left join."
    ),
    "dedup_ngram_jaccard": (
        "Posting-list shape: ONE collect_set aggregation builds the "
        "per-shingle doc list; df<=MAX_DF bounds every list before pair "
        "expansion, so the k² blow-up of a shingle self-join never reaches "
        "the shuffle. Size joins run post-aggregation on doc keys (AQE "
        "broadcasts the small side at this SF)."
    ),
    "emb_neardup_pairs": (
        "Bucket equi-join (sign-LSH key); per-vector norms are computed "
        "once BEFORE the join — per joined pair only the dot product "
        "remains, all JVM-side higher-order functions, no Python UDF."
    ),
    "ann_cosine_topk": (
        "Query vector broadcast (BroadcastNestedLoopJoin over a 1-row "
        "side); cosine arithmetic runs JVM-side in higher-order functions; "
        "TakeOrderedAndProject caps the result without a global sort."
    ),
    "ann_rp_topk": (
        "Scale-default ANN: 64 random-hyperplane sign bits computed "
        "JVM-side (exact integer dots over quantized vectors), banded into "
        "4×16-bit keys (65k buckets/band) probed at LSH-forest depths "
        "16→8. The probe is a BroadcastHashJoin of ~8 query keys against "
        "the corpus key table — the corpus side never self-joins and the "
        "bucket key is never O(1)-cardinality; exact-cosine rerank only "
        "touches the candidate set."
    ),
    "emb_neardup_banded": (
        "Near-dup default at scale: full-depth 16-bit band keys → "
        "posting-list aggregation (collect_set ≤ max_bucket=1000, "
        "oversized boilerplate buckets routed out) → JVM-side pair "
        "expansion → exact-cosine verify with per-vector norms computed "
        "once. Same bounded-bucket discipline as dedup_minhash_lsh; "
        "replaces the 16-bucket sign-LSH join (kept only as the oracle "
        "setting in emb_neardup_pairs)."
    ),
    "knn_join": (
        "Whole-table approximate k-NN self-join (semantic-dedup "
        "workhorse): banded RP-LSH keys at depths 16+8 equi-self-joined "
        "with the bounded-bucket guard (max_bucket=1000), exact-cosine "
        "verify, per-vector rank window. The shuffle key is the "
        "2^16-cardinality band key; no cross product, no all-pairs."
    ),
    "dedup_simhash_pairs": (
        "Manku-style web dedup: 64-bit SimHash split into 4×16-bit bands "
        "(hamming≤3 ⇒ ≥1 exact band collision), posting-list candidate "
        "expansion per 65k-key band bucket, xor+popcount verify — all "
        "JVM-side integer arithmetic, one aggregation over exploded "
        "words with map-side partial sums."
    ),
    "ann_ivf_kmeans_topk": (
        "Production IVF: centroids TRAINED by deterministic Lloyd k-means "
        "(fixed iterations; per step one 8-row broadcast join + one "
        "cell-keyed aggregation with map-side partial avg — vectors never "
        "shuffle against each other), then the same integer-exact "
        "assignment and a broadcast probe of the query's nprobe nearest "
        "cells (default 1 — the oracle setting; one cached rank-4 "
        "assignment serves membership and probe lists). The nprobe=1 "
        "iteration replays bit-for-bit in the DuckDB oracle (unrolled "
        "CTEs)."
    ),
    "ann_ivf_topk": (
        "IVF probe: broadcast centroids, cell assignment via windowed "
        "argmax over a cross-engine-deterministic integer-quantized score "
        "(exact dot / sqrt of exact norm² — single IEEE ops, no rounded "
        "cosine); only the query's cell is scanned at probe time."
    ),
    "repetition_filters": (
        "Gopher repetition rules: bigram char-coverage AND trigram "
        "dup-fraction both run explode → partial-agg → per-doc stats — "
        "doc_id-keyed shuffles linear in gram volume, never a pairwise "
        "self-join (an in-row array_distinct variant was quadratic per "
        "document and re-evaluated per column; replaced after measurement)."
    ),
    "decontaminate_ngram": (
        "Eval-set n-grams (tiny vs the corpus) broadcast to the exploded "
        "training grams — no shuffle on the gram key; the only exchange is "
        "the doc_id-keyed count of matched grams, bounded by match volume."
    ),
    "semantic_dedup": (
        "SemDeDup over trained k-means cells: assignment is broadcast-"
        "centroid scoring (no vector-vs-vector shuffle); pairs expand "
        "JVM-side from cell-keyed sorted posting lists (ONE shuffle on "
        "cell, max_cell-bounded like the LSH buckets), then precomputed-"
        "norm exact-cosine verify and a left join back for is_kept."
    ),
    "corpus_curation": (
        "The composed 4-stage selection plans as LEFT SEMI joins over one "
        "documents scan — no row multiplication, stage probes all "
        "doc_id-keyed (bucketable to exchange-free at scale)."
    ),
    "dedup_keep_best": (
        "Longest-wins canonical selection: cluster labels join back to "
        "the corpus on doc_id (bucketable at scale), then ONE window "
        "shuffle on cluster_id ranks members by integer (n_chars DESC, "
        "doc_id) — no float compare, no extra pass over the pair graph."
    ),
    "sample_stratified": (
        "Hash-uniform stratified sampling is scan → project → filter: "
        "zero exchanges, keep decision a pure function of (doc_id, lang) "
        "— reproducible under task retries, unlike rand()-based sampling."
    ),
    "pack_sequences": (
        "Sequence packing avoids the global-sort funnel: docs hash to "
        "independent shard streams, the token cumsum is a per-shard "
        "window — ONE hashpartitioning Exchange, no rangepartitioning, "
        "shard count scales with the corpus."
    ),
    "b1_boilerplate_strip": (
        "Main-content extraction is a pure projection: split + higher-order "
        "filter + join run fused on the scan output — no UDF, no shuffle, "
        "whole plan is scan → project."
    ),
    "r1_pricing_summary": (
        "The l_shipdate range predicate reaches the parquet scan as a "
        "PushedFilter; ReadSchema is pruned to the 7 referenced columns; "
        "partial → exchange → final HashAggregate on (flag, status)."
    ),
    "r2_segment_revenue": (
        "Dimension side (customer) is BroadcastExchange → BroadcastHashJoin; "
        "the orders fact table never shuffles for the join."
    ),
    "r3_priority_with_lineitems": (
        "EXISTS as LeftSemi join — no row multiplication; AQE picks the "
        "join strategy from runtime sizes."
    ),
    "w2_user_sessions": (
        "Single shuffle on user_id serves BOTH the lag window and the "
        "final aggregation (Catalyst reuses the partitioning)."
    ),
    "importance_weights": (
        "DSIR scoring: bucket counting is one Exchange on the 2^16-key "
        "bucket space with partial aggregation; the weight table (<=65536 "
        "rows) comes back via BroadcastExchange → BroadcastHashJoin onto "
        "the exploded word stream, so scoring shuffles only on doc_id."
    ),
    "source_quality_gate": (
        "Host-level gate: one partial-agg Exchange keyed by source (tiny "
        "dimension), the verdict table broadcasts back onto the corpus "
        "scan — the per-doc gating pass never reshuffles the corpus."
    ),
    "asof_attribution": (
        "As-of join as union + ordered window: clicks and purchases union "
        "into one stream, ONE hashpartitioning on user_id feeds the "
        "last-click carry-forward window — no join node at all, so no "
        "per-user row multiplication and no range partitioning."
    ),
    "ann_pq_topk": (
        "PQ asymmetric-distance scoring: the m*k-row query distance table "
        "BroadcastExchanges onto the code table; ranking is a TakeOrdered "
        "over one doc-keyed sum — raw database vectors are never read by "
        "the scoring stage, only PQ_M small codes per vector (production default 8x256; the 4x16 oracle pin shares the plan shape)."
    ),
    "ann_ivfadc_topk": (
        "IVFADC: the query's probed cells and the m*k-row ADC distance "
        "table both BroadcastExchange onto the code table; candidates are "
        "cell-pruned BEFORE scoring, so the scan cost is the probed "
        "cells' code rows, not the corpus."
    ),
    "bm25_topk": (
        "Retrieval plan built per query, search-engine style: per-term "
        "tf/dl are array expressions on ONE corpus scan (no explode, no "
        "tokenize shuffle), the 1-row (N, sum_dl, df_t) stats frame "
        "broadcasts back, and the top-k is TakeOrderedAndProject — zero "
        "hash-partition exchanges at any corpus size."
    ),
    "perplexity_filter": (
        "LM fit is one vocab-keyed partial-combined agg; the (T,V) "
        "normalizer is a 1-row broadcast; scoring joins the word stream "
        "to the surprisal table on the word key (auto-broadcast here; at "
        "web-scale vocab the honest shape is a shuffle join or the "
        "hashed-vocab importance_weights variant), then ONE doc_id agg."
    ),
    "pii_redact": (
        "PII scrub is scan → project with ZERO exchanges and zero UDFs: "
        "regexp_extract_all / regexp_replace run JVM-side in the same "
        "pass as any per-doc projection."
    ),
    "corpus_stats_rollup": (
        "ROLLUP plans as Expand → partial HashAggregate → ONE Exchange "
        "on the grouping-set key: the 3× replicated rows collapse "
        "map-side, so the wire carries ~(distinct groups × 3), not the "
        "corpus."
    ),
    "token_cooccurrence": (
        "Co-mention self-join: per-doc distinct dictionary hits bound "
        "the doc_id equi-join fan-out at |dict|² pairs per document (no "
        "cross product); the pair agg keys a |dict|²-bounded space and "
        "the marginal + corpus-total tables broadcast back."
    ),
    "cooccur_pagerank": (
        "Bulk-synchronous PageRank: per iteration ONE edges⋈ranks join "
        "+ ONE dst-keyed agg with map-side combine; the persisted edge "
        "list keeps the corpus self-join out of the per-iteration "
        "lineage, and un-hinted joins let the whole chain run as one "
        "job instead of an eager broadcast job per iteration."
    ),
    "embedding_hygiene": (
        "Vector ingest gate: scan → project, zero exchanges, zero UDFs "
        "— NaN scan and quantized-integer norms are per-vector array "
        "expressions in one codegen stage."
    ),
    "dedup_substring_pairs": (
        "Exact-substring dedup as bounded posting lists (the "
        "dedup_ngram_jaccard shape): ONE window-key shuffle, DF-capped "
        "collect buffers, JVM-side pair expansion — never a window "
        "self-join, never an unbounded buffer."
    ),
    "hll_distinct_words": (
        "Mergeable cardinality sketch: ONE (source, bucket) max-agg "
        "shuffle with map-side combine — 10^12 words collapse to <=64 "
        "rows per source per task; register tables from different "
        "partitions union+max without rescans (the point of sketches)."
    ),
    "heavy_hitters_cmsketch": (
        "Mergeable frequency sketch: the 256-cell count-min build is ONE "
        "(row, bucket) count-agg with map-side combine — word occurrences "
        "collapse to <=256 rows per task, no word-keyed shuffle; the "
        "dictionary readout joins against the BROADCAST sketch. Cells are "
        "sum-mergeable across shards/days."
    ),
    "bottomk_sample": (
        "Deterministic mergeable sample: ONE exchange on source, and "
        "Catalyst's WindowGroupLimit sits BELOW it — each input partition "
        "ships only its local bottom-k, O(k·partitions) shuffle rows per "
        "source instead of the corpus (two-phase top-k derived from the "
        "declarative rank<=k filter)."
    ),
    "ntile_histogram": (
        "Equi-depth histogram (range-partition planning stats): ONE "
        "exchange on source feeding the spillable window sort; cells "
        "aggregate map-side after assignment. Exact ANSI ntile rule, "
        "identical in DuckDB over the deterministic total order."
    ),
    "quantile_sketch": (
        "Mergeable log2-histogram quantiles (the scale path beside "
        "ntile): documents collapse map-side into <=64 (source, bucket) "
        "cells — partial_count below the first exchange — and every "
        "window/join after that touches cells only; integer ceil-rank "
        "readout replays exactly in DuckDB."
    ),
    "dedup_incremental": (
        "Batch-vs-index screening: candidate generation is ONE band-key "
        "equi-join of the new batch against the (stored-at-scale) index "
        "signatures — never index x index; index-side buckets bounded "
        "like dedup_minhash_lsh; one row_number window picks the best "
        "match by an integer total order."
    ),
    "interval_join": (
        "Range join as an equi-join: intervals explode to the time "
        "buckets they cover (<=2 rows at the 1h bucket = window width), "
        "probes compute their single bucket for free, and the join is a "
        "plain shuffle equi-join on the bucket key + exact range filter "
        "— never BroadcastNestedLoopJoin/cartesian (plan-pinned), "
        "AQE-skew-splittable, linear at scale."
    ),
    "salted_join": (
        "Hot-key mitigation: the fact side's join key becomes "
        "(user_id, xxhash64(event_id) % 8) so the ~15-user key space "
        "spreads over 8x the partitions; the profile side replicates "
        "x8 via explode. Salt is content-derived (retry-deterministic) "
        "and plan-internal — results identical to the unsalted join, "
        "which is what the oracle replays."
    ),
    "zorder_cells": (
        "Morton layout rollup: min-max scale both dims to 16 bits "
        "(broadcast 1-row stats — the classic unequal-bit-width pitfall "
        "degenerates the curve to a single sort otherwise), interleave "
        "with pure shift/and/or (whole-stage codegen, no UDF), roll up "
        "8-bit-prefix cells. One exchange for the final agg; the write "
        "path (repartitionByRange on the key + sortWithinPartitions) "
        "is what OPTIMIZE ZORDER does in table formats."
    ),
    "overlap_bottomk": (
        "Theta-sketch intersection: distinct (source, word) is the only "
        "corpus-sized shuffle; WindowGroupLimit ships each partition's "
        "local bottom-k only. Everything after runs on <= sources x 64 "
        "sketch rows — the pair expansion is a broadcast theta join "
        "against the tiny sketch frame, dictionary-bounded by "
        "construction; sketches sum-merge across shards (asserted)."
    ),
    "funnel_stages": (
        "Ordered funnel in ONE user_id exchange: per-user sorted event "
        "array (ObjectHashAggregate collect_list) folded three times "
        "with JVM aggregate() lambdas — no per-stage re-shuffle, no "
        "self-join (plan-pinned <= 2 exchanges incl. the 4-row stage "
        "rollup). The oracle replays the same semantic as chained "
        "conditional-min CTEs."
    ),
    "sample_weighted": (
        "Weight-proportional sampling with ZERO pre-limit shuffles: the "
        "min-of-w md5 replica keys fold IN-ROW (transform + array_min — "
        "no explode, no re-aggregation), and the global bottom-k is "
        "TakeOrderedAndProject: per-partition local top-k, k x "
        "partitions rows to the driver. Salt-rekeyable for independent "
        "draws; P(i before j) = w_i/(w_i+w_j) exactly."
    ),
    "chunk_sliding": (
        "Sliding-window RAG chunking as a PURE MAP STAGE: whitespace "
        "collapse, tokenize, the stride-advancing start sequence, the "
        "posexplode into chunk rows, and the slice+join chunk assembly "
        "are all per-row JVM expressions — one Generate, no Exchange. "
        "Row growth bounded by ceil(n_tok/stride) per doc; pipelines "
        "straight into the downstream embedder/indexer shuffle."
    ),
    "dedup_edit_verify": (
        "Exact Levenshtein verify of simhash candidates: the O(len^2) "
        "DP runs ONLY on banding-stage candidate pairs (bucket-capped), "
        "never all-pairs, and the threshold engages Spark's banded "
        "Ukkonen DP (O(max_dist x len) per pair, early-exit -1). Texts "
        "arrive via doc_id equi-joins (co-located under doc_id "
        "bucketing). Kills the bag-of-words false-positive class the "
        "order-invariant fingerprint admits."
    ),
    "ssjoin_prefix": (
        "EXACT set-similarity join, losslessly prefix-filtered: each "
        "doc joins only its (1-tau)|x|+1 globally-RAREST shingles "
        "against posting lists, so candidate volume concentrates on "
        "low-df keys by construction (the rarity ordering is the skew "
        "defense). One distinct-shingle shuffle reused for df counts, "
        "prefixes, and verify arrays; verify is exact integer "
        "arithmetic on candidates only. No recall knob — the filter is "
        "proven equal to brute-force all-pairs by test."
    ),
    "trailing_window_agg": (
        "Per-event trailing-24h RANGE frame: ONE user_id exchange into "
        "a spillable window sort, then a sliding two-pointer frame pass "
        "— no self-join, no explode, rows never multiply. Integer "
        "microsecond keys (TZ offset cancels in the bound), exact-cents "
        "sums, ANSI peer-row semantics shared with DuckDB."
    ),
    "cooccur_triangles": (
        "Degree-oriented triangle counting (Cohen / Suri-Vassilvitskii): "
        "edges orient from the (deg,tok)-smaller endpoint, wedges emit "
        "only at each edge's SOURCE, one equi-join closes them — wedge "
        "volume O(m^1.5) regardless of hub skew (an unoriented join "
        "emits d^2 wedges per hub). Strong-edge selection by the exact "
        "integer above-mean rule; strong/oriented frames scoped-persist "
        "for their 3 consumers each."
    ),
    "scd2_intervals": (
        "Type-2 SCD / CDC compaction from the event change stream: ONE "
        "user_id exchange serves all four window passes (per-user epoch "
        "base, lag change-detection, row_number versioning, lead "
        "interval-close) — the filter between passes preserves the hash "
        "distribution so Spark plans zero extra Exchanges. Times emitted "
        "user-relative so the session-TZ offset cancels; open intervals "
        "use an integer sentinel, never NULL."
    ),
    "budget_select": (
        "Per-source token-budget selection by THRESHOLD, not prefix "
        "sort: docs hash-agg into (source, integer-quality-class) token "
        "masses, the tiny class frame cumsums per source, and the "
        "whole-class keep/cut verdict broadcasts back onto the doc "
        "stream — nothing ever sorts documents, so a 10-TB domain "
        "never lands on one partition."
    ),
    "leakage_safe_split": (
        "Train/val/test split hashed on the dedup-cluster label (CC "
        "fixpoint), so near-duplicate documents move between splits as "
        "atoms — one scan-side md5-u32 projection on top of the CC "
        "labeling, no new shuffle, retry-deterministic."
    ),
    "dedup_sorted_neighborhood": (
        "Sorted-neighborhood merge/purge: candidate count <= (W-1)*N "
        "BY CONSTRUCTION — content skew cannot inflate it (no hot-"
        "bucket caps needed, unlike LSH banding). Key = in-row seed-0 "
        "minhash; global rank via the no-SinglePartition contiguous-"
        "ids machinery; neighbor pairing is an equi-join on the dense "
        "seq DIV W bucket (exactly W home rows per bucket — perfectly "
        "balanced); exact integer Jaccard verifies in-row."
    ),
    "event_transitions": (
        "First-order Markov transition matrix: ONE user_id exchange "
        "feeds lead(), then the step stream collapses map-side into "
        "|event_type|^2 cells; per-from totals are a window over that "
        "tiny frame. The naive self-join alternative is per-user "
        "quadratic; lead() is linear and never multiplies rows."
    ),
    "tfidf_top_terms": (
        "Per-doc top-k tf-idf keywords, all integer (log2q idf): "
        "(word, tf) pairs built IN-ROW (no doc-word pre-agg shuffle), "
        "df is a vocab-bounded map-side-combined agg whose idf frame "
        "BROADCASTS back, zero-idf words cut before the only wide "
        "exchange (the doc_id top-k window, under WindowGroupLimit "
        "rank-limit pushdown)."
    ),
    "cohort_retention": (
        "Day-N retention matrix with NO countDistinct Expand: "
        "(user_id, day) is distinct'd first (burst collapse), persisted "
        "once for both consumers (single parquet scan), the first-event "
        "agg and activity join share the user_id key, and cohort size "
        "is a window over the tiny aggregated (day x offset) frame — "
        "no second scan, no extra join."
    ),
    "lang_source_pivot": (
        "Pinned-values pivot: no values-discovery job (an unpinned "
        "pivot first runs a full distinct over the pivot column), and "
        "both aggregations are map-side combined — the shuffles carry "
        "at most sources x |langs| cells. Dense zero-filled output."
    ),
    "contiguous_ids": (
        "Contiguous 0..N-1 ids WITHOUT Exchange SinglePartition (the "
        "naive global row_number's one-task funnel): range repartition "
        "establishes order, per-partition counts (bounded driver "
        "metadata, n_parts rows) prefix-sum into offsets, and the "
        "offset table broadcasts back onto per-partition row_numbers. "
        "Result is boundary-independent for unique keys."
    ),
    "entity_profile": (
        "Extraction (single MapInPandas stage) feeds a two-phase "
        "count(DISTINCT doc_id) aggregate keyed by the bounded entity "
        "vocabulary — the wide exchange never carries the span stream."
    ),
    "entity_cooccur": (
        "Per-doc DISTINCT entity sets self-join on doc_id (pair fanout "
        "bounded by per-doc entity count²), then one vocabulary-keyed "
        "count agg with the support>=2 filter inside the exchange."
    ),
    "bpe_merges": (
        "Pair stats flow through the word-frequency table: vocab-keyed "
        "partial-count agg, in-row higher-order pair generation, "
        "alphabet²-bounded pair aggregate, TakeOrderedAndProject top-k; "
        "the round-1 winner re-enters as a broadcast 1-row nested-loop "
        "side. Measured: no exchange carries the occurrence stream "
        "(tests/test_shuffle_volume.py)."
    ),
    "bigram_lm_score": (
        "In-row bigram construction (no positional self-join); bigram "
        "and context counts are vocab-keyed partial aggregates; V is a "
        "1-row broadcast; the per-doc mean is the only corpus-keyed "
        "exchange."
    ),
    "containment_pairs": (
        "Same bounded rare-shingle posting machinery as jaccard (one "
        "shingle shuffle, MAX_DF cap before collect_set, JVM pair "
        "expansion); directed fanout happens after the integer "
        "threshold filter."
    ),
    "contrastive_negatives": (
        "Bounded anchor set broadcasts against ONE vector-table scan; "
        "the md5-nibble gate prunes 15/16 of candidates before any "
        "cosine arithmetic; per-anchor top-k under WindowGroupLimit."
    ),
    "lang_confusion": (
        "One scan computes the detector argmax inline next to the "
        "declared label (no doc_id self-join); |langs|²-cell partial "
        "aggregate."
    ),
    "temperature_sample": (
        "Source-keyed token-mass partial aggregate, 1-row min broadcast, "
        "per-source threshold frame broadcast back onto the doc stream; "
        "keep verdict is hash-pure per row — zero corpus sorts."
    ),
    "embedding_dim_stats": (
        "posexplode ×dim fans rows out, but map-side combine collapses "
        "each task to |dims| cells — the exchange is corpus-size-"
        "independent, like the sketch family."
    ),
    "snapshot_diff": (
        "Both sides project (doc_id, md5) before the single full-outer "
        "SortMergeJoin on doc_id — the wide text column never crosses "
        "the exchange; bucketed tables would make it shuffle-free."
    ),
    "media_kind_stats": (
        "Extraction output → |schemes|-keyed two-phase distinct "
        "aggregate; nothing corpus-sized shuffles."
    ),
    "entity_degree_hist": (
        "Edge list (vocab-bounded) → degree agg → histogram agg; the "
        "corpus never re-enters the plan."
    ),
    "winsorize_bounds": (
        "ONE source-keyed window computes ranks and counts together; "
        "the (source, lo, hi) frame broadcasts back for the clamp — "
        "exact per-group quantiles pay exactly one per-group sort."
    ),
    "dup_rate_by_source": (
        "Two map-side-combined aggregates: (source, md5) sizes then "
        "per-source totals; nothing corpus-keyed leaves the second "
        "exchange."
    ),
    "bpe_encode": (
        "Winner pairs enter as broadcast 1-row nested-loop sides; the "
        "encode itself is a zero-shuffle in-row aggregate over the scan."
    ),
    "semantic_decontaminate": (
        "Benchmark-sized eval set broadcasts; the training corpus is "
        "scanned once and the per-vector argmax is a map-side-combined "
        "max(struct) — the exchange carries one partial per (task, "
        "vec_id), never a corpus self-join."
    ),
    "boilerplate_ngrams": (
        "Gram stream shuffled only for the df statistic — the standard "
        "two-exchange partial-distinct, carrying distinct (gram, doc) "
        "pairs rather than raw occurrences; the report is TakeOrdered "
        "top-k and total_docs rides in as a broadcast 1-row side."
    ),
    "quality_zscore": (
        "One map-side-combined aggregate to a |sources|-row integer-"
        "moment frame, broadcast back onto the doc stream — zero "
        "corpus-sized shuffles, exact BIGINT moments."
    ),
}


def main() -> None:
    import __spark_entry__ as E
    from astrospark.engine.session import build_session

    spark = build_session(app_name="plan-dump", master="local[4]", shuffle_partitions=8)
    qs = E.queries()
    out = [
        "# PLANS — physical-plan evidence for the headline operators\n",
        "Generated by `python scripts/dump_plans.py` (Spark "
        + spark.version
        + ", AQE on). Excerpts show the plan properties that matter at "
        "100 TB; regenerate after plan-affecting changes.\n",
    ]
    for name, note in NOTES.items():
        df = qs[name](spark, "/root/testdata/sf0.001")
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain(mode="formatted")
        plan = buf.getvalue()
        # keep the tree + scan details; drop the long per-node dumps except
        # scans/joins/aggregates/UDF nodes
        tree_end = plan.find("\n\n(1)")
        tree = plan[: tree_end if tree_end > 0 else len(plan)]
        keep = []
        for block in re.split(r"\n\n(?=\(\d+\))", plan[len(tree):]):
            if re.search(
                r"Scan parquet|BroadcastExchange|HashJoin|MapInPandas|"
                r"HashAggregate|TakeOrdered|Window|NestedLoop",
                block.split("\n", 1)[0],
            ):
                keep.append(block.strip())
        out.append(f"## {name}\n\n{note}\n\n```\n{tree.strip()}\n")
        if keep:
            out.append("\n".join(keep[:8]))
        out.append("```\n")
    with open(os.path.join(REPO, "PLANS.md"), "w") as fh:
        fh.write("\n".join(out))
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
