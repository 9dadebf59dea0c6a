"""The Spark extraction pipeline — one scan → one narrow Arrow-UDF stage → sink.

Physical plan (mirrors SURVEY.md §3.1's Spark rendition):

  scan(docs) → [salted repartition on doc_id]
             → [skew split: giant docs exploded into per-chunk rows]
             → mapInPandas(extract_batch)      # the ONLY process boundary
             → [window re-rank for split docs only]
             → sink

The gazetteer (set + trie) and CRF weight tables are built once on the
driver and shipped as ONE Spark broadcast; the Python worker caches the
deserialized artifacts per process (module-level), mirroring the
reference's per-JVM singletons (AstroParser.java:67-81,
AstroLexicon.java:46-53).

Skew: doc_id is unique, so key-salting alone cannot fix size skew — a
100x-length document makes a straggler task. Docs whose span text exceeds
``split_threshold`` chars are exploded into per-chunk rows before the UDF
(extraction is chunk-independent; only the final per-doc seq rank needs
cross-chunk context), processed, then re-ranked with a window restricted
to the split subset. The normal path stays shuffle-free.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# kernel emits an internal exclusive char-end used for exact re-ranking of
# split documents; the engine drops it from the public output
KERNEL_SCHEMA = (
    "doc_id string, seq int, kind string, text string, media_ref string, "
    "offset int, end int"
)
OUTPUT_COLUMNS = ("doc_id", "seq", "kind", "text", "media_ref", "offset")

# worker-side cache: broadcast id -> unpacked artifacts
_ARTIFACT_CACHE: dict = {}


def load_default_artifacts():
    """(vocab, trie, model) from the packaged resources — driver side.

    Uses importlib.resources when the on-disk path is absent so the same
    code works with astrospark shipped as a zip via spark-submit
    --py-files (np.load accepts the file-like resource stream)."""
    import os

    from astrospark.crf import CrfModel
    from astrospark.lexicon import load_artifacts
    from astrospark.train import WEIGHTS_PATH

    vocab, trie = load_artifacts()
    if os.path.exists(WEIGHTS_PATH):
        model = CrfModel.load(WEIGHTS_PATH)
    else:
        import io
        from importlib import resources

        blob = (resources.files("astrospark") / "resources" / "weights.npz").read_bytes()
        model = CrfModel.load(io.BytesIO(blob))  # np.load needs a seekable stream
    return vocab, trie, model


def broadcast_artifacts(spark, artifacts=None):
    """Broadcast (vocab, trie, model) once per session."""
    artifacts = artifacts or load_default_artifacts()
    vocab, trie, model = artifacts
    payload = (vocab, trie, model.vocabs, model.weights, model.trans)
    return spark.sparkContext.broadcast(payload)


def _get_artifacts(bcast):
    key = id(bcast)
    hit = _ARTIFACT_CACHE.get(key)
    if hit is None:
        from astrospark.crf import CrfModel
        from astrospark.lexicon import vocab_index

        vocab, trie, vocabs, weights, trans = bcast.value
        vocab_index(vocab)  # the kernel's gazetteer membership, built at load
        hit = (vocab, trie, CrfModel(vocabs, weights, trans))
        _ARTIFACT_CACHE.clear()  # one model live per worker
        _ARTIFACT_CACHE[key] = hit
    return hit


def make_extractor(bcast):
    """mapInPandas function closure over the broadcast artifacts."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from astrospark.kernel import extract_batch

        vocab, trie, model = _get_artifacts(bcast)
        for pdf in batches:
            if len(pdf):
                yield extract_batch(pdf, vocab, trie, model)

    return extract


def doc_text_size(col="spans"):
    """Total extractable char count of a doc (skew routing metric)."""
    return F.aggregate(
        col, F.lit(0), lambda acc, s: acc + F.length(F.coalesce(s["text"], F.lit("")))
    )


def extract_spans(
    docs: DataFrame,
    bcast,
    n_partitions: int | None = None,
    split_threshold: int | None = None,
    salt_buckets: int = 64,
) -> DataFrame:
    """docs(doc_id, spans) → spans(doc_id, seq, kind, text, media_ref, offset).

    ``n_partitions``: target width of the narrow stage (defaults to
    spark.sql.shuffle.partitions). Salted repartition keeps row counts
    uniform regardless of upstream layout (north_rule requirement).

    ``split_threshold``: when set, docs whose text exceeds it take the
    skew path (explode → extract → window re-rank). This costs a SECOND
    scan of the input (the size predicate can't fork a DataFrame in one
    pass), so it is OFF by default: the kernel's memory/time is linear in
    doc size and a task with one giant doc is a bounded straggler, which
    AQE-coalesced sibling partitions absorb. Enable it for corpora with
    pathological (≫100 MB text) documents, where 2x scan IO is cheaper
    than the straggler.
    """
    spark = docs.sparkSession
    n_partitions = n_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    extractor = make_extractor(bcast)

    if split_threshold is None:
        small = docs
        big = None
    else:
        sized = docs.withColumn("_sz", doc_text_size())
        small = sized.filter(F.col("_sz") <= split_threshold).drop("_sz")
        big = sized.filter(F.col("_sz") > split_threshold).drop("_sz")

    # normal path: salted uniform repartition → one narrow UDF stage
    salted = small.withColumn(
        "_salt", F.pmod(F.xxhash64("doc_id"), F.lit(salt_buckets))
    )
    small_out = (
        salted.repartition(n_partitions, F.col("doc_id"), F.col("_salt"))
        .drop("_salt")
        .mapInPandas(extractor, schema=KERNEL_SCHEMA)
    )
    if big is None:
        return small_out.select(*OUTPUT_COLUMNS)

    # skew path: explode giant docs into per-chunk rows, extract, re-rank.
    # Extraction is chunk-independent; only seq needs cross-chunk context,
    # re-assigned with a window using the same sort key as the in-batch
    # rank (offset, end, kind, text, media_ref).
    big_chunks = big.select(
        "doc_id", F.posexplode("spans").alias("_chunk_pos", "_span")
    ).select("doc_id", F.array("_span").alias("spans"))
    big_raw = big_chunks.repartition(n_partitions).mapInPandas(
        extractor, schema=KERNEL_SCHEMA
    )
    w = Window.partitionBy("doc_id").orderBy(
        "offset", "end", "kind", "text", "media_ref"
    )
    big_out = big_raw.withColumn(
        "seq", (F.row_number().over(w) - F.lit(1)).cast("int")
    )

    return small_out.unionByName(big_out).select(*OUTPUT_COLUMNS)
