"""The Spark extraction pipeline — one scan → one narrow Arrow-UDF stage → sink.

Physical plan (mirrors SURVEY.md §3.1's Spark rendition):

  scan(docs) → repartition(n_partitions, doc_id)
             → mapInPandas(extract_batch)      # the ONLY process boundary
             → sink

The gazetteer (set + trie) and CRF weight tables are built once on the
driver and shipped as ONE Spark broadcast; the Python worker caches the
deserialized artifacts per process (module-level), mirroring the
reference's per-JVM singletons (AstroParser.java:67-81,
AstroLexicon.java:46-53).

Skew: doc_id is unique, so there is no hot key to split, and no key salt
can split a doc that is long. The one hash exchange spreads docs evenly
by count; a giant doc is a bounded straggler (the kernel's time and
memory are linear in doc size) that AQE-coalesced sibling partitions
absorb.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame

from astrospark.train import load_default_artifacts

# the kernel also emits its exclusive char-end; the engine drops it from
# the public output
KERNEL_SCHEMA = (
    "doc_id string, seq int, kind string, text string, media_ref string, "
    "offset int, end int"
)
OUTPUT_COLUMNS = ("doc_id", "seq", "kind", "text", "media_ref", "offset")

# worker-side cache: broadcast id -> unpacked artifacts
_ARTIFACT_CACHE: dict = {}


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


def extract_spans(docs: DataFrame, bcast, n_partitions: int | None = None) -> DataFrame:
    """docs(doc_id, spans) → spans(doc_id, seq, kind, text, media_ref, offset).

    ``n_partitions``: width of the narrow stage (defaults to
    spark.sql.shuffle.partitions). The repartition on doc_id keeps doc
    counts uniform across tasks whatever the upstream layout.
    """
    spark = docs.sparkSession
    n_partitions = n_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    return (
        docs.repartition(n_partitions, "doc_id")
        .mapInPandas(make_extractor(bcast), schema=KERNEL_SCHEMA)
        .select(*OUTPUT_COLUMNS)
    )
