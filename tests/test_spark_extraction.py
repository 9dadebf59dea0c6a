"""End-to-end Spark pipeline vs oracle (span-sequence equality on the
cluster path, with ~40x-length skew docs in the input)."""

import pytest

from astrospark.engine.extraction import broadcast_artifacts, extract_spans
from astrospark.fixtures import docs_dataframe, make_docs
from astrospark.oracle import process_document


@pytest.fixture(scope="module")
def bcast(spark, artifacts):
    return broadcast_artifacts(spark, artifacts)


def test_spark_matches_oracle(spark, artifacts, bcast):
    n = 80
    docs = docs_dataframe(spark, n, seed=21, skew_every=40, n_partitions=4)
    out = extract_spans(docs, bcast).collect()
    got = {}
    for r in out:
        got.setdefault(r.doc_id, []).append((r.seq, r.kind, r.text, r.media_ref, r.offset))
    vocab, trie, model = artifacts
    for d in make_docs(n, seed=21, skew_every=40):
        exp = [
            (r["seq"], r["kind"], r["text"], r["media_ref"], r["offset"])
            for r in process_document(d["spans"], vocab, trie, model)
        ]
        assert sorted(got.get(d["doc_id"], [])) == sorted(exp), d["doc_id"]


def test_output_schema(spark, bcast):
    docs = docs_dataframe(spark, 5, seed=1, skew_every=0)
    out = extract_spans(docs, bcast)
    assert [f.name for f in out.schema.fields] == [
        "doc_id", "seq", "kind", "text", "media_ref", "offset",
    ]


def test_determinism_across_parallelism(spark, artifacts, bcast):
    """Same input at different partition counts → identical spans (the
    no-nondeterminism leg of the scaling rule)."""
    a = extract_spans(docs_dataframe(spark, 30, seed=33, skew_every=0, n_partitions=2), bcast)
    b = extract_spans(docs_dataframe(spark, 30, seed=33, skew_every=0, n_partitions=7), bcast)
    ra = sorted(map(tuple, a.collect()))
    rb = sorted(map(tuple, b.collect()))
    assert ra == rb


def test_entity_profile_matches_golden(spark):
    """entity_profile (driver contract row) re-aggregated from the
    golden span parquet: identical (entity, family, n_docs, n_mentions)
    multiset, family == first whitespace token."""
    import collections
    import os
    import sys

    import pyarrow.parquet as pq

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as E

    got = {
        r.entity: (r.family, r.n_docs, r.n_mentions)
        for r in E.queries()["entity_profile"](spark, "/root/testdata/sf0.001").collect()
    }

    t = pq.read_table(
        os.path.join(os.path.dirname(__file__), "golden", "interleaved_spans.parquet")
    )
    mentions = collections.Counter()
    docs = collections.defaultdict(set)
    for doc_id, kind, text in zip(
        t["doc_id"].to_pylist(), t["kind"].to_pylist(), t["text"].to_pylist()
    ):
        if kind == "object":
            mentions[text] += 1
            docs[text].add(doc_id)
    expected = {
        e: (e.split(" ")[0], len(docs[e]), n) for e, n in mentions.items()
    }
    assert got == expected
