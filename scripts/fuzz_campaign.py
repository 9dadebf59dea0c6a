"""Adversarial fuzz campaigns: kernel and Spark pipeline vs the scalar
oracle, beyond the committed hypothesis tests.

Campaign A (kernel, multi-doc batches): 24k random interleaved docs —
gazetteer names, truncated near-names, unicode delimiter soup, NBSP,
empty chunks, media-only docs, mixed kinds — span-for-span equality with
many docs per extract_batch call (catches cross-document state leaks
through the batch-level factorization).

Campaign B (Spark pipeline, giant docs): 120 docs of 2k-15k tokens across
text/table/figure/media chunks, run through extract_spans — catches
long-sequence decode drift (the float64 fix, commit 3f7769b, was found by
this campaign) and any divergence between the Spark path and the oracle.

Campaign C (reference character inventory): vocab/trie built from the
REAL astroVoc.txt (read-only) and fuzz texts drawn from its 12,926 SIMBAD
names — exercises the delimiter-heavy identifiers ('[', '+', '.', '*',
'(', ')', ''', '/') that a synthetic gazetteer cannot reach.

Campaign D (mixed scorer): the same adversarial generators decoded under
a freshly trained LOGISTIC artifact (the scorer plug seam) — the kernel
must match the oracle for any model the plug produces.

Run: python scripts/fuzz_campaign.py   (exit 0 = all equal)
Last recorded (round 3, default artifacts): A: 24000 docs / 147479
spans / 0 mismatches; B: 120 docs / 117646 spans / 0 mismatches; C: 9000
docs / 57065 spans / 0 mismatches; D: 6040 docs under logistic scorer
(held-out f1 0.878) / 103335 spans / 0 mismatches.
"""

from __future__ import annotations

import os
import random
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

ALPHA = (
    list("abcXYZ019 .,-()[]\"'`/+=<>!?;:%$^*")
    + ["\u03c3", "\u03b2", "\u2013", "\u2014", "\u00a0", "\n", "\t",
       "\u2030", "\u00b0", "\u2248", "\u2026", "\u65e5", ""]
)
KINDS = ["text", "table", "figure", "paragraph", "media", "title", "abstract"]


def _rand_text(rng, names):
    parts = []
    for _ in range(rng.randint(0, 14)):
        r = rng.random()
        if r < 0.25:
            parts.append(rng.choice(names))
        elif r < 0.35:
            nm = rng.choice(names)
            parts.append(nm[: max(1, len(nm) // 2)])
        else:
            parts.append("".join(rng.choice(ALPHA) for _ in range(rng.randint(0, 10))))
    return " ".join(parts)


def _rand_doc(rng, names, i):
    spans, off = [], 0
    for _ in range(rng.randint(0, 6)):
        kind = rng.choice(KINDS)
        if kind == "media":
            spans.append({"kind": "media", "text": "", "media_ref": f"m://{i}", "offset": off})
            off += 1
        else:
            t = _rand_text(rng, names)
            spans.append({"kind": kind, "text": t, "media_ref": "", "offset": off})
            off += len(t) + 1
    return {"doc_id": f"f{i:06d}", "spans": spans}


def _big_doc(rng, names, i):
    spans, off = [], 0
    for k in range(rng.randint(4, 9)):
        kind = rng.choice(["text", "table", "media", "figure", "paragraph"])
        if kind == "media":
            spans.append({"kind": "media", "text": "", "media_ref": f"m://{i}/{k}", "offset": off})
            off += 1
            continue
        words = [
            rng.choice(names) if rng.random() < 0.1 else "w%d" % rng.randint(0, 50)
            for _ in range(rng.randint(500, 3000))
        ]
        t = " ".join(words)
        if kind in ("table", "figure"):
            t = t.replace(" ", "\n", 20)
        spans.append({"kind": kind, "text": t, "media_ref": "", "offset": off})
        off += len(t) + 1
    return {"doc_id": f"big{i:04d}", "spans": spans}


def _want(d, vocab, trie, model):
    from astrospark.oracle import process_document

    return [
        (x["seq"], x["kind"], x["text"], x["media_ref"], x["offset"])
        for x in process_document(d["spans"], vocab, trie, model)
    ]


def campaign_a(vocab, trie, model, names) -> int:
    import pandas as pd

    from astrospark.kernel import extract_batch

    rng = random.Random(1234)
    mism = spans_total = 0
    n, batch = 24000, 3000
    for b0 in range(0, n, batch):
        docs = [_rand_doc(rng, names, i) for i in range(b0, b0 + batch)]
        out = extract_batch(pd.DataFrame(docs), vocab, trie, model)
        spans_total += len(out)
        by_doc = {k: g for k, g in out.groupby("doc_id", sort=False)}
        for d in docs:
            g = by_doc.get(d["doc_id"])
            got = [] if g is None else [
                (int(a), b, c, m, int(e))
                for a, b, c, m, e in zip(g["seq"], g["kind"], g["text"], g["media_ref"], g["offset"])
            ]
            if got != _want(d, vocab, trie, model):
                mism += 1
    print(f"A: {n} docs, {spans_total} spans, {mism} mismatches")
    return mism


def campaign_b(vocab, trie, model, names) -> int:
    from astrospark.engine.extraction import broadcast_artifacts, extract_spans
    from astrospark.engine.session import build_session

    rng = random.Random(99)
    docs = [_big_doc(rng, names, i) for i in range(120)]
    spark = build_session(app_name="fuzz-campaign", master="local[8]", shuffle_partitions=8)
    bcast = broadcast_artifacts(spark, (vocab, trie, model))
    df = spark.createDataFrame(
        docs,
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    out = extract_spans(df, bcast).collect()
    by_doc: dict = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append((r.seq, r.kind, r.text, r.media_ref, r.offset))
    mism = sum(
        sorted(by_doc.get(d["doc_id"], [])) != sorted(_want(d, vocab, trie, model))
        for d in docs
    )
    print(f"B: {len(docs)} docs, {len(out)} spans, {mism} mismatches")
    spark.stop()
    return mism


REF_LEXICON = "/root/reference/resources/lexicon/astroVoc.txt"


def campaign_c(model) -> int:
    """Campaign C (reference character inventory): build vocab/trie from
    the REAL astroVoc.txt (read-only) and fuzz kernel-vs-oracle with texts
    drawn from its names — SIMBAD identifiers carry delimiter-set edge
    cases a synthetic gazetteer can't reach ('[', '+', '.', '*', '(', ')',
    ''', '/' inside names; AstroAnalyzer.java:44-54). Skipped (0) when the
    reference tree is absent."""
    if not os.path.exists(REF_LEXICON):
        print("C: reference lexicon unavailable, skipped")
        return 0
    import pandas as pd

    from astrospark.kernel import extract_batch
    from astrospark.lexicon import build_trie, build_vocab

    names = [l.rstrip("\n") for l in open(REF_LEXICON, encoding="utf-8") if l.strip()]
    vocab, trie = build_vocab(names), build_trie(names)
    rng = random.Random(777)
    mism = spans_total = 0
    n, batch = 9000, 3000
    for b0 in range(0, n, batch):
        docs = [_rand_doc(rng, names, i) for i in range(b0, b0 + batch)]
        out = extract_batch(pd.DataFrame(docs), vocab, trie, model)
        spans_total += len(out)
        by_doc = {k: g for k, g in out.groupby("doc_id", sort=False)}
        for d in docs:
            g = by_doc.get(d["doc_id"])
            got = [] if g is None else [
                (int(a), b, c, m, int(e))
                for a, b, c, m, e in zip(g["seq"], g["kind"], g["text"], g["media_ref"], g["offset"])
            ]
            if got != _want(d, vocab, trie, model):
                mism += 1
    print(f"C: {n} docs (reference-lexicon names), {spans_total} spans, {mism} mismatches")
    return mism


def campaign_d(vocab, trie, names) -> int:
    """Campaign D (mixed scorer, VERDICT r2 #8): train a LOGISTIC
    (per-token maxent) artifact through the scorer plug seam, then fuzz
    kernel-vs-oracle under it — both small adversarial docs and giant
    multi-thousand-token docs (long chains are where scorer-seam float
    drift would surface). The kernel must match the scalar oracle for
    ANY artifact the plug produces, not just the shipped perceptron.
    Two training SEEDS are fuzzed (VERDICT r3 #8): artifact-swap
    determinism — the kernel/oracle agreement must be a property of the
    seam, not of one particular weight landscape."""
    import tempfile

    import pandas as pd

    from astrospark.crf import CrfModel
    from astrospark.kernel import extract_batch
    from astrospark.train import main as train_eval

    total_mism = 0
    with tempfile.TemporaryDirectory() as td:
        for train_seed, doc_seed, n_docs in ((42, 4242, 6000), (1337, 2424, 3000)):
            path = os.path.join(td, f"logistic_{train_seed}.npz")
            metrics = train_eval(200, 150, out=path, scorer="logistic", seed=train_seed)
            model = CrfModel.load(path)
            rng = random.Random(doc_seed)
            docs = [_rand_doc(rng, names, i) for i in range(n_docs)]
            docs += [_big_doc(rng, names, n_docs + i) for i in range(40)]
            mism = spans_total = 0
            for b0 in range(0, len(docs), 3000):
                chunk = docs[b0 : b0 + 3000]
                out = extract_batch(pd.DataFrame(chunk), vocab, trie, model)
                spans_total += len(out)
                by_doc = {k: g for k, g in out.groupby("doc_id", sort=False)}
                for d in chunk:
                    g = by_doc.get(d["doc_id"])
                    got = [] if g is None else [
                        (int(a), b, c, m, int(e))
                        for a, b, c, m, e in zip(
                            g["seq"], g["kind"], g["text"], g["media_ref"], g["offset"]
                        )
                    ]
                    if got != _want(d, vocab, trie, model):
                        mism += 1
            print(
                f"D: {len(docs)} docs under logistic scorer seed={train_seed} "
                f"(held-out f1 {metrics.get('f1')}), {spans_total} spans, {mism} mismatches"
            )
            total_mism += mism
    return total_mism


def main() -> int:
    from astrospark.crf import CrfModel
    from astrospark.lexicon import load_artifacts, load_names
    from astrospark.train import WEIGHTS_PATH

    vocab, trie = load_artifacts()
    model = CrfModel.load(WEIGHTS_PATH)
    names = load_names()
    total = (
        campaign_a(vocab, trie, model, names)
        + campaign_b(vocab, trie, model, names)
        + campaign_c(model)
        + campaign_d(vocab, trie, names)
    )
    return 1 if total else 0


if __name__ == "__main__":
    raise SystemExit(main())
