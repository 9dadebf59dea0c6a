"""``dedup``: the dedup-family contract rows at local[4].

``dedup_exact``, ``dedup_ngram_jaccard``, ``dedup_minhash_lsh``,
``ssjoin_prefix`` and ``dedup_cc_clusters`` from
``__spark_entry__.queries()``, over a seeded documents table in the shape
of the contract's own, near duplicates included. Each row is collected (every value forced) and
compared value for value with its ``oracle_sql()`` twin in DuckDB, as
scripts/check_contract.py does. A pass runs the five rows once; the
window repeats passes, and the metrics are those of the first pass, the
one in a fresh session. Many wide shuffles, no Python UDF: the
extraction kernel does nothing here."""

from __future__ import annotations

import importlib.util
import os
import statistics

from perfbench import sparkside
from perfbench.common import ROOT, HostControl, Spans, Tally, run_window

ROWS = ("dedup_exact", "dedup_ngram_jaccard", "dedup_minhash_lsh", "ssjoin_prefix",
        "dedup_cc_clusters")
# The generator reproduces the contract's documents table, the one
# scripts/check_contract.py reads by default (sf0.01: 500 docs; sf0.001
# has 500 and sf0.1 5,000 of the same shape): texts of 10-99 words drawn
# uniformly from a 30-word vocabulary; exactly 5% of docs are another
# doc's text plus the token "dup" (two copies of one doc are the only
# exact duplicates); lang is en 40%, de/es/fr/zh 15% each; source is
# src{i % 20}.
N_DOCS = 500
MIN_WORDS, MAX_WORDS = 10, 99
NEAR_DUP = 0.05
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.40, 0.15, 0.15, 0.15, 0.15)
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()


def make_documents(path: str, seed: int) -> dict:
    """documents(doc_id, text, lang, source, n_chars) → ``path``; returns
    the input properties."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    base = [" ".join(WORDS[k] for k in rng.integers(0, len(WORDS), size=n))
            for n in rng.integers(MIN_WORDS, MAX_WORDS + 1, size=N_DOCS)]
    texts = list(base)
    near = rng.choice(N_DOCS, size=int(N_DOCS * NEAR_DUP), replace=False)
    for i in near:
        j = int(rng.integers(0, N_DOCS - 1))
        texts[i] = base[j + (j >= i)] + " dup"
    table = pa.table({
        "doc_id": pa.array(range(N_DOCS), pa.int64()),
        "text": texts,
        "lang": [str(x) for x in rng.choice(LANGS, size=N_DOCS, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "documents.parquet"))
    words = [t.count(" ") + 1 for t in texts]
    return {"seed": seed, "docs": N_DOCS, "chars": sum(len(t) for t in texts),
            "words_quartiles": statistics.quantiles(words, n=4),
            "vocabulary": len({w for t in texts for w in t.split(" ")}),
            "near_copies": len(near), "exact_copies": N_DOCS - len(set(texts))}


def _contract_checker():
    """canon() and type_class() of scripts/check_contract.py."""
    spec = importlib.util.spec_from_file_location(
        "check_contract", os.path.join(ROOT, "scripts", "check_contract.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def oracle_results(sf: str, cc) -> dict:
    import duckdb

    import __spark_entry__ as E

    oracles = E.oracle_sql()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'")
    out = {}
    for name in ROWS:
        res = con.execute(oracles[name])
        cols = [d[0] for d in res.description]
        rows = res.fetchall()
        rel = con.sql(f"SELECT * FROM ({oracles[name]}) LIMIT 0")
        out[name] = {"cols": sorted(cols), "canon": cc.canon(rows, cols),
                     "types": {c: cc.type_class(t) for c, t in zip(rel.columns, rel.types)}}
    con.close()
    return out


def run(work: str, seed: int, seconds: float, trace: bool, spans: Spans, tally: Tally) -> dict:
    import __spark_entry__ as E
    from astrospark.ops.caching import release_caches

    sf = os.path.join(work, "sf")
    props = make_documents(sf, seed)
    warm = sparkside.warm_docs(work, seed)
    conf = sparkside.configure(work)
    spark, _bcast, phases = sparkside.set_up(conf, warm, os.path.join(work, "warm-out"), spans)
    queries = E.queries()
    results: list[tuple[str, object]] = []  # (row, (columns, schema, rows) or error text)
    ledger = sparkside.StageLedger(spark)
    row_ledger: list[dict] = []

    def one_pass(_i):
        for name in ROWS:
            with spans.span("row", row=name):
                try:
                    df = queries[name](spark, sf)
                    got = (df.columns, df.schema, df.collect())
                except Exception as ex:  # noqa: BLE001 — a failed query is a failed operation
                    got = repr(ex)[:300]
            results.append((name, got))
            # outside the row's span: neither cache release nor the
            # status-store read is part of the timed work
            release_caches()
            if trace:
                with spans.span("trace.read"):
                    row_ledger.append(ledger.take())

    record: dict = {"inputs": props, "setup_phases_s": phases}
    host = HostControl()
    n_pass, _ = run_window(seconds, one_pass)
    record["host"] = host.read()
    rss = sparkside.worker_rss_mb(spark)
    sparkside.tear_down(spark)

    row_s = spans.durations("row")
    # a pass's time is the sum of its five row times
    pass_s = [sum(row_s[k * len(ROWS):(k + 1) * len(ROWS)]) for k in range(n_pass)]
    # Only the first pass counts. It runs with a cold JIT, as a dedup batch
    # job does; a later pass is about twice as fast. It has been longer
    # than the window, but should a change make it shorter, a second, warm
    # pass would otherwise enter the median and move every metric by far
    # more than the change did.
    cold = pass_s[0]
    layers: dict = {}
    if trace:
        reads = spans.durations("trace.read")[:len(ROWS)]
        layers = {f"ops.dedup.{name}_s": row_s[k] for k, name in enumerate(ROWS)}
        first = row_ledger[:len(ROWS)]
        layers.update({
            "ops.jobs": sum(r["jobs"] for r in first),
            "ops.shuffle_bytes": sum(s["shuffle_write"] for r in first for s in r["stages"]),
            "ops.task_s": sum(s["run_s"] for r in first for s in r["stages"]),
            "engine.session.build_s": phases["build"],
            "engine.extraction.broadcast_s": phases["broadcast"],
            "engine.extraction.warmup_s": phases["warmup"],
            # tracing here is the status-store read after each row, outside
            # the row spans; "on" adds its time back to each pass
            "trace.docs_per_s_off": N_DOCS / cold,
            "trace.docs_per_s_on": N_DOCS / (cold + sum(reads)),
        })
        layers["trace.overhead"] = 1.0 - layers["trace.docs_per_s_on"] / layers["trace.docs_per_s_off"]
        record["trace"] = {"row_ledger": [{"row": ROWS[k % len(ROWS)], "jobs": r["jobs"],
                                           "stages": len(r["stages"])}
                                          for k, r in enumerate(row_ledger)]}

    with spans.span("check"):
        check(results, sf, tally)
    # latency is that of a pass: the five rows differ too much in cost for
    # a median over a handful of row times to be a steady statistic. With
    # one pass the percentile rule makes the tail the median.
    record.update({"pass_s": pass_s, "row_s": row_s, "rss_mb": rss, "lat_tail_quantile": 0.5})
    e2e = {
        "setup_s": phases["total"],
        "docs_per_s": N_DOCS / cold,
        "req_per_s": len(ROWS) / cold,
        "lat_p50_ms": cold * 1e3,
        "lat_p90_ms": cold * 1e3,
        # the set-up's workers: the JVM holds the ops/ state, but its VmHWM
        # follows the heap sizing policy (2.3-4.8 GB across runs of the
        # same code), too unsteady for this metric's bound; it is in the
        # record as rss_mb.jvm
        "peak_rss_mb": rss["workers"],
    }
    return {"e2e": e2e, "layers": layers, "record": record}


def check(results: list, sf: str, tally: Tally) -> None:
    """Each collected row result must equal its DuckDB twin: same columns,
    type classes, row count and canonical value multiset."""
    cc = _contract_checker()
    want = oracle_results(sf, cc)
    for k, (name, got) in enumerate(results):
        if isinstance(got, str):
            tally.error(f"{name} #{k}: {got}")
            continue
        tally.ok()
        cols, schema, rows = got
        w = want[name]
        types = {f.name: cc.type_class(f.dataType.simpleString()) for f in schema.fields}
        if sorted(cols) != w["cols"]:
            tally.mismatch(f"{name} #{k}: columns {sorted(cols)} vs {w['cols']}")
        elif any(types[c] != w["types"][c] for c in types if c in w["types"]):
            tally.mismatch(f"{name} #{k}: type classes differ")
        elif cc.canon([tuple(r) for r in rows], cols) != w["canon"]:
            tally.mismatch(f"{name} #{k}: values differ ({len(rows)} vs {len(w['canon'])} rows)")
