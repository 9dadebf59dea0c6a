"""``backfill``: the production extraction job.

``extract_spans`` at local[4] over seeded fixture docs (one ~40x-length
skew doc in every 500), written to parquet as scripts/submit_extract.py
does. A pass is one job over the whole corpus; the window repeats passes
and reports the median."""

from __future__ import annotations

import os
import statistics
import subprocess
import sys
import time

from perfbench import sparkside
from perfbench.common import (
    CORES,
    ROOT,
    HostControl,
    Spans,
    Tally,
    run_window,
    tail,
)

N_DOCS = 16000
CHUNKS = 4  # input files, generated in parallel; N_DOCS / CHUNKS is a multiple of SKEW_EVERY
SKEW_EVERY = 500
SAMPLE_STRIDE = 333  # every 333rd doc is checked against the oracle ...
SAMPLE_SKEW = 1  # ... plus this many skew docs


def write_chunk(tmp: str, final: str, n: int, seed: int, k: int) -> None:
    """One input file from fixtures.write_docs_parquet, its doc ids made
    unique across chunks."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from astrospark.fixtures import write_docs_parquet

    write_docs_parquet(tmp, n, seed=seed, skew_every=SKEW_EVERY, rows_per_file=n)
    t = pq.read_table(os.path.join(tmp, "part-00000.parquet"))
    ids = pc.binary_join_element_wise(f"c{k}-", t["doc_id"], "")
    pq.write_table(t.set_column(0, "doc_id", ids), os.path.join(final, f"part-{k:05d}.parquet"))


def make_inputs(work: str, seed: int) -> str:
    """N_DOCS fixture docs in CHUNKS files, generated by CHUNKS processes."""
    docs = os.path.join(work, "docs")
    os.makedirs(docs)
    per = N_DOCS // CHUNKS
    procs = [
        subprocess.Popen([sys.executable, "-m", "perfbench.backfill", os.path.join(work, f"gen-{k}"),
                          docs, str(per), str(seed * 100 + k), str(k)], cwd=ROOT)
        for k in range(CHUNKS)
    ]
    codes = [p.wait() for p in procs]
    if any(codes):
        raise RuntimeError(f"input generation failed: exit codes {codes}")
    return docs


def input_properties(docs: str, seed: int) -> dict:
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    t = pq.read_table(docs)
    spans = t["spans"].combine_chunks()
    flat = spans.flatten()
    kinds = pc.value_counts(flat.field("kind")).to_pylist()
    n_spans = pc.list_value_length(spans).to_numpy(zero_copy_only=False)
    return {
        "seed": seed,
        "docs": t.num_rows,
        "spans_by_kind": {d["values"]: d["counts"] for d in kinds},
        "skew_docs": int((n_spans >= 80).sum()),  # plain docs have 2-8 spans, skew docs 80+
        "chars": int(pc.sum(pc.utf8_length(flat.field("text"))).as_py()),
    }


def _sample_ids(docs: str) -> list[str]:
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    t = pq.read_table(docs)
    ids = t["doc_id"].to_pylist()
    sizes = pc.list_value_length(t["spans"]).to_pylist()
    skew = [i for i, s in zip(ids, sizes) if s >= 80][:SAMPLE_SKEW]
    return sorted(set(ids[::SAMPLE_STRIDE]) | set(skew))


def _expected(docs: str, ids: list[str]) -> dict[str, list[tuple]]:
    import pyarrow.parquet as pq

    from astrospark.crf import CrfModel
    from astrospark.lexicon import load_artifacts
    from astrospark.oracle import process_document
    from astrospark.train import WEIGHTS_PATH

    vocab, trie = load_artifacts()
    model = CrfModel.load(WEIGHTS_PATH)
    rows = pq.read_table(docs, filters=[("doc_id", "in", ids)]).to_pylist()
    return {
        r["doc_id"]: [
            (s["seq"], s["kind"], s["text"], s["media_ref"], s["offset"])
            for s in process_document(r["spans"] or [], vocab, trie, model)
        ]
        for r in rows
    }


def _actual(out: str, ids: list[str]) -> dict[str, list[tuple]]:
    import pyarrow.parquet as pq

    got: dict[str, list[tuple]] = {i: [] for i in ids}
    for r in pq.read_table(out, filters=[("doc_id", "in", ids)]).to_pylist():
        got[r["doc_id"]].append((r["seq"], r["kind"], r["text"], r["media_ref"], r["offset"]))
    return {k: sorted(v) for k, v in got.items()}


def sink_counts(out: str) -> dict:
    import pyarrow.parquet as pq

    files = [os.path.join(out, f) for f in os.listdir(out)
             if f.endswith(".parquet") and not f.startswith((".", "_"))]
    return {
        "rows": sum(pq.ParquetFile(f).metadata.num_rows for f in files),
        "objects": len(files),
        "bytes": sum(os.path.getsize(f) for f in files),
    }


def one_1t_pass(docs: str) -> dict:
    """extract_batch in this process, one Arrow-sized batch at a time, as a
    worker would see the corpus; also times the pandas→Arrow conversion of
    each output batch."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from astrospark.engine.extraction import load_default_artifacts
    from astrospark.engine.session import ARROW_BATCH_ROWS
    from astrospark.kernel import extract_batch

    vocab, trie, model = load_default_artifacts()
    schema = pa.schema([("doc_id", pa.string()), ("seq", pa.int32()), ("kind", pa.string()),
                        ("text", pa.string()), ("media_ref", pa.string()),
                        ("offset", pa.int32()), ("end", pa.int32())])
    kernel_s = to_arrow_s = 0.0
    n = 0
    for batch in pq.read_table(docs).to_batches(ARROW_BATCH_ROWS):
        pdf = batch.to_pandas()
        t0 = time.perf_counter()
        out = extract_batch(pdf, vocab, trie, model)
        t1 = time.perf_counter()
        pa.RecordBatch.from_pandas(out, schema=schema, preserve_index=False)
        to_arrow_s += time.perf_counter() - t1
        kernel_s += t1 - t0
        n += len(pdf)
    return {"docs": n, "kernel_s": kernel_s, "pandas_to_arrow_s": to_arrow_s}


def run(work: str, seed: int, seconds: float, trace: bool, spans: Spans, tally: Tally) -> dict:
    """Returns {"e2e": ..., "layers": ..., "record": ...}."""
    from astrospark.engine.extraction import extract_spans

    with spans.span("inputs"):
        docs = make_inputs(work, seed)
        warm = sparkside.warm_docs(work, seed)
        props = input_properties(docs, seed)
    conf = sparkside.configure(work)
    spark, bcast, phases = sparkside.set_up(conf, warm, os.path.join(work, "warm-out"), spans)
    outs: list[str] = []
    errors: dict[int, str] = {}

    def one_pass(label: str):
        def body(i):
            out = os.path.join(work, "out", f"{label}-{i}")
            outs.append(out)
            with spans.span("pass", mode=label):
                try:
                    extract_spans(spark.read.parquet(docs), bcast).write.mode("overwrite").parquet(out)
                except Exception as ex:  # noqa: BLE001 — a failed job is a failed operation
                    errors[len(outs) - 1] = repr(ex)[:300]
        return body

    def pass_times(mode: str) -> list[float]:
        return [r["end"] - r["start"] for r in spans.rows
                if r["name"] == "pass" and r["mode"] == mode]

    record: dict = {"inputs": props, "setup_phases_s": phases}
    layers: dict = {}
    host = HostControl()
    if not trace:
        run_window(seconds, one_pass("e2e"))
        record["host"] = host.read()
        pass_s = pass_times("e2e")
        rss = sparkside.worker_rss_mb(spark)
    else:
        ledger = sparkside.StageLedger(spark)
        splits = []

        def untraced(i):
            one_pass("off")(i)
            splits.append(sparkside.extraction_split(ledger.take(task_times=True)))

        run_window(seconds / 2, untraced)
        off_s = pass_times("off")
        spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
        traced_udf = []

        def traced(i):
            one_pass("on")(i)
            traced_udf.append(sparkside.extraction_split(ledger.take())["udf_task_s"])

        run_window(seconds / 2, traced)
        spark.conf.unset("spark.sql.pyspark.udf.profiler")
        record["host"] = host.read()
        on_s = pass_times("on")
        prof = sparkside.profile_layers(sparkside.spark_profile(spark, os.path.join(work, "prof")))
        rss = sparkside.worker_rss_mb(spark)
        with spans.span("kernel.single_thread"):
            one_t = one_1t_pass(docs)
        pass_s = off_s
        layers = _layers(phases, splits, prof, len(on_s), traced_udf, one_t, off_s, on_s,
                         sink_counts(outs[-1]))
        record["trace"] = {"splits": splits, "profile_s": prof, "traced_passes": len(on_s),
                           "traced_udf_task_s": traced_udf, "single_thread": one_t}

    with spans.span("check"):
        ids = _sample_ids(docs)
        want = _expected(docs, ids)
        bad_docs = {}
        for k, out in enumerate(outs):
            if k in errors:
                tally.error(f"pass {k}: {errors[k]}")
                continue
            tally.ok()
            got = _actual(out, ids)
            bad = [i for i in ids if got.get(i) != want.get(i)]
            if bad:
                bad_docs[k] = bad
                tally.mismatch(f"pass {k}: {len(bad)} of {len(ids)} sampled docs differ")
    with spans.span("teardown"):
        sparkside.tear_down(spark)
    record.update({"pass_s": pass_s, "checked_docs": len(ids), "mismatched_docs": bad_docs,
                   "rss_mb": rss})
    med = statistics.median(pass_s)
    q, p90 = tail(pass_s)
    record["lat_tail_quantile"] = q
    e2e = {
        "setup_s": phases["total"],
        "docs_per_s": N_DOCS / med,
        "req_per_s": 1.0 / med,
        "lat_p50_ms": med * 1e3,
        "lat_p90_ms": p90 * 1e3,
        "peak_rss_mb": rss["workers"],
    }
    return {"e2e": e2e, "layers": layers, "record": record}


def _layers(phases, splits, prof, n_traced, traced_udf, one_t, off_s, on_s, sink) -> dict:
    kdocs = N_DOCS / 1e3

    def med(key):
        return statistics.median(s[key] for s in splits)

    per_pass = {k: v / n_traced for k, v in prof.items()}
    p2a = one_t["pandas_to_arrow_s"] * N_DOCS / one_t["docs"]
    udf_traced = sum(traced_udf) / n_traced
    covered = per_pass["kernel.extract_batch_s"] + per_pass["engine.extraction.arrow_to_pandas_s"] + p2a
    one_t_rate = one_t["docs"] / one_t["kernel_s"]
    off_rate = N_DOCS / statistics.median(off_s)
    on_rate = N_DOCS / statistics.median(on_s)
    out = {
        "engine.session.build_s": phases["build"],
        "engine.extraction.broadcast_s": phases["broadcast"],
        "engine.extraction.warmup_s": phases["warmup"],
        "engine.extraction.scan_shuffle_task_s": med("scan_shuffle_task_s") / kdocs,
        "engine.extraction.shuffle_bytes": med("shuffle_bytes"),
        "engine.extraction.udf_task_s": med("udf_task_s") / kdocs,
        "engine.extraction.task_skew": med("task_skew"),
        "engine.extraction.gc_s": med("gc_s") / kdocs,
        "engine.extraction.pandas_to_arrow_s": p2a / kdocs,
        "engine.extraction.udf_coverage": covered / udf_traced if udf_traced else 0.0,
        "engine.extraction.parallel_eff": off_rate / (CORES * one_t_rate),
        "kernel.docs_per_s_1t": one_t_rate,
        "sink.rows": sink["rows"],
        "sink.objects": sink["objects"],
        "sink.bytes": sink["bytes"],
        "trace.docs_per_s_off": off_rate,
        "trace.docs_per_s_on": on_rate,
        "trace.overhead": 1.0 - on_rate / off_rate,
    }
    out.update({k: v / kdocs for k, v in per_pass.items()})
    return out


if __name__ == "__main__":
    write_chunk(sys.argv[1], sys.argv[2], int(sys.argv[3]), int(sys.argv[4]), int(sys.argv[5]))
