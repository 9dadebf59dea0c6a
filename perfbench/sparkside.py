"""Spark-side measurement: the set-up cycle, Spark's own status store and
its built-in UDF profiler. Everything is read from outside the program —
public calls are timed, and Spark reports the rest."""

from __future__ import annotations

import glob
import os
import pstats
import statistics

from perfbench.common import CORES, Spans, descendants, vm_hwm_mb

WARM_DOCS = 256


def configure(work: str) -> dict:
    """Point Spark's scratch space into the work directory and return the
    extra session conf. Must run before the first JVM launch."""
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_LOCAL_DIRS"] = local
    return {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # no hsperfdata file in the system /tmp: the run writes only inside its checkout
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }


def warm_docs(work: str, seed: int) -> str:
    """The small fixture corpus the set-up's warm-up job extracts."""
    from astrospark.fixtures import write_docs_parquet

    return write_docs_parquet(os.path.join(work, "warm"), WARM_DOCS, seed=seed * 100 + 99,
                              skew_every=0)


def set_up(conf: dict, warm_docs: str, warm_out: str, spans: Spans):
    """One full set-up, as a fresh batch job pays it: launch the JVM and
    build the session, broadcast the artifacts, and run a small extraction
    job whose tasks start every Python worker (each worker imports the
    kernel and unpacks the broadcast). The session stays live for the
    window. Returns (spark, bcast, phases) with phases[name] = seconds."""
    from astrospark.engine.extraction import broadcast_artifacts, extract_spans
    from astrospark.engine.session import build_session

    with spans.span("setup") as total:
        with spans.span("engine.session.build") as build:
            spark = build_session(app_name="perfbench", master=f"local[{CORES}]",
                                  extra_conf=conf)
        with spans.span("engine.extraction.broadcast") as bc:
            bcast = broadcast_artifacts(spark)
        with spans.span("engine.extraction.warmup") as warm:
            docs = spark.read.parquet(warm_docs)
            extract_spans(docs, bcast).write.mode("overwrite").parquet(warm_out)
    phases = {name: row["end"] - row["start"]
              for name, row in (("total", total), ("build", build), ("broadcast", bc),
                                ("warmup", warm))}
    return spark, bcast, phases


def tear_down(spark) -> None:
    """Stop the session and the JVM behind it, and wait for both."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.terminate()
            proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None


def worker_rss_mb(spark) -> dict:
    """VmHWM of the driver JVM and, summed, of the Python workers under
    it (the launcher script execs java, so the gateway process is the JVM)."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return {"jvm": 0.0, "workers": 0.0}
    return {"jvm": vm_hwm_mb(proc.pid),
            "workers": sum(vm_hwm_mb(p) for p in descendants(proc.pid))}


class StageLedger:
    """Stage metrics of the jobs run since the last ``take()``, read from
    Spark's status store (populated with the UI off)."""

    def __init__(self, spark):
        jsc = spark.sparkContext._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._seen = self._job_ids()

    def _job_ids(self) -> set[int]:
        seq = self._store.jobsList(None)
        return {seq.apply(i).jobId() for i in range(seq.size())}

    def take(self, task_times: bool = False) -> dict:
        """Totals over stages of new jobs; ``task_times`` also lists the
        executor run time of every task of each stage (seconds)."""
        self._bus.waitUntilEmpty()
        seq = self._store.jobsList(None)
        stage_ids: set[int] = set()
        n_jobs = 0
        for i in range(seq.size()):
            job = seq.apply(i)
            if job.jobId() in self._seen:
                continue
            self._seen.add(job.jobId())
            n_jobs += 1
            ids = job.stageIds()
            stage_ids.update(int(ids.apply(k)) for k in range(ids.size()))
        stages = []
        for sid in sorted(stage_ids):
            try:
                st = self._store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — skipped stage: never attempted
                continue
            row = {
                "stage": sid,
                "tasks": st.numTasks(),
                "run_s": st.executorRunTime() / 1e3,
                "cpu_s": st.executorCpuTime() / 1e9,
                "gc_s": st.jvmGcTime() / 1e3,
                "shuffle_read": st.shuffleReadBytes(),
                "shuffle_write": st.shuffleWriteBytes(),
            }
            if task_times and row["tasks"]:
                tl = self._store.taskList(sid, st.attemptId(), row["tasks"])
                row["task_run_s"] = [
                    tl.apply(k).taskMetrics().get().executorRunTime() / 1e3
                    for k in range(tl.size())
                    if tl.apply(k).taskMetrics().isDefined()
                ]
            stages.append(row)
        return {"jobs": n_jobs, "stages": stages}


def extraction_split(ledger: dict) -> dict:
    """Split one extraction pass: the scan stage writes the salted shuffle;
    the UDF stage reads it, runs the kernel and writes the sink."""
    scan = [s for s in ledger["stages"] if s["shuffle_write"] and not s["shuffle_read"]]
    udf = [s for s in ledger["stages"] if s["shuffle_read"]]
    tasks = [t for s in udf for t in s.get("task_run_s", [])]
    med = statistics.median(tasks) if tasks else 0.0
    return {
        "scan_shuffle_task_s": sum(s["run_s"] for s in scan),
        "shuffle_bytes": sum(s["shuffle_write"] for s in scan),
        "udf_task_s": sum(s["run_s"] for s in udf),
        "task_skew": max(tasks) / med if med else 0.0,
        "gc_s": sum(s["gc_s"] for s in ledger["stages"]),
        "udf_tasks": len(tasks),
    }


# functions whose cumulative time the profile reports, by (file, name);
# "self" takes the function's own time instead
PROFILE_LAYERS = {
    "kernel.extract_batch_s": ("kernel.py", "extract_batch", "cum"),
    "kernel.self_s": ("kernel.py", "extract_batch", "self"),
    "kernel.process_units_self_s": ("kernel.py", "_process_units", "self"),
    "analyzer.tokenize_s": ("analyzer.py", "tokenize_spans", "cum"),
    "lexicon.flatten_trie_s": ("lexicon.py", "flatten_trie", "cum"),
    "features.compute_columns_s": ("features.py", "compute_columns", "cum"),
    "crf.emissions_s": ("crf.py", "emissions", "cum"),
    "crf.viterbi_s": ("crf.py", "viterbi_batched", "cum"),
    "engine.extraction.arrow_to_pandas_s": ("serializers.py", "arrow_to_pandas", "cum"),
}


def profile_layers(stats: pstats.Stats | None) -> dict[str, float]:
    """Seconds per layer from a merged cProfile. A function defined at
    several lines (an override calling its base) counts its outermost
    entry, the one with the largest cumulative time."""
    out = {k: 0.0 for k in PROFILE_LAYERS}
    if stats is None:
        return out
    for name, (fname, func, kind) in PROFILE_LAYERS.items():
        best = None
        for (f, _line, fn), (_cc, _nc, tt, ct, _callers) in stats.stats.items():
            if os.path.basename(f) == fname and fn == func:
                if best is None or ct > best[1]:
                    best = (tt, ct)
        if best is not None:
            out[name] = best[0] if kind == "self" else best[1]
    return out


def spark_profile(spark, path: str) -> pstats.Stats | None:
    """Merge the perf profiles Spark's UDF profiler collected, then clear
    them."""
    os.makedirs(path, exist_ok=True)
    spark.profile.dump(path, type="perf")
    spark.profile.clear(type="perf")
    merged = None
    for f in sorted(glob.glob(os.path.join(path, "*.pstats"))):
        s = pstats.Stats(f)
        merged = s if merged is None else merged.add(s)
    return merged
