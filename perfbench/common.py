"""Shared pieces of the benchmark: statistics, host controls, process
memory, operation tallies, span recording and the result line.

Nothing here imports astrospark or pyspark, so the self-tests run without
a Spark session.
"""

from __future__ import annotations

import json
import math
import os
import re
import shutil
import statistics
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCHMARK_JSON = os.path.join(ROOT, "BENCHMARK.json")
WORK_ROOT = os.path.join(ROOT, ".perfbench-work")
OUT_DIR = os.path.join(ROOT, ".perfbench-out")

CORES = 4  # local[4]: the host the benchmark was written for has 4 vCPUs
SERVER_STARTS = 3  # service_c4's setup_s is the median of this many server starts
MIN_TAIL = 10  # a percentile is emitted only with this many samples beyond it

_NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")


def valid_metric_name(name: str) -> bool:
    return len(name) <= 64 and _NAME_RE.fullmatch(name) is not None and name[0].isalnum()


def load_catalogue() -> dict:
    """BENCHMARK.json: the metric names and units every run must emit."""
    with open(BENCHMARK_JSON) as f:
        return json.load(f)


# -- statistics ---------------------------------------------------------------


def percentile(samples, q: float):
    """Nearest-rank ``q``-quantile of ``samples``, or None when fewer than
    MIN_TAIL samples rank above it (a p90 over 12 samples is really the
    maximum, so it is not emitted)."""
    n = len(samples)
    if n == 0:
        return None
    idx = max(0, math.ceil(q * n) - 1)
    if n - 1 - idx < MIN_TAIL:
        return None
    return sorted(samples)[idx]


def tail(samples, q: float = 0.9) -> tuple[float, float]:
    """(quantile used, value) for the tail-latency metric: ``q`` when it
    has MIN_TAIL samples beyond it, otherwise the highest quantile that
    has, and the median when no quantile above it has."""
    value = percentile(samples, q)
    if value is not None:
        return q, value
    n = len(samples)
    idx = n - 1 - MIN_TAIL  # highest rank with MIN_TAIL samples above it
    if idx + 1 > n / 2:
        return (idx + 1) / n, sorted(samples)[idx]
    return 0.5, statistics.median(samples)


# -- operation tally ----------------------------------------------------------


class Tally:
    """Operations attempted and failed. A raised error and an output
    mismatch both count as a failure of that operation."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.mismatches: list[str] = []

    def ok(self) -> None:
        self.attempted += 1

    def error(self, what: str) -> None:
        self.attempted += 1
        self.failed += 1
        self.errors.append(what)

    def mismatch(self, what: str) -> None:
        """Mark an operation already counted in ``attempted`` as failed."""
        self.failed += 1
        self.mismatches.append(what)


# -- host controls ------------------------------------------------------------


def _cpu_times(cpu: int | None) -> list[int]:
    name = "cpu" if cpu is None else f"cpu{cpu}"
    with open("/proc/stat") as f:
        for line in f:
            fields = line.split()
            if fields[0] == name:
                return [int(x) for x in fields[1:]]
    raise ValueError(f"no {name} line in /proc/stat")


class HostControl:
    """steal% and busy% over a window, from /proc/stat deltas: of the whole
    host, or of one vCPU when ``cpu`` is given. For reading noise only: no
    run is retried, dropped or chosen by these numbers."""

    def __init__(self, cpu: int | None = None):
        self.cpu = cpu
        self.t0 = _cpu_times(cpu)

    def read(self) -> dict:
        d = [b - a for a, b in zip(self.t0, _cpu_times(self.cpu))]
        # user nice system idle iowait irq softirq steal guest guest_nice
        total = sum(d[:8]) or 1
        busy = d[0] + d[1] + d[2] + d[5] + d[6]
        return {"steal_pct": 100.0 * d[7] / total, "busy_pct": 100.0 * busy / total}


# -- processes ----------------------------------------------------------------


def _ppid_map() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        out[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for child, parent in _ppid_map().items():
        children.setdefault(parent, []).append(child)
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of one process in MiB; 0 if it is gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def cpu_seconds(pid: int) -> float:
    """utime + stime of one process, in seconds."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def _ended(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] in ("Z", "X")
    except OSError:
        return True


def reap_descendants(timeout: float = 10.0) -> None:
    """Terminate every process this one started and wait until each has
    ended (the Spark JVM and its Python workers, a stray server)."""
    import signal

    pids = descendants(os.getpid())
    for pid in pids:
        try:
            os.kill(pid, signal.SIGTERM)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + timeout
    for pid in pids:
        while time.monotonic() < deadline:
            try:
                done, _ = os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:  # not our direct child: poll /proc
                if _ended(pid):
                    break
                done = 0
            if done:
                break
            time.sleep(0.05)
        else:
            try:
                os.kill(pid, signal.SIGKILL)
                os.waitpid(pid, 0)
            except (ProcessLookupError, ChildProcessError):
                pass


# -- spans --------------------------------------------------------------------


class Spans:
    """In-memory spans recorded around the benchmark's calls into each
    layer: (name, start, end, parent). Written out with the run record."""

    def __init__(self):
        self.rows: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.rows)
        row = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, **attrs}
        self.rows.append(row)
        self._stack.append(sid)
        try:
            yield row
        finally:
            self._stack.pop()
            row["end"] = time.perf_counter()

    def durations(self, name: str) -> list[float]:
        return [r["end"] - r["start"] for r in self.rows if r["name"] == name and r["end"]]


def run_window(seconds: float, body) -> tuple[int, float]:
    """Call ``body(i)`` until ``seconds`` have passed (the operation in
    progress completes). Returns (calls, elapsed)."""
    t0 = time.perf_counter()
    i = 0
    while i == 0 or time.perf_counter() - t0 < seconds:
        body(i)
        i += 1
    return i, time.perf_counter() - t0


# -- work directory and result ------------------------------------------------


@contextmanager
def work_dir(workload: str):
    path = os.path.join(WORK_ROOT, f"{workload}-{os.getpid()}")
    os.makedirs(path, exist_ok=True)
    try:
        yield path
    finally:
        shutil.rmtree(path, ignore_errors=True)
        try:
            os.rmdir(WORK_ROOT)
        except OSError:
            pass


def metric(value, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def result_line(tally: Tally, metrics: dict, trace: bool) -> str:
    """The last stdout line. Refuses a metric set that differs from the
    catalogue, so a run cannot silently drop or invent a metric."""
    cat = load_catalogue()
    want = {m["name"]: m["unit"] for m in cat["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in metrics.items()}
    if got != want:
        raise ValueError(f"metric set differs from BENCHMARK.json: {sorted(set(got) ^ set(want))}"
                         f" or units {[(k, got[k], want[k]) for k in got if k in want and got[k] != want[k]]}")
    for k, v in metrics.items():
        if not math.isfinite(v["value"]):
            raise ValueError(f"metric {k} is not finite")
    return json.dumps({
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": metrics,
    })


def write_record(record: dict, name: str) -> str:
    os.makedirs(OUT_DIR, exist_ok=True)
    path = os.path.join(OUT_DIR, name)
    with open(path, "w") as f:
        json.dump(record, f, indent=1, default=str)
    return path
