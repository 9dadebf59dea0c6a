"""``service_c4``: the HTTP service under a closed loop of 4 clients.

``python -m astrospark.service`` runs in its own process, pinned to one
vCPU. Four client threads in this process each send a seeded 1-3
paragraph text from ``corpus.make_paragraph``, wait for the answer, and
send the next one. Spark does no work here: per-call kernel overhead and
GIL contention in the server dominate."""

from __future__ import annotations

import http.client
import json
import os
import pstats
import socket
import statistics
import subprocess
import sys
import threading
import time
import urllib.parse
import urllib.request

from perfbench import sparkside
from perfbench.common import (
    ROOT,
    SERVER_STARTS,
    HostControl,
    Spans,
    Tally,
    cpu_seconds,
    tail,
    vm_hwm_mb,
)

CLIENTS = 4
N_TEXTS = 4000  # distinct request texts; a run sends each at most once unless it exceeds this
READY_TIMEOUT_S = 60.0
# untimed requests each server answers before its window: WARMUP_SERIAL
# one at a time, then WARMUP_S of the closed loop
WARMUP_SERIAL = 2
WARMUP_S = 2.0
SERVER_CPU = max(os.sched_getaffinity(0))  # the vCPU the server is pinned to


def make_texts(seed: int, n: int = N_TEXTS) -> list[str]:
    import numpy as np

    from astrospark.corpus import make_paragraph

    rng = np.random.default_rng(seed)
    return [
        "\n".join(make_paragraph(rng)[0] for _ in range(int(rng.integers(1, 4))))
        for _ in range(n)
    ]


def _free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def _pin_to_one_vcpu() -> None:
    os.sched_setaffinity(0, {SERVER_CPU})


class Server:
    """One server process, pinned to one vCPU of its own, as in a one-vCPU
    container.

    Unpinned on a 4-vCPU virtual machine, each GIL handoff between the
    server's handler threads can wake another, idle vCPU; the hypervisor
    charges that wake-up latency as steal, and how long it takes depends
    on other tenants' load. In alternating 10 s windows the unpinned
    server answered 7 req/s at 15-17% host steal and the pinned one
    22-25 req/s at 2-3%, so unpinned figures follow the neighbours, not
    the program.

    ``setup_s`` runs from spawn until /health answers. The warm-up that
    follows (see ``warm_up``) is neither in ``setup_s`` nor in the
    window."""

    def __init__(self, argv: list[str]):
        self.port = _free_port()
        t0 = time.perf_counter()
        self.proc = subprocess.Popen([sys.executable, *argv, str(self.port)], cwd=ROOT,
                                     stdout=subprocess.DEVNULL, preexec_fn=_pin_to_one_vcpu)
        url = f"http://127.0.0.1:{self.port}/health"
        while True:
            try:
                with urllib.request.urlopen(url, timeout=1) as r:
                    if r.status == 200:
                        break
            except OSError:
                if self.proc.poll() is not None:
                    raise RuntimeError(f"server exited with {self.proc.returncode}") from None
                if time.perf_counter() - t0 > READY_TIMEOUT_S:
                    self.stop()
                    raise RuntimeError("server not ready") from None
                time.sleep(0.01)
        self.setup_s = time.perf_counter() - t0

    def get(self, path: str) -> dict:
        with urllib.request.urlopen(f"http://127.0.0.1:{self.port}{path}", timeout=60) as r:
            return json.loads(r.read())

    def stop(self) -> None:
        self.proc.terminate()
        self.proc.wait(timeout=30)


def _post(conn: http.client.HTTPConnection, texts: list[str], i: int) -> dict:
    """Send text ``i`` on ``conn`` and close it. The row holds the answer or
    the error, and the latency from the send (or the connect, when ``conn``
    is not yet open) to the last byte of the answer."""
    body = urllib.parse.urlencode({"text": texts[i % len(texts)]})
    row = {"i": i % len(texts), "status": None}
    t0 = time.perf_counter()
    try:
        conn.request("POST", "/processAstroText", body,
                     {"Content-Type": "application/x-www-form-urlencoded"})
        r = conn.getresponse()
        payload = r.read()
        row["latency_s"] = time.perf_counter() - t0
        row["status"] = r.status
        row["call_ns"] = r.getheader("X-Call-Ns")
        row["entities"] = json.loads(payload)["entities"] if r.status == 200 else None
    except (OSError, http.client.HTTPException, ValueError, KeyError) as ex:
        row["error"] = repr(ex)[:200]
    finally:
        conn.close()
    return row


def load(port: int, texts: list[str], seconds: float,
         first: int = 0) -> tuple[list[dict], float]:
    """Closed loop: CLIENTS threads, each sends its next request when the
    previous answer arrives, until ``seconds`` pass (each sends at least
    one). Returns one row per request and the elapsed wall time (the
    requests in flight at the deadline complete)."""
    lock = threading.Lock()
    nxt = [first]
    rows: list[dict] = []
    deadline = time.perf_counter() + seconds

    def client():
        sent = False
        while not sent or time.perf_counter() < deadline:
            sent = True
            with lock:
                i = nxt[0]
                nxt[0] += 1
            row = _post(http.client.HTTPConnection("127.0.0.1", port, timeout=60), texts, i)
            with lock:
                rows.append(row)

    t0 = time.perf_counter()
    threads = [threading.Thread(target=client) for _ in range(CLIENTS)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return rows, time.perf_counter() - t0


def warm_up(port: int, texts: list[str], first: int) -> list[dict]:
    """Untimed requests before a window: WARMUP_SERIAL sent one at a time,
    then WARMUP_S of the closed loop. The window then measures a warm
    server. The serial requests come first because concurrent first calls
    on a fresh server race while the model's pandas indexes build their
    hash tables (``crf.emissions`` raises ``InvalidIndexError``); that
    cold-start defect is outside what this workload measures."""
    rows = [_post(http.client.HTTPConnection("127.0.0.1", port, timeout=60), texts, first + k)
            for k in range(WARMUP_SERIAL)]
    rows += load(port, texts, WARMUP_S, first=first + len(rows))[0]
    return rows


def check(rows: list[dict], texts: list[str], tally: Tally) -> None:
    """Every answer must equal the oracle's object spans for its text."""
    from astrospark.crf import CrfModel
    from astrospark.lexicon import load_artifacts
    from astrospark.oracle import process_document
    from astrospark.train import WEIGHTS_PATH

    vocab, trie = load_artifacts()
    model = CrfModel.load(WEIGHTS_PATH)
    want: dict[int, list] = {}
    for row in rows:
        if row["status"] != 200:
            tally.error(f"request {row['i']}: {row.get('error') or row['status']}")
            continue
        tally.ok()
        i = row["i"]
        if i not in want:
            text = texts[i].replace("\n", " ").replace("\t", " ")
            want[i] = [
                ["OBJECT", s["text"], s["offset"], s["offset"] + len(s["text"])]
                for s in process_document(
                    [{"kind": "text", "text": text, "media_ref": "", "offset": 0}],
                    vocab, trie, model)
                if s["kind"] == "object"
            ]
        got = [[e["type"], e["rawForm"], e["offsetStart"], e["offsetEnd"]]
               for e in row["entities"]]
        if got != want[i]:
            tally.mismatch(f"request {i}: spans differ from the oracle")


def summarize(rows: list[dict], elapsed: float) -> dict:
    ok = [r["latency_s"] for r in rows if r["status"] == 200]
    q, p90 = tail(ok)
    return {
        "requests": len(rows),
        "ok": len(ok),
        "elapsed_s": elapsed,
        "req_per_s": len(ok) / elapsed,
        "lat_p50_ms": statistics.median(ok) * 1e3,
        "lat_p90_ms": p90 * 1e3,
        "lat_tail_quantile": q,
    }


def text_quartiles(texts: list[str], rows: list[dict]) -> list[float]:
    return statistics.quantiles([len(texts[r["i"]]) for r in rows], n=4)


def run(work: str, seed: int, seconds: float, trace: bool, spans: Spans, tally: Tally) -> dict:
    # the server's vCPU is its own: this process (clients, check) keeps off it
    others = os.sched_getaffinity(0) - {SERVER_CPU}
    if others:
        os.sched_setaffinity(0, others)
    texts = make_texts(seed)
    all_rows: list[dict] = []

    def window(srv: Server, mode: str, seconds: float) -> tuple[list[dict], float]:
        with spans.span("window", mode=mode):
            rows, elapsed = load(srv.port, texts, seconds, first=len(all_rows))
        all_rows.extend(rows)
        return rows, elapsed

    warm_requests = 0

    def warm(srv: Server) -> None:
        nonlocal warm_requests
        with spans.span("warmup"):
            rows = warm_up(srv.port, texts, len(all_rows))
        all_rows.extend(rows)
        warm_requests += len(rows)

    setups = []
    srv = None
    for c in range(SERVER_STARTS):
        if srv is not None:
            srv.stop()
        with spans.span("setup", cycle=c):
            srv = Server(["-m", "astrospark.service"])
        setups.append(srv.setup_s)
    record: dict = {"setup_cycles_s": setups}
    layers: dict = {}
    span_s = seconds / 3 if trace else seconds
    try:
        warm(srv)
        host, server_vcpu = HostControl(), HostControl(SERVER_CPU)
        rows, elapsed = window(srv, "off", span_s)
        rss = vm_hwm_mb(srv.proc.pid)
    finally:
        srv.stop()
    off = summarize(rows, elapsed)
    if trace:
        launcher = os.path.join(ROOT, "perfbench", "service_launcher.py")
        timed = Server([launcher])
        try:
            warm(timed)
            cpu0 = cpu_seconds(timed.proc.pid)
            t_rows, t_elapsed = window(timed, "timed", span_s)
            cpu = cpu_seconds(timed.proc.pid) - cpu0
            t_layers = timed.get("/_layers")
        finally:
            timed.stop()
        prof_path = os.path.join(work, "service.pstats")
        profiled = Server([launcher, "--profile-out", prof_path])
        try:
            warm(profiled)
            p_rows, p_elapsed = window(profiled, "profiled", span_s)
            p_layers = profiled.get("/_layers")
        finally:
            profiled.stop()
        n_prof = len(p_layers["process_text_s"])
        prof = sparkside.profile_layers(pstats.Stats(prof_path))
        on = summarize(t_rows, t_elapsed)
        waits = [r["latency_s"] - int(r["call_ns"]) / 1e9 for r in t_rows
                 if r["status"] == 200 and r["call_ns"]]
        layers = {
            "api.process_text_ms_p50": statistics.median(t_layers["process_text_s"]) * 1e3,
            "kernel.extract_batch_ms_p50": statistics.median(t_layers["extract_batch_s"]) * 1e3,
            "service.wait_ms_p50": statistics.median(waits) * 1e3,
            "service.cpu_frac": cpu / t_elapsed,
            "trace.docs_per_s_off": off["req_per_s"],
            "trace.docs_per_s_on": on["req_per_s"],
            "trace.overhead": 1.0 - on["req_per_s"] / off["req_per_s"],
        }
        layers.update({k: v / n_prof * 1e3 for k, v in prof.items()})
        record["trace"] = {"timed": on, "profiled": summarize(p_rows, p_elapsed),
                           "profile_s": prof, "profiled_calls": n_prof}
    record["host"] = {**host.read(), "server_vcpu": server_vcpu.read()}
    with spans.span("check"):
        check(all_rows, texts, tally)
    record.update({
        "inputs": {"seed": seed, "requests": len(all_rows), "distinct_texts": len(texts),
                   "warmup_requests": warm_requests,
                   "text_chars_quartiles": text_quartiles(texts, all_rows)},
        "window": off,
        "rss_mb": rss,
        "lat_tail_quantile": off["lat_tail_quantile"],
    })
    e2e = {
        "setup_s": statistics.median(setups),
        "docs_per_s": off["req_per_s"],  # one document per request
        "req_per_s": off["req_per_s"],
        "lat_p50_ms": off["lat_p50_ms"],
        "lat_p90_ms": off["lat_p90_ms"],
        "peak_rss_mb": rss,
    }
    return {"e2e": e2e, "layers": layers, "record": record}
