"""Traced launcher for the ``service_c4`` workload.

Serves the handler of ``astrospark.service`` unchanged, with timers around
two public calls: ``AstroEngine.process_text`` and
``astrospark.kernel.extract_batch``. Each response carries the server-side
call time in an ``X-Call-Ns`` header, so the client can split its latency
into call time and waiting. ``GET /_layers`` returns the timings; with
``--profile-out`` every ``process_text`` call also runs under cProfile and
``GET /_layers`` writes the merged profile to that file.

    python3 perfbench/service_launcher.py PORT [--profile-out FILE]
"""

from __future__ import annotations

import argparse
import cProfile
import os
import pstats
import sys
import threading
import time
from http.server import ThreadingHTTPServer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("port", type=int)
    ap.add_argument("--profile-out")
    args = ap.parse_args()
    sys.path.insert(0, ROOT)

    from astrospark import kernel, service
    from astrospark.api import AstroEngine

    lock = threading.Lock()
    local = threading.local()
    timings: dict[str, list[float]] = {"process_text_s": [], "extract_batch_s": []}
    profiles: list[cProfile.Profile] = []
    extract_batch = kernel.extract_batch

    def timed_extract_batch(*a, **kw):
        t0 = time.perf_counter()
        try:
            return extract_batch(*a, **kw)
        finally:
            dt = time.perf_counter() - t0
            with lock:
                timings["extract_batch_s"].append(dt)

    # process_text imports extract_batch from the module at call time
    kernel.extract_batch = timed_extract_batch

    class TracedEngine(AstroEngine):
        def process_text(self, text: str) -> list[dict]:
            prof = cProfile.Profile() if args.profile_out else None
            t0 = time.perf_counter_ns()
            if prof is not None:
                prof.enable()
            try:
                return super().process_text(text)
            finally:
                if prof is not None:
                    prof.disable()
                dt = time.perf_counter_ns() - t0
                local.call_ns = dt
                with lock:
                    timings["process_text_s"].append(dt / 1e9)
                    if prof is not None:
                        profiles.append(prof)

    base = service.make_handler(TracedEngine())

    class Handler(base):
        def end_headers(self):
            ns = getattr(local, "call_ns", None)
            if ns is not None:
                self.send_header("X-Call-Ns", str(ns))
                local.call_ns = None
            super().end_headers()

        def do_GET(self):
            if self.path != "/_layers":
                super().do_GET()
                return
            with lock:
                body = {k: list(v) for k, v in timings.items()}
                done = list(profiles)
            if args.profile_out and done:
                stats = pstats.Stats(done[0])
                for p in done[1:]:
                    stats.add(p)
                stats.dump_stats(args.profile_out)
            self._send(200, body)

    ThreadingHTTPServer(("127.0.0.1", args.port), Handler).serve_forever()


if __name__ == "__main__":
    main()
