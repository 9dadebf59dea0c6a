"""astrospark benchmark: one command, three workloads.

    python3 perfbench/run.py --workload backfill|service_c4|dedup \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. Builds its inputs from ``--seed``,
measures for ``--seconds``, checks the program's outputs outside the timed
window, and prints as its last stdout line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end set of BENCHMARK.json, with ``--trace 1`` the
per-layer set. The full run record (inputs, host controls, per-pass
timings, spans) goes to ``.perfbench-out/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import os
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("backfill", "service_c4", "dedup")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds <= 0:
        ap.error("--seconds must be positive")
    if not os.path.isfile(os.path.join(ROOT, "astrospark", "kernel.py")):
        print(f"perfbench: no astrospark package under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2

    os.chdir(ROOT)
    sys.path.insert(0, ROOT)
    from perfbench import common

    if args.workload == "backfill":
        from perfbench import backfill as wl
    elif args.workload == "service_c4":
        from perfbench import service_c4 as wl
    else:
        from perfbench import dedup as wl

    cat = common.load_catalogue()
    spans, tally = common.Spans(), common.Tally()
    with common.work_dir(args.workload) as work:
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        os.environ["TMPDIR"] = tmp
        tempfile.tempdir = None
        try:
            res = wl.run(work, args.seed, args.seconds, bool(args.trace), spans, tally)
        finally:
            with spans.span("reap"):
                common.reap_descendants()

    units = {m["name"]: m["unit"] for m in cat["per_layer" if args.trace else "end_to_end"]}
    values = res["layers"] if args.trace else res["e2e"]
    unknown = set(values) - set(units)
    if unknown:
        raise ValueError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    if not args.trace and set(values) != set(units):
        raise ValueError(f"end-to-end metrics not measured: {sorted(set(units) - set(values))}")
    record = res["record"]
    record.update({
        "run": {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                "trace": args.trace},
        "attempted": tally.attempted, "failed": tally.failed,
        "errors": tally.errors, "mismatches": tally.mismatches,
        "e2e": res["e2e"], "layers": res["layers"],
        # layers this workload does not reach report 0
        "layers_not_reached": sorted(set(units) - set(values)) if args.trace else [],
        "spans": spans.rows,
    })
    path = common.write_record(
        record, f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}.json")
    host = record.get("host", {})
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace}: "
          + ", ".join(f"{k}={v:.4g}" for k, v in res["e2e"].items())
          + f"; host steal={host.get('steal_pct', 0):.1f}% busy={host.get('busy_pct', 0):.1f}%"
          + f"; record {os.path.relpath(path, ROOT)}")
    metrics = {k: common.metric(values.get(k, 0.0), u) for k, u in units.items()}
    print(common.result_line(tally, metrics, bool(args.trace)), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
