"""Self-tests of the benchmark's own rules (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import common  # noqa: E402
from perfbench.run import WORKLOADS  # noqa: E402


def test_percentile_needs_ten_samples_beyond():
    assert common.percentile(list(range(19)), 0.5) is None  # 9 above the median
    assert common.percentile(list(range(21)), 0.5) == 10  # 10 above it
    assert common.percentile(list(range(99)), 0.9) is None
    assert common.percentile(list(range(100)), 0.9) == 89
    for n in range(1, 250):
        xs = [float(i) for i in range(n)]
        for q in (0.5, 0.9, 0.99):
            v = common.percentile(xs, q)
            if v is not None:
                assert sum(x > v for x in xs) >= common.MIN_TAIL


def test_tail_falls_back_to_a_supported_quantile():
    assert common.tail(list(range(100)), 0.9) == (0.9, 89)
    q, v = common.tail([float(i) for i in range(50)], 0.9)
    assert q == 0.8 and v == 39.0  # the highest rank with ten samples above
    assert common.tail([1.0, 2.0, 3.0, 4.0], 0.9) == (0.5, 2.5)  # too few: the median


def test_metric_names_and_units():
    cat = common.load_catalogue()
    names = [m["name"] for key in ("end_to_end", "per_layer") for m in cat[key]]
    names += [w["name"] for w in cat["workloads"]]
    assert len(names) == len(set(names))
    for name in names:
        assert common.valid_metric_name(name), name
    for key in ("end_to_end", "per_layer"):
        for m in cat[key]:
            assert len(m["unit"]) <= 16 and all(c.isalnum() or c in "_/%.-" for c in m["unit"])
    assert not common.valid_metric_name("lat p90")
    assert not common.valid_metric_name("_hidden")


def test_catalogue_shape():
    cat = common.load_catalogue()
    assert set(cat) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert [w["name"] for w in cat["workloads"]] == list(WORKLOADS)
    bounds = {m["name"]: m["bound"] for m in cat["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())
    assert 1 <= cat["run_seconds"] <= 60


def test_failures_count_against_attempted():
    t = common.Tally()
    t.ok()
    t.ok()
    t.mismatch("second answer differs")
    t.error("third request refused")
    assert (t.attempted, t.failed) == (3, 2)
    cat = common.load_catalogue()
    metrics = {m["name"]: common.metric(1.5, m["unit"]) for m in cat["end_to_end"]}
    line = json.loads(common.result_line(t, metrics, trace=False))
    assert line == {"correct": False, "attempted": 3, "failed": 2, "metrics": metrics}


def test_result_line_refuses_a_different_metric_set():
    cat = common.load_catalogue()
    metrics = {m["name"]: common.metric(1.0, m["unit"]) for m in cat["end_to_end"]}
    metrics.pop("setup_s")
    with pytest.raises(ValueError):
        common.result_line(common.Tally(), metrics, trace=False)


def test_service_check_counts_errors_and_mismatches():
    from perfbench.service_c4 import check

    text = "We detect GRB 020819B at 3 GHz near NGC 1275."
    t = common.Tally()
    probe = [{"i": 0, "status": 200, "entities": []}]
    check(probe, [text], t)
    assert t.failed == 1  # the oracle finds objects in this text, the answer has none
    t = common.Tally()
    check([{"i": 0, "status": 500, "error": "boom"}], [text], t)
    assert (t.attempted, t.failed) == (1, 1)


def test_dedup_table_has_the_contract_shape(tmp_path):
    import pyarrow.parquet as pq

    from perfbench import dedup

    props = dedup.make_documents(str(tmp_path), seed=3)
    t = pq.read_table(tmp_path / "documents.parquet").to_pydict()
    assert props["docs"] == len(t["doc_id"]) == dedup.N_DOCS
    near = [x for x in t["text"] if x.endswith(" dup")]
    assert len(near) == props["near_copies"] == dedup.N_DOCS // 20
    base = set(t["text"]) - set(near)
    # a near copy is another doc plus " dup"; that doc may itself have been
    # replaced by a copy, as for 1 of 25 in the contract table
    assert sum(x[:-4] in base for x in near) >= 0.9 * len(near)
    words = [x.split(" ") for x in t["text"] if not x.endswith(" dup")]
    assert all(dedup.MIN_WORDS <= len(w) <= dedup.MAX_WORDS for w in words)
    assert {w for ws in words for w in ws} <= set(dedup.WORDS)
    assert t["source"] == [f"src{i % 20}" for i in range(dedup.N_DOCS)]
    assert t["n_chars"] == [len(x) for x in t["text"]]
    assert dedup.make_documents(str(tmp_path / "again"), seed=3) == props


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "backfill", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
