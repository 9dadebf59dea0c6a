"""The deployment surface, each run in its own process: the spark-submit
extraction job (``scripts/submit_extract.py`` with the package shipped as
``--py-files``) and ``build_session``'s local width when
``SPARK_GRAFT_CPUS`` is unset."""

import json
import os
import subprocess
import sys
import zipfile

import pyarrow.parquet as pq
import pyspark

from astrospark.fixtures import make_docs, write_docs_parquet
from astrospark.oracle import process_document

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_HOME = os.environ.get("SPARK_HOME") or os.path.dirname(pyspark.__file__)


def _zip_package(path: str) -> str:
    with zipfile.ZipFile(path, "w") as zf:
        for root, dirs, files in os.walk(os.path.join(REPO, "astrospark")):
            dirs[:] = [d for d in dirs if d != "__pycache__"]
            for name in files:
                full = os.path.join(root, name)
                zf.write(full, os.path.relpath(full, REPO))
    return path


def test_spark_submit_matches_oracle(tmp_path, artifacts):
    """The job as deployed: the package travels only as a zip (the job's
    working directory holds no checkout), and its parquet output equals the
    scalar oracle doc for doc."""
    n, seed, skew_every = 300, 5, 100
    docs = write_docs_parquet(str(tmp_path / "docs"), n, seed=seed, skew_every=skew_every)
    out = str(tmp_path / "out")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    proc = subprocess.run(
        [os.path.join(SPARK_HOME, "bin", "spark-submit"), "--master", "local[2]",
         "--conf", "spark.sql.shuffle.partitions=2", "--conf", "spark.ui.enabled=false",
         "--py-files", _zip_package(str(tmp_path / "astrospark.zip")),
         os.path.join(REPO, "scripts", "submit_extract.py"), docs, out],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]

    t = pq.read_table(out)
    got: dict = {}
    for row in zip(*(t[c].to_pylist() for c in ("doc_id", "seq", "kind", "text", "media_ref", "offset"))):
        got.setdefault(row[0], []).append(row[1:])
    assert f"spans={t.num_rows}" in proc.stdout
    vocab, trie, model = artifacts
    for d in make_docs(n, seed=seed, skew_every=skew_every):
        exp = [
            (r["seq"], r["kind"], r["text"], r["media_ref"], r["offset"])
            for r in process_document(d["spans"], vocab, trie, model)
        ]
        assert sorted(got.get(d["doc_id"], [])) == sorted(exp), d["doc_id"]


def test_session_width_defaults_to_usable_cpus():
    """With SPARK_GRAFT_CPUS unset the session runs local[<CPUs this process
    may use>], with shuffle partitions to match. The builder is stubbed at
    getOrCreate, so no JVM starts."""
    code = """
import json, types
from pyspark.sql import SparkSession
from astrospark.engine.session import build_session

def capture(builder):
    ctx = types.SimpleNamespace(setLogLevel=lambda level: None)
    return types.SimpleNamespace(sparkContext=ctx, options=dict(builder._options))

SparkSession.Builder.getOrCreate = capture
print(json.dumps(build_session().options))
"""
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
    proc = subprocess.run([sys.executable, "-c", code], cwd=REPO, env=env,
                          capture_output=True, text=True, timeout=120)
    assert proc.returncode == 0, proc.stderr[-3000:]
    options = json.loads(proc.stdout.strip().splitlines()[-1])
    cpus = len(os.sched_getaffinity(0))
    assert options["spark.master"] == f"local[{cpus}]"
    assert options["spark.sql.shuffle.partitions"] == str(max(cpus, 8))
