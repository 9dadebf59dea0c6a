"""spark-submit entry for the extraction backfill (north_rule: the job
runs via ``spark-submit --py-files`` on a multi-executor cluster).

Build the dependency zip once, then submit — the script itself carries no
logic beyond arg parsing; everything lives in the shipped package:

    cd /root/repo && zip -qr /tmp/astrospark.zip astrospark
    spark-submit --master local[8] \
        --conf spark.sql.shuffle.partitions=8 \
        --py-files /tmp/astrospark.zip \
        scripts/submit_extract.py INPUT_PARQUET OUTPUT_DIR [CHECKPOINT_DIR]

On a real cluster the only changes are --master / deploy-mode / executor
sizing; the package resolves its gazetteer + weights from inside the zip
(importlib.resources), and the artifacts travel to executors as one Spark
broadcast. With CHECKPOINT_DIR set, the run is resumable mid-table:
re-submitting skips committed buckets (per-bucket lineage + metrics rows).
"""

from __future__ import annotations

import sys

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def main() -> None:
    if len(sys.argv) < 3:
        raise SystemExit(__doc__)
    inp, out_dir = sys.argv[1], sys.argv[2]
    ckpt_dir = sys.argv[3] if len(sys.argv) > 3 else None

    from astrospark.engine.session import ENGINE_CONF

    # the engine's runtime settings; cluster-level conf stays with the
    # spark-submit flags
    spark = (
        SparkSession.builder.appName("astrospark-extract").config(map=ENGINE_CONF).getOrCreate()
    )

    from astrospark.engine.extraction import broadcast_artifacts, extract_spans

    docs = spark.read.parquet(inp)
    bcast = broadcast_artifacts(spark)

    if ckpt_dir:
        from astrospark.engine.checkpoint import (
            CheckpointedExtraction,
            local_input_fingerprint,
        )

        runner = CheckpointedExtraction(spark, bcast, ckpt_dir)
        results = runner.run(docs, out_dir, local_input_fingerprint(inp))
        n_docs = sum(r.n_docs for r in results)
        n_spans = sum(r.n_spans for r in results)
        print(f"groups={len(results)} docs={n_docs} spans={n_spans}")
    else:
        out = extract_spans(docs, bcast)
        out.write.mode("overwrite").parquet(out_dir)
        print(f"spans={spark.read.parquet(out_dir).count()}")

    # extraction-count metric by kind (A4/A6) for the run log
    for r in (
        spark.read.parquet(out_dir)
        .groupBy("kind")
        .agg(F.count("*").alias("n"))
        .collect()
    ):
        print(f"kind={r['kind']} n={r['n']}")
    spark.stop()


if __name__ == "__main__":
    main()
