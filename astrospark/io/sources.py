"""Sources/sinks for the docs and spans tables (SURVEY.md §2.1).

S1/S4: batch table sources. The contract format is Iceberg
(BASELINE.json input_hint); in environments without the Iceberg runtime
jars the same fixed schema is read from parquet — the engine code is
format-agnostic (`spark.read.format(...)`), and every scan benefits from
Catalyst column pruning + predicate pushdown either way.

S5: JSON only at the service edge (astrospark/service.py), mirroring the
reference's hand-built JSON response
(/root/reference/src/main/java/org/grobid/core/data/AstroEntity.java:198-236).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DOCS_SCHEMA_DDL = (
    "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
)


def read_docs(spark: SparkSession, source: str, fmt: str | None = None) -> DataFrame:
    """Load the interleaved docs table. ``source`` is a path
    (parquet/jsonl) or a catalog table name (iceberg)."""
    if fmt == "iceberg" or (fmt is None and "." in source and "/" not in source):
        return spark.read.format("iceberg").load(source)
    if fmt in ("json", "jsonl") or (fmt is None and source.endswith((".jsonl", ".json"))):
        return read_docs_jsonl(spark, source)
    return spark.read.parquet(source)


def read_docs_jsonl(spark: SparkSession, path: str) -> DataFrame:
    """Interleaved docs from JSON-lines (the common interchange format
    for scholarly-document dumps). The schema is EXPLICIT — at 10^12
    rows, schema inference is a full extra pass over the data; a typo'd
    field under an explicit schema surfaces as nulls, checked by the
    blank filter downstream, never as a silent schema drift."""
    return spark.read.schema(DOCS_SCHEMA_DDL).json(path)


def documents_to_docs(documents: DataFrame) -> DataFrame:
    """Adapt the driver's flat documents(doc_id, text, ...) table to the
    interleaved docs schema: one single text chunk per document at offset 0
    (FIXTURES.md §6)."""
    return documents.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.array(
            F.struct(
                F.lit("text").alias("kind"),
                F.col("text").alias("text"),
                F.lit("").alias("media_ref"),
                F.lit(0).alias("offset"),
            )
        ).alias("spans"),
    )
