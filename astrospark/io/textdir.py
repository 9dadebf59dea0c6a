"""Batch directory source (SURVEY.md §2.1 S4).

S4 — directory of ``*.txt`` files → docs DataFrame (the reference's
     createTrainingBatch walks *.pdf/*.txt dirs, AstroParser.java:426-477;
     PDF parse is upstream of this engine, txt is native). Each
     blank-line-delimited paragraph becomes one text chunk.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_text_dir(spark: SparkSession, input_dir: str) -> DataFrame:
    """S4: *.txt files → docs(doc_id, spans) with one text chunk per
    paragraph (kind='paragraph'), offsets = char positions in the file."""
    files = (
        spark.read.format("text")
        .option("wholetext", True)
        .load(os.path.join(input_dir, "*.txt"))
        .select(
            F.regexp_extract(F.input_file_name(), r"([^/]+)\.txt$", 1).alias("doc_id"),
            F.col("value").alias("text"),
        )
    )

    # paragraph split is expressible JVM-side: split on blank lines. Chunk
    # offsets must be MONOTONE across chunks (they drive the span-sequence
    # order), so each paragraph gets the cumulative char length of the
    # preceding paragraphs (+2 per separator — the canonical '\n\n' width;
    # wider separators collapse, which only shifts absolute offsets).
    return files.select(
        "doc_id",
        F.expr(
            "filter(transform(split(text, '\\\\n\\\\s*\\\\n'), (p, i) -> "
            "struct('paragraph' AS kind, p AS text, '' AS media_ref, "
            "CAST(aggregate(slice(split(text, '\\\\n\\\\s*\\\\n'), 1, i), 0, "
            "(a, x) -> a + length(x) + 2) AS INT) AS offset)), "
            "x -> length(trim(x.text)) > 0)"
        ).alias("spans"),
    )
