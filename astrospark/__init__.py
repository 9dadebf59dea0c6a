"""astrospark — a PySpark-native astronomical-entity extraction engine.

Brand-new implementation (NOT a port) with the query/data-processing
capabilities of the reference pipeline kermitt2/grobid-astro
(/root/reference). The reference defines the semantics (tokenizer,
gazetteer matching, CRF sequence labeling, span extraction); this package
realizes them Spark-first: one narrow `mapInPandas` stage over Arrow
batches with broadcast gazetteer/CRF-weight artifacts, one repartition
on doc_id, and per-partition checkpoint/resume.
"""

__version__ = "0.1.0"
