"""Deterministic interleaved-document fixture generator (FIXTURES.md §1).

Synthesizes the engine's input table
  docs(doc_id string, spans array<struct<kind,text,media_ref,offset int>>)
from the seeded corpus generator: text/section chunks with astronomical
mentions, table/figure chunks with embedded newlines (exercising the
per-line path), media passthrough spans, blank chunks, empty docs, and a
configurable fraction of ~50x-length skew docs (the size skew the engine
meets at scale). Pure-Python rows (for tests) or a Spark DataFrame.
"""

from __future__ import annotations

import os

import numpy as np

from astrospark.corpus import make_paragraph

_MEDIA_SCHEMES = ("img", "aud", "vid")
_LINE_HEADS = ("source\tflux\tdist", "name\tz\tmag", "id\tra\tdec")


def make_doc(rng: np.random.Generator, doc_id: str, skew: bool = False) -> dict:
    n_chunks = int(rng.integers(2, 9)) * (40 if skew else 1)
    spans = []
    offset = 0
    for _c in range(n_chunks):
        r = rng.random()
        if r < 0.55:
            text, _ = make_paragraph(rng)
            kind = "text" if rng.random() < 0.8 else str(
                ("paragraph", "section", "item", "title", "abstract")[int(rng.integers(0, 5))]
            )
            spans.append({"kind": kind, "text": text, "media_ref": "", "offset": offset})
            offset += len(text) + 1
        elif r < 0.72:
            n_lines = int(rng.integers(2, 6))
            lines = [_LINE_HEADS[int(rng.integers(0, 3))]]
            for _l in range(n_lines):
                para, _ = make_paragraph(rng)
                words = para.split(" ")[: int(rng.integers(3, 9))]
                lines.append(" ".join(words))
            text = "\n".join(lines)
            kind = "table" if rng.random() < 0.5 else "figure"
            spans.append({"kind": kind, "text": text, "media_ref": "", "offset": offset})
            offset += len(text) + 1
        elif r < 0.92:
            scheme = _MEDIA_SCHEMES[int(rng.integers(0, 3))]
            ref = f"{scheme}://obj/{int(rng.integers(0, 10**9)):09d}"
            spans.append({"kind": "media", "text": "", "media_ref": ref, "offset": offset})
            offset += 1
        else:
            # blank text chunk — must produce no output (P2 filter)
            spans.append({"kind": "text", "text": "   " if rng.random() < 0.5 else "", "media_ref": "", "offset": offset})
            offset += 3
    return {"doc_id": doc_id, "spans": spans}


def make_docs(n_docs: int, seed: int = 7, skew_every: int = 200) -> list[dict]:
    rng = np.random.default_rng(seed)
    docs = []
    for i in range(n_docs):
        skew = skew_every > 0 and i % skew_every == skew_every - 1
        docs.append(make_doc(rng, f"doc-{i:08d}", skew=skew))
    # a couple of degenerate docs for edge coverage
    if n_docs >= 3:
        docs[0]["spans"] = []  # empty document
    return docs


SPANS_SCHEMA_DDL = (
    "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
)


def docs_dataframe(spark, n_docs: int, seed: int = 7, skew_every: int = 200,
                   n_partitions: int | None = None):
    """Spark DataFrame of fixture docs (schema per BASELINE.json input_hint)."""
    rows = [
        (d["doc_id"], [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in d["spans"]])
        for d in make_docs(n_docs, seed=seed, skew_every=skew_every)
    ]
    df = spark.createDataFrame(rows, schema=SPANS_SCHEMA_DDL)
    if n_partitions:
        df = df.repartition(n_partitions)
    return df


def write_docs_parquet(path: str, n_docs: int, seed: int = 7, skew_every: int = 200,
                       rows_per_file: int = 4096) -> str:
    """Write fixture docs straight to parquet with pyarrow — bypasses the
    driver's row-at-a-time py4j serialization, which dominates wall time
    for corpora beyond a few thousand docs."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    span_type = pa.list_(
        pa.struct(
            [
                ("kind", pa.string()),
                ("text", pa.string()),
                ("media_ref", pa.string()),
                ("offset", pa.int32()),
            ]
        )
    )
    schema = pa.schema([("doc_id", pa.string()), ("spans", span_type)])
    os.makedirs(path, exist_ok=True)
    docs = make_docs(n_docs, seed=seed, skew_every=skew_every)
    for fi in range(0, len(docs), rows_per_file):
        chunk = docs[fi : fi + rows_per_file]
        table = pa.Table.from_pydict(
            {
                "doc_id": [d["doc_id"] for d in chunk],
                "spans": [
                    [
                        {
                            "kind": s["kind"],
                            "text": s["text"],
                            "media_ref": s["media_ref"],
                            "offset": s["offset"],
                        }
                        for s in d["spans"]
                    ]
                    for d in chunk
                ],
            },
            schema=schema,
        )
        pq.write_table(table, os.path.join(path, f"part-{fi // rows_per_file:05d}.parquet"))
    return path
