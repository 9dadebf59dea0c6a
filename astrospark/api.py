"""User-facing engine façade — the reference's service surface, Spark-first.

Maps the reference's entry points
(/root/reference/src/main/java/org/grobid/service/AstroRestService.java:70-92)
onto one engine object:

  reference                      astrospark
  ---------------------------   ------------------------------------------
  POST /processAstroText        AstroEngine.process_text(str) -> spans
  (PDF upload → segmentation)   upstream; pre-segmented docs table instead
  batch dir createTrainingBatch AstroEngine.process_text_dir(path)
  (per-request JSON response)   AstroEngine.process_docs(df) -> DataFrame
                                + io.sources.spans_to_json at the edge

One SparkSession + one broadcast per engine instance, mirroring the
reference's per-JVM singletons (AstroParser.java:67-81).
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession

from astrospark.engine.extraction import (
    broadcast_artifacts,
    extract_spans,
    load_default_artifacts,
)


class _Request:
    """One queued ``process_text`` call; ``outcome`` stays None until a
    kernel call sets it to the caller's spans or to its exception."""

    __slots__ = ("text", "outcome")

    def __init__(self, text: str):
        self.text = text
        self.outcome: list[dict] | Exception | None = None


class AstroEngine:
    """``spark`` is created LAZILY: the single-request path
    (``process_text``, the service endpoint) runs the kernel driver-side
    and must not pay a JVM spin-up; the session + broadcast materialize on
    the first cluster-scale call."""

    def __init__(self, spark: SparkSession | None = None, artifacts=None):
        self._spark = spark
        self._bcast = None
        self.artifacts = artifacts or load_default_artifacts()
        self._kernel_lock = threading.Lock()  # one kernel call at a time
        self._queue_lock = threading.Lock()  # guards _pending
        self._pending: list[_Request] = []

    @property
    def spark(self) -> SparkSession:
        if self._spark is None:
            from astrospark.engine.session import build_session

            self._spark = build_session()
        return self._spark

    @property
    def bcast(self):
        if self._bcast is None:
            self._bcast = broadcast_artifacts(self.spark, self.artifacts)
        return self._bcast

    # -- single request (driver-side, no cluster round-trip) ---------------

    def process_text(self, text: str) -> list[dict]:
        """One string → ordered span dicts (the /processAstroText shape).

        Runs the kernel driver-side — a service endpoint should not pay a
        Spark job per request. Concurrent callers share kernel calls: each
        queues its text and takes the engine's kernel lock; a caller whose
        answer a previous holder already produced returns it, otherwise it
        runs one ``extract_batch`` over every text queued so far. A batch
        is whatever arrived while the previous call ran (a lone request
        is a batch of one), so there is no timer and no size setting; the
        call's time includes the wait for the lock."""
        req = _Request(text)
        with self._queue_lock:
            self._pending.append(req)
        with self._kernel_lock:
            if req.outcome is None:
                with self._queue_lock:
                    batch, self._pending = self._pending, []
                self._run_batch(batch)
        if isinstance(req.outcome, Exception):
            raise req.outcome
        return req.outcome

    def _run_batch(self, batch: list[_Request]) -> None:
        """One kernel call for the whole batch. If it raises, each text is
        re-run on its own, so one bad text fails only its own caller."""
        try:
            outcomes = self._extract([r.text for r in batch])
        except Exception as exc:
            if len(batch) == 1:
                outcomes = [exc]  # already run alone
            else:
                outcomes = [self._extract_alone(r.text) for r in batch]
        for r, outcome in zip(batch, outcomes):
            r.outcome = outcome

    def _extract_alone(self, text: str) -> list[dict] | Exception:
        try:
            return self._extract([text])[0]
        except Exception as exc:
            return exc

    def _extract(self, texts: list[str]) -> list[list[dict]]:
        """Texts → one span-dict list per text, from one kernel call.
        ``extract_batch`` is looked up on the module at call time."""
        import pandas as pd

        from astrospark import kernel

        vocab, trie, model = self.artifacts
        pdf = pd.DataFrame(
            {
                "doc_id": range(len(texts)),
                "spans": [
                    [{"kind": "text", "text": t, "media_ref": "", "offset": 0}]
                    for t in texts
                ],
            }
        )
        out = kernel.extract_batch(pdf, vocab, trie, model)
        answers: list[list[dict]] = [[] for _ in texts]
        for r in out.itertuples():
            answers[r.doc_id].append(
                {
                    "seq": int(r.seq),
                    "kind": r.kind,
                    "text": r.text,
                    "media_ref": r.media_ref,
                    "offset": int(r.offset),
                }
            )
        return answers

    # -- cluster-scale ------------------------------------------------------

    def process_docs(self, docs: DataFrame, **kwargs) -> DataFrame:
        """Interleaved docs table → spans table (the scale path)."""
        return extract_spans(docs, self.bcast, **kwargs)

    def process_documents_table(self, documents: DataFrame, **kwargs) -> DataFrame:
        """Flat documents(doc_id, text, ...) table → spans table."""
        from astrospark.io.sources import documents_to_docs

        return self.process_docs(documents_to_docs(documents), **kwargs)

    def process_text_dir(self, input_dir: str, **kwargs) -> DataFrame:
        """Directory of *.txt files → spans table (S4 batch source)."""
        from astrospark.io.textdir import read_text_dir

        return self.process_docs(read_text_dir(self.spark, input_dir), **kwargs)
