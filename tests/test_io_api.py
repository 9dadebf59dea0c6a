"""TEI source/sink, text-dir source, JSONL docs source, API façade."""

import pytest

from astrospark.io import tei
from astrospark.io.textdir import read_text_dir

SAMPLE_TEI = """<tei xmlns="http://www.tei-c.org/ns/1.0">
  <teiHeader><fileDesc xml:id="_1"/></teiHeader>
  <text xml:lang="en">
    <p>Based on observations collected with ATCA under <rs type="astro-object">ID C2718</rs>,
       and at VLA under <rs type="astro-object">ID 13B-017</rs>.</p>
    <p>We detect only <rs type="astro-object">GRB 020819B</rs> with a measured flux.</p>
    <p>   </p>
  </text>
</tei>"""


def test_tei_chunks_normalize_whitespace():
    chunks = tei.tei_chunks(SAMPLE_TEI)
    assert len(chunks) == 2
    assert chunks[0].startswith("Based on observations collected with ATCA under ID C2718,")
    assert "\n" not in chunks[0] and "  " not in chunks[0]


def test_tei_annotated_paragraphs_offsets():
    paras = tei.tei_annotated_paragraphs(SAMPLE_TEI)
    assert len(paras) == 2
    text, spans = paras[0]
    assert [text[s:e] for s, e in spans] == ["ID C2718", "ID 13B-017"]
    text, spans = paras[1]
    assert [text[s:e] for s, e in spans] == ["GRB 020819B"]


def test_training_label_filters():
    text = "see (NGC 1275) and GRB 020819B;, end M 31 ."
    spans = [(4, 14), (19, 31), (37, 43)]
    # span 2 ends with ';' (31 exclusive covers 'GRB 020819B;'? adjust):
    spans = [(4, 14), (19, 31), (37, 44)]
    out = tei.apply_training_label_filters(text, spans)
    # '('-initial dropped; trailing '.'/';' + preceding space stripped
    assert (4, 14) not in out
    assert all(text[e - 1] not in ";., " for _s, e in out)


def test_training_tei_roundtrip():
    paras = tei.tei_annotated_paragraphs(SAMPLE_TEI)
    rendered = tei.training_tei(paras)
    back = tei.tei_annotated_paragraphs(rendered)
    assert [(t, s) for t, s in back] == paras


def test_read_text_dir_and_engine(spark, artifacts, tmp_path):
    (tmp_path / "a.txt").write_text("We detect GRB 020819B here.\n\nAnd NGC 1275 there.\n")
    (tmp_path / "b.txt").write_text("no entities in this file\n")
    docs = read_text_dir(spark, str(tmp_path))
    rows = {r.doc_id: r.spans for r in docs.collect()}
    assert set(rows) == {"a", "b"}
    assert len(rows["a"]) == 2

    from astrospark.api import AstroEngine

    eng = AstroEngine(spark, artifacts)
    spans = eng.process_text_dir(str(tmp_path)).collect()
    texts = {r.text for r in spans}
    assert "GRB 020819B" in texts and "NGC 1275" in texts


def test_api_process_text(spark, artifacts):
    from astrospark.api import AstroEngine

    eng = AstroEngine(spark, artifacts)
    out = eng.process_text("We detect GRB 020819B at 3 GHz near NGC 1275.")
    assert [o["text"] for o in out] == ["GRB 020819B", "NGC 1275"]
    assert out[0]["offset"] == 10
    assert eng.process_text("   ") == []


def _oracle_spans(text, artifacts):
    from astrospark.oracle import process_document

    vocab, trie, model = artifacts
    doc = [{"kind": "text", "text": text, "media_ref": "", "offset": 0}]
    return process_document(doc, vocab, trie, model)


def test_process_text_concurrent_first_calls(artifacts, request_texts, run_together):
    """Concurrent first calls on a fresh engine (cold model indexes) each
    get the serial answer: kernel calls on one engine never overlap."""
    import sys

    from astrospark.api import AstroEngine
    from astrospark.engine.extraction import load_default_artifacts

    serial = [AstroEngine(artifacts=artifacts).process_text(t) for t in request_texts]
    assert any(serial)
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for _ in range(3):  # each fresh model is one chance for the cold-index race
            engine = AstroEngine(artifacts=load_default_artifacts())
            assert run_together(engine.process_text, request_texts) == serial
    finally:
        sys.setswitchinterval(interval)


def test_extract_batch_concurrent_on_fresh_model(artifacts, request_texts, run_together):
    """Eight threads released at once call the kernel directly, without
    the engine's lock, on a freshly loaded model and gazetteer; each gets
    the serial answer, because every table the kernel looks up is built
    before anyone can use it."""
    import sys

    import pandas as pd

    from astrospark import kernel
    from astrospark.crf import CrfModel
    from astrospark.lexicon import build_trie, build_vocab, load_names
    from astrospark.train import WEIGHTS_PATH

    def spans(arts, text):
        pdf = pd.DataFrame(
            {"doc_id": [0], "spans": [[{"kind": "text", "text": text, "media_ref": "", "offset": 0}]]}
        )
        return kernel.extract_batch(pdf, *arts).to_dict("records")

    serial = [spans(artifacts, t) for t in request_texts]
    assert any(serial)
    names = load_names()
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for _ in range(3):  # each fresh model and gazetteer is one chance for a race
            fresh = (build_vocab(names), build_trie(names), CrfModel.load(WEIGHTS_PATH))
            assert run_together(lambda t: spans(fresh, t), request_texts) == serial
    finally:
        sys.setswitchinterval(interval)


def _call_behind_held_kernel(engine, texts, monkeypatch, run_together, fail_marker=None):
    """Wrap ``kernel.extract_batch`` to count each call's docs and to raise
    on any batch containing ``fail_marker``. One call holds the kernel
    while ``texts`` are sent concurrently; it is released once all of them
    are queued. Returns their results and the doc count of every kernel
    call after the holder's."""
    import threading
    import time

    from astrospark import kernel

    real = kernel.extract_batch
    sizes: list[int] = []
    entered, release = threading.Event(), threading.Event()

    def wrapped(pdf, *a, **kw):
        sizes.append(len(pdf))
        if len(sizes) == 1:
            entered.set()
            release.wait(30)
        if fail_marker is not None and any(
            fail_marker in s["text"] for spans in pdf["spans"] for s in spans
        ):
            raise ValueError("bad text")
        return real(pdf, *a, **kw)

    monkeypatch.setattr(kernel, "extract_batch", wrapped)
    holder = threading.Thread(target=engine.process_text, args=("We see M31.",), daemon=True)
    holder.start()
    assert entered.wait(30)

    def release_when_queued():
        deadline = time.monotonic() + 30
        while len(engine._pending) < len(texts) and time.monotonic() < deadline:
            time.sleep(0.005)
        release.set()

    threading.Thread(target=release_when_queued, daemon=True).start()
    got = run_together(engine.process_text, texts)
    holder.join(30)
    assert not holder.is_alive()
    return got, sizes[1:]


def test_process_text_shares_kernel_calls(artifacts, request_texts, run_together, monkeypatch):
    """Callers that arrive while a kernel call runs share the next one."""
    from astrospark.api import AstroEngine

    engine = AstroEngine(artifacts=artifacts)
    got, sizes = _call_behind_held_kernel(engine, request_texts, monkeypatch, run_together)
    assert got == [_oracle_spans(t, artifacts) for t in request_texts]
    assert sizes == [len(request_texts)]


def test_process_text_failure_is_isolated(artifacts, request_texts, run_together, monkeypatch):
    """A text that makes the kernel raise fails only its own caller: the
    shared call is re-run one text per call."""
    from astrospark.api import AstroEngine

    marker = "POISON"
    texts = list(request_texts)
    texts[3] = f"We see NGC 1275 and {marker} here."
    engine = AstroEngine(artifacts=artifacts)
    got, sizes = _call_behind_held_kernel(engine, texts, monkeypatch, run_together, marker)
    assert sizes == [len(texts)] + [1] * len(texts)
    assert isinstance(got[3], ValueError)
    for i, text in enumerate(texts):
        if i != 3:
            assert got[i] == _oracle_spans(text, artifacts), i
    assert engine.process_text("We see M31.") == _oracle_spans("We see M31.", artifacts)


def test_jsonl_docs_roundtrip(spark, tmp_path):
    """S1 alternate format: interleaved docs written as JSON lines read
    back through ``read_docs(fmt="jsonl")`` with the explicit schema (no
    inference pass), equal to the source rows."""
    import os

    from astrospark.fixtures import docs_dataframe
    from astrospark.io.sources import read_docs

    docs = docs_dataframe(spark, 20, seed=5, skew_every=10, n_partitions=2)
    path = os.fspath(tmp_path / "docs_jsonl")
    docs.write.json(path)
    back = read_docs(spark, path, fmt="jsonl")
    assert back.schema == docs.schema
    a = sorted(map(tuple, docs.select("doc_id", "spans").collect()))
    b = sorted(map(tuple, back.select("doc_id", "spans").collect()))
    assert a == b
