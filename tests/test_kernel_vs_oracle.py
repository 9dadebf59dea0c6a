"""Span-sequence equality: vectorized kernel vs scalar oracle (the
BASELINE.json per-row invariant, exercised without Spark)."""

import numpy as np
import pandas as pd
import pytest

from astrospark.fixtures import make_docs
from astrospark.kernel import extract_batch
from astrospark.oracle import process_document

ADVERSARIAL = [
    "  GRB 020819B at start with two leading spaces",
    " GRB 050219 one leading space",
    "GRB 030329",
    "(GRB 980425) parens",
    "trailing entity NGC 1275",
    "trailing entity with space NGC 1275 ",
    "double  spaces  around  NGC 4993  here",
    "(NGC 1275)(M 31)",
    "M 31. M 32. M 33.",
    "  ",
    "",
    "x",
    ".",
    "GRB",
    "NGC 1275\tM 31",
    "–—―NGC 300―—–",
    "entity at very end GRB 021004",
]


def _rows(df: pd.DataFrame, doc_id: str):
    sub = df[df.doc_id == doc_id]
    return [
        dict(seq=int(r.seq), kind=r.kind, text=r.text, media_ref=r.media_ref, offset=int(r.offset))
        for r in sub.itertuples()
    ]


def _check(docs, artifacts):
    vocab, trie, model = artifacts
    pdf = pd.DataFrame(
        {"doc_id": [d["doc_id"] for d in docs], "spans": [d["spans"] for d in docs]}
    )
    out = extract_batch(pdf, vocab, trie, model).drop(columns=["end"])
    for d in docs:
        exp = process_document(d["spans"], vocab, trie, model)
        assert _rows(out, d["doc_id"]) == exp, d["doc_id"]


def test_fixture_docs_match_oracle(artifacts):
    _check(make_docs(120, seed=11, skew_every=60), artifacts)


def test_adversarial_text_chunks(artifacts):
    docs = [
        {"doc_id": f"t{i}", "spans": [{"kind": "text", "text": t, "media_ref": "", "offset": 0}]}
        for i, t in enumerate(ADVERSARIAL)
    ]
    _check(docs, artifacts)


def test_adversarial_line_chunks(artifacts):
    docs = [
        {
            "doc_id": f"l{i}",
            "spans": [{"kind": "table", "text": "hdr\n" + t + "\n" + t, "media_ref": "", "offset": 3}],
        }
        for i, t in enumerate(ADVERSARIAL)
    ]
    _check(docs, artifacts)


def test_random_whitespace_fuzz(artifacts):
    rng = np.random.default_rng(3)
    ents = ["GRB 020819B", "NGC 1275", "M 31", "Crab Nebula", "PSR J0534+2200"]
    toks = ["a", "bb", "(", ")", ".", ",", "-", " ", "  ", "   ", "\n", "\t", "x y"]
    docs = []
    for i in range(120):
        parts = []
        for _ in range(rng.integers(1, 15)):
            if rng.random() < 0.3:
                parts.append(ents[rng.integers(0, len(ents))])
            else:
                parts.append(toks[rng.integers(0, len(toks))])
        kind = ["text", "table", "figure"][rng.integers(0, 3)]
        docs.append(
            {
                "doc_id": f"f{i}",
                "spans": [
                    {"kind": kind, "text": "".join(parts), "media_ref": "", "offset": int(rng.integers(0, 100))}
                ],
            }
        )
    _check(docs, artifacts)


def test_media_passthrough_and_interleaving(artifacts):
    doc = {
        "doc_id": "m0",
        "spans": [
            {"kind": "media", "text": "", "media_ref": "img://a", "offset": 5},
            {"kind": "text", "text": "We see GRB 020819B here", "media_ref": "", "offset": 6},
            {"kind": "media", "text": "", "media_ref": "vid://b", "offset": 30},
        ],
    }
    vocab, trie, model = artifacts
    pdf = pd.DataFrame({"doc_id": ["m0"], "spans": [doc["spans"]]})
    out = extract_batch(pdf, vocab, trie, model)
    kinds = out["kind"].tolist()
    assert kinds == ["media", "object", "media"]
    assert out["seq"].tolist() == [0, 1, 2]
    assert out["offset"].tolist() == [5, 13, 30]


def test_long_sequence_decode_matches_oracle(artifacts):
    """Multi-thousand-token sequence: float32 Viterbi/emission accumulation
    drifts enough to flip near-tie decodes at this length (regression for
    the float64 fix); the kernel must match the float64 scalar oracle."""
    import random

    import pandas as pd

    from astrospark.kernel import extract_batch
    from astrospark.lexicon import load_names
    from astrospark.oracle import process_document

    vocab, trie, model = artifacts
    names = load_names()
    rng = random.Random(7)
    words = []
    for _ in range(4000):
        words.append(rng.choice(names) if rng.random() < 0.1 else f"w{rng.randint(0, 50)}")
    spans = [{"kind": "text", "text": " ".join(words), "media_ref": "", "offset": 0}]
    pdf = pd.DataFrame({"doc_id": ["long0"], "spans": [spans]})
    out = extract_batch(pdf, vocab, trie, model)
    got = [
        (int(r.seq), r.kind, r.text, r.media_ref, int(r.offset))
        for r in out.itertuples()
    ]
    want = [
        (x["seq"], x["kind"], x["text"], x["media_ref"], x["offset"])
        for x in process_document(spans, vocab, trie, model)
    ]
    assert got == want
    assert len(got) > 50  # the doc genuinely exercises decode


def test_blank_name_gazetteer_matches_oracle(artifacts):
    """A gazetteer whose names are all blank builds a trie with no
    transitions; the kernel skips the gazetteer pass instead of indexing
    an empty root table, and the CRF alone still finds both objects."""
    from astrospark.lexicon import build_trie

    vocab, _, model = artifacts
    trie = build_trie(["", "  "])
    spans = [{"kind": "text", "text": "We see NGC 1275 and M31 today.", "media_ref": "", "offset": 0}]
    _check([{"doc_id": "blank_gaz", "spans": spans}], (vocab, trie, model))
    assert [s["kind"] for s in process_document(spans, vocab, trie, model)] == ["object", "object"]


def test_separator_bearing_text_matches_oracle(artifacts):
    """Tokens containing the weights artifact's compound separator
    (``\\x1f``) next to gazetteer names: compound templates compare
    component tuples, so such a token never matches a vocabulary key."""
    texts = [
        "GRB\x1f020819B and NGC 1275 near a\x1fb",
        "\x1f NGC 1275 \x1fM 31\x1f",
        "x\x1fy\x1fz GRB 030329 \x1f\x1f",
    ]
    docs = [
        {"doc_id": f"s{i}{kind}", "spans": [{"kind": kind, "text": t, "media_ref": "", "offset": 2}]}
        for i, t in enumerate(texts)
        for kind in ("text", "table")
    ]
    _check(docs, artifacts)


def test_unseen_tokens_match_oracle(artifacts):
    """Tokens the model never saw in training, alone and around known
    names, at sequence starts and ends."""
    rng = np.random.default_rng(5)
    unseen = ["Zxqvw", "qqq9z", "ÆØÅ", "日本語", "ξψζ", "Qwerty123Uiop"]
    known = ["GRB 020819B", "NGC 1275", "M 31", "the", "at"]
    docs = []
    for i in range(40):
        words = [
            (unseen if rng.random() < 0.6 else known)[rng.integers(0, 5)]
            for _ in range(rng.integers(1, 12))
        ]
        docs.append(
            {"doc_id": f"u{i}", "spans": [{"kind": "text", "text": " ".join(words), "media_ref": "", "offset": 0}]}
        )
    _check(docs, artifacts)
