"""Feature columns: vectorized vs scalar equivalence; CRF decode + artifact."""

from itertools import product

import numpy as np
import pandas as pd
import pytest

from astrospark import crf, oracle
from astrospark.crf import (
    CrfModel,
    shift_codes,
    shift_within_sequences,
    viterbi_batched,
    viterbi_single,
)
from astrospark.features import compute_columns
from astrospark.oracle import emission_scores, scalar_columns
from astrospark.templates import BOUNDARY, N_LABELS, TEMPLATES, build_eval_plan

TOKENS = [
    "GRB", "020819B", "the", "detect", "(", ")", "[", "]", ".", ",", "-",
    '"', "'", "`", "NGC", "1275", "Magellanic", "x", "X", "3", "GHz", "4",
    "σ", "M", "ALLCAPS", "Ab1", "a1b2", "..", "--", "?!", "%", "I",
]


def test_columns_vectorized_matches_scalar():
    an = np.array([t == "GRB" for t in TOKENS])
    ia = np.array([t in ("GRB", "020819B") for t in TOKENS])
    cols = compute_columns(pd.Series(TOKENS, dtype="object"), an, ia)
    for i, tok in enumerate(TOKENS):
        exp = scalar_columns(tok, bool(an[i]), bool(ia[i]))
        got = [str(np.asarray(c, dtype=object)[i]) for c in cols]
        assert got == exp, tok


def test_shift_codes_matches_shift_strings():
    rng = np.random.default_rng(5)
    col = np.array(list("abcdefghij"), dtype=object)
    seq = np.array([0, 0, 0, 1, 1, 2, 2, 2, 2, 3])
    codes = np.arange(10, dtype=np.int64)
    for d in range(-4, 5):
        s = shift_within_sequences(col, seq, d)
        c = shift_codes(codes, seq, d)
        for i in range(10):
            if c[i] == -1:
                assert s[i] == BOUNDARY
            else:
                assert s[i] == col[c[i]]


def test_viterbi_batched_matches_single():
    rng = np.random.default_rng(9)
    trans = rng.normal(size=(N_LABELS, N_LABELS)).astype(np.float32)
    lengths = [1, 2, 3, 7, 20, 64, 5, 1, 13]
    emits = [rng.normal(size=(T, N_LABELS)).astype(np.float32) for T in lengths]
    seq_ids = np.repeat(np.arange(len(lengths)), lengths)
    flat = np.concatenate(emits)
    batched = viterbi_batched(flat, seq_ids, trans)
    pos = 0
    for T, em in zip(lengths, emits):
        single = viterbi_single(em.astype(np.float64), trans.astype(np.float64))
        assert batched[pos : pos + T].tolist() == single.tolist()
        pos += T


def _assert_emissions_match_oracle(model, toks, seq_ids, interval, astro=("GRB", "NGC")):
    """Kernel emissions over the batch's distinct tokens equal the
    oracle's per-sequence template lookups, bit for bit."""
    toks = np.asarray(toks, dtype=object)
    uniq, codes = np.unique(toks, return_inverse=True)
    ucols = compute_columns(pd.Series(uniq, dtype="object"), np.isin(uniq, astro), None)
    got = model.emissions(ucols, codes, interval, seq_ids)
    for s in np.unique(seq_ids):
        idx = np.flatnonzero(seq_ids == s)
        cols = [scalar_columns(toks[i], toks[i] in astro, bool(interval[i])) for i in idx]
        assert np.array_equal(got[idx], emission_scores(cols, model)), s


def test_emissions_match_oracle(artifacts):
    """The compiled scorer equals the scalar oracle on a mixed batch."""
    _, _, model = artifacts
    rng = np.random.default_rng(2)
    toks = [TOKENS[i] for i in rng.integers(0, len(TOKENS), size=60)]
    seq_ids = np.sort(rng.integers(0, 5, size=60))
    _assert_emissions_match_oracle(model, toks, seq_ids, rng.random(60) < 0.3)


def test_model_artifact_roundtrip(tmp_path, artifacts):
    _, _, model = artifacts
    p = str(tmp_path / "w.npz")
    model.save(p)
    m2 = CrfModel.load(p)
    assert np.allclose(model.trans, m2.trans)
    assert len(m2.vocabs) == len(TEMPLATES)
    for a, b in zip(model.weights, m2.weights):
        assert np.allclose(a, b)


def test_compound_keys_match_oracle_tuples(artifacts):
    """Compound templates score tokens unseen in training and tokens that
    contain the artifact's separator exactly like the oracle's component
    tuples: a SEP-bearing component never matches a vocabulary key."""
    _, _, model = artifacts
    rng = np.random.default_rng(3)
    pool = np.array(["alpha", "beta", "NGC", "1275", "SDSS", "zzqx", "a\x1fb", "a", "b"], dtype=object)
    toks = pool[rng.integers(0, len(pool), 80)]
    seq = np.zeros(80, dtype=np.int64)
    seq[40:] = 1
    seq[70:] = 2
    _assert_emissions_match_oracle(model, toks, seq, rng.random(80) < 0.5)


SYNTH_TEMPLATES = (
    ("U04", ((0, 0),)),
    ("UG2", ((0, 17),)),
    ("X3", ((-3, 0), (-2, 0), (-1, 0))),
    ("X2", ((3, 0), (-4, 0))),
    ("XC", ((-1, 1), (2, 12))),
)


def test_compound_offsets_beyond_two_match_oracle(monkeypatch):
    """Compound templates at any offsets — beyond ±2, out of order, across
    two columns — score like the oracle's tuple lookup, including at
    sequence edges where components fall outside the sequence."""
    rng = np.random.default_rng(8)
    alphabet = ["a", "b", "c", "NGC", BOUNDARY]
    vocabs = [
        {key: row for row, key in enumerate(keys)}
        for keys in (
            ["a", "b", "NGC"],
            ["0", "1", BOUNDARY],
            [g for g in product(alphabet, repeat=3) if g != ("a", "a", "a")],
            list(product(alphabet, repeat=2)),
            [("a", "NOCAPS"), ("ngc", "ALLCAPS"), (BOUNDARY, "NOCAPS"), ("b", BOUNDARY)],
        )
    ]
    weights = [rng.normal(size=(len(v) + 1, N_LABELS)).astype(np.float32) for v in vocabs]
    for w in weights:
        w[-1] = 0.0
    trans = rng.normal(size=(N_LABELS, N_LABELS)).astype(np.float32)
    plan = build_eval_plan(SYNTH_TEMPLATES)
    for mod in (crf, oracle):
        monkeypatch.setattr(mod, "TEMPLATES", SYNTH_TEMPLATES)
        monkeypatch.setattr(mod, "EVAL_PLAN", plan)
    model = CrfModel(vocabs, weights, trans)
    lens = [1, 2, 3, 4, 5, 9, 30]
    seq = np.repeat(np.arange(len(lens)), lens)
    toks = np.array(["a", "b", "c", "d", "NGC"], dtype=object)[rng.integers(0, 5, len(seq))]
    _assert_emissions_match_oracle(model, toks, seq, rng.random(len(seq)) < 0.5)


def test_load_refuses_unsplittable_compound_key(tmp_path, artifacts):
    """An artifact whose compound value does not split into one part per
    component cannot be scored by components, so loading it fails."""
    _, _, model = artifacts
    p = str(tmp_path / "w.npz")
    model.save(p)
    data = dict(np.load(p))
    k = next(i for i, (_n, spec) in enumerate(TEMPLATES) if len(spec) == 2)
    data[f"vals_{k}"] = np.array(["one\x1ftwo\x1fthree"] + data[f"vals_{k}"].tolist()[1:])
    np.savez(p, **data)
    with pytest.raises(ValueError, match="does not split"):
        CrfModel.load(p)


def test_viterbi_unrolled_tie_breaks_match_scalar():
    """Integer-valued emissions/transitions create exact score ties; the
    unrolled 3-label forward step must reproduce argmax's first-max
    tie-break (lower previous label wins)."""
    rng = np.random.default_rng(0)
    for _ in range(25):
        n_seq = int(rng.integers(1, 30))
        lens = rng.integers(1, 50, n_seq)
        seq = np.repeat(np.arange(n_seq), lens)
        n = int(lens.sum())
        emit = rng.integers(-3, 4, (n, N_LABELS)).astype(np.float64)
        trans = rng.integers(-2, 3, (N_LABELS, N_LABELS)).astype(np.float32)
        got = viterbi_batched(emit, seq, trans)
        starts = np.concatenate(([0], np.cumsum(lens)))[:-1]
        pos = 0
        for s, ln in zip(starts, lens):
            single = viterbi_single(emit[s : s + ln], trans.astype(np.float64))
            assert np.array_equal(got[s : s + ln], single)


def test_viterbi_ties_with_equal_and_unit_lengths():
    """Many sequences of equal length, and length-1 sequences, under
    exact score ties: the length-ordered prefix decode keeps every
    sequence's own labels and argmax's first-max tie-break."""
    rng = np.random.default_rng(4)
    trans = rng.integers(-1, 2, (N_LABELS, N_LABELS)).astype(np.float32)
    for lens in ([1] * 12, [4] * 20 + [1] * 5, [1, 7, 7, 1, 7, 3, 3, 1, 7]):
        lens = np.array(lens)
        seq = np.repeat(np.arange(len(lens)), lens)
        emit = rng.integers(-2, 3, (len(seq), N_LABELS)).astype(np.float64)
        got = viterbi_batched(emit, seq, trans)
        starts = np.concatenate(([0], np.cumsum(lens)))[:-1]
        for s, ln in zip(starts, lens):
            single = viterbi_single(emit[s : s + ln], trans.astype(np.float64))
            assert np.array_equal(got[s : s + ln], single)
