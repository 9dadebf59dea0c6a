"""Linear-chain CRF scorer/decoder (pure numpy) + deterministic training.

Replaces the reference's Wapiti JNI hop
(/root/reference/src/main/java/org/grobid/core/engines/AstroParser.java:122,303,344
calling grobid-core ``label()`` → native Wapiti) with broadcastable numpy
weight tables and a batched Viterbi that decodes every sequence of an Arrow
batch in a handful of numpy ops per time-step — no per-token Python on the
Spark path.

Model shape: for each feature template k (templates.py), a value→row-id dict
and a dense (n_values+1, 3) weight matrix (last row = OOV/unseen → 0), plus a
3×3 label-transition matrix (the template file's ``B`` line). Score of a
label sequence y is sum_t emit[t, y_t] + sum_{t>0} T[y_{t-1}, y_t]. A
compound template's values are tuples of its components' observation
strings; the weights artifact stores them joined with SEP.

The constructor compiles the scorer once per model into integer tables:
one hashed ``pd.Index`` dictionary per base column (every value any
template reads from that column, compound components included; BOUNDARY is
id 0), one int LUT per single-column template from dictionary id to weight
row, and each compound vocabulary key as an int64 mixed-radix number of its
components' dictionary ids. ``emissions`` then probes each column's
dictionary once per batch and works on integers from there. Nothing is
filled in lazily afterwards, so concurrent callers can share one model.

The shipped weights artifact (resources/weights.npz) is trained here with a
seeded averaged structured perceptron on the synthetic annotated corpus
(corpus.py) — the reference's own binary model is absent from its repo
(/root/reference/.MISSING_LARGE_BLOBS), so the model artifact is ours by
construction; reference parity is at the semantics level (features, decoding,
extraction), verified span-for-span against the scalar oracle.
"""

from __future__ import annotations

import gc
import itertools
import math

import numpy as np
import pandas as pd

from astrospark.lexicon import hashed_index
from astrospark.templates import BOUNDARY, EVAL_PLAN, INTERVAL_COL, N_LABELS, TEMPLATES

# separator of compound values in the weights artifact. The reference's
# feature lines are whitespace-separated and no token contains whitespace,
# so its compound values never collide; here a value that does not split
# back into one part per component is refused at load, which keeps every
# compound value an exact tuple of its components.
SEP = "\x1f"

# the values of the positional interval column (INTERVAL_COL), by flag
FLAG_VALUES = ("0", "1")

# ---------------------------------------------------------------------------
# template value construction (training)
# ---------------------------------------------------------------------------


def shift_within_sequences(col: np.ndarray, seq_ids: np.ndarray, d: int) -> np.ndarray:
    """Value of ``col`` at position t+d, or BOUNDARY when t+d leaves the
    sequence. ``seq_ids`` must be grouped (all positions of a sequence
    contiguous). Fully vectorized."""
    n = len(col)
    if d == 0:
        return col
    out = np.full(n, BOUNDARY, dtype=object)
    if d > 0:
        if n > d:
            ok = seq_ids[d:] == seq_ids[:-d]
            out[: n - d][ok] = col[d:][ok]
    else:
        k = -d
        if n > k:
            ok = seq_ids[k:] == seq_ids[:-k]
            out[k:][ok] = col[: n - k][ok]
    return out


def template_values(cols: list, seq_ids: np.ndarray) -> list:
    """For each template, the observation per position: a string for a
    single-column template, a tuple of component strings for a compound
    one. (Training path — inference uses CrfModel.emissions.)"""
    values: list = []
    cols = [
        c if isinstance(c, np.ndarray) else np.asarray(c, dtype=object) for c in cols
    ]
    for _name, spec in TEMPLATES:
        parts = [shift_within_sequences(cols[c], seq_ids, d) for d, c in spec]
        values.append(parts[0] if len(parts) == 1 else list(zip(*parts)))
    return values


def shift_codes(codes: np.ndarray, seq_ids: np.ndarray, d: int) -> np.ndarray:
    """Integer-code variant of shift_within_sequences; -1 = boundary."""
    n = len(codes)
    if d == 0:
        return codes
    out = np.full(n, -1, dtype=np.int64)
    if d > 0:
        if n > d:
            ok = seq_ids[d:] == seq_ids[:-d]
            out[: n - d][ok] = codes[d:][ok]
    else:
        k = -d
        if n > k:
            ok = seq_ids[k:] == seq_ids[:-k]
            out[k:][ok] = codes[: n - k][ok]
    return out


# ---------------------------------------------------------------------------
# model container
# ---------------------------------------------------------------------------


class CrfModel:
    __slots__ = ("vocabs", "weights", "trans", "_dicts", "_luts", "_keys")

    def __init__(self, vocabs: list[dict], weights: list[np.ndarray], trans: np.ndarray):
        """``vocabs[k]`` maps template k's values to weight rows 0..n-1 in
        insertion order (as ``load`` and training build them); a compound
        template's values are tuples of its component strings."""
        self.vocabs = vocabs
        self.weights = weights
        self.trans = trans
        # each template's values as an (n, len(spec)) object array
        comps = [
            np.fromiter(
                v if len(spec) == 1 else itertools.chain.from_iterable(v),
                dtype=object,
                count=len(v) * len(spec),
            ).reshape(len(v), len(spec))
            for v, (_n, spec) in zip(vocabs, TEMPLATES)
        ]
        # one dictionary per base column: BOUNDARY (id 0), the values of the
        # single-column templates reading it in first-seen order, then any
        # compound component none of them has. In a trained model every
        # component is also some position's single-column value, so the
        # components (most of the values) are only probed, not factorized.
        ids: dict[tuple[int, int], np.ndarray] = {}
        self._dicts = {}
        reads = [(k, j, c) for k, (_n, spec) in enumerate(TEMPLATES) for j, (_d, c) in enumerate(spec)]
        for col in sorted({c for _k, _j, c in reads}):
            mine = [(k, j) for k, j, c in reads if c == col]
            singles = [comps[k][:, 0] for k, _j in mine if len(TEMPLATES[k][1]) == 1]
            dic = hashed_index(pd.unique(np.concatenate([np.array([BOUNDARY], dtype=object), *singles])))
            probes = [dic.get_indexer(comps[k][:, j]) for k, j in mine]
            unseen = [comps[k][:, j][p < 0] for (k, j), p in zip(mine, probes)]
            if any(len(u) for u in unseen):
                dic = hashed_index(np.concatenate([dic.to_numpy(), pd.unique(np.concatenate(unseen))]))
                probes = [dic.get_indexer(comps[k][:, j]) for k, j in mine]
            self._dicts[col] = dic
            for (k, j), p in zip(mine, probes):
                ids[k, j] = p.astype(np.int64)
        # single-column template: dictionary id → weight row (the extra
        # last id, an unseen value, → the OOV row). Compound template: its
        # vocabulary as int64 keys (position = weight row) and the radix of
        # each component, one more than its dictionary size so the unseen
        # id stays a digit of its own.
        self._luts: list[np.ndarray | None] = []
        self._keys: list[tuple[pd.Index, list[int]] | None] = []
        for k, (vocab, (name, spec)) in enumerate(zip(vocabs, TEMPLATES)):
            oov = len(vocab)
            if len(spec) == 1:
                lut = np.full(len(self._dicts[spec[0][1]]) + 1, oov, dtype=np.int64)
                lut[ids[k, 0]] = np.arange(oov)
                self._luts.append(lut)
                self._keys.append(None)
                continue
            radixes = [len(self._dicts[c]) + 1 for _d, c in spec]
            if math.prod(radixes) >= 2**63:
                raise ValueError(f"compound keys of template {name} overflow int64")
            key = np.zeros(oov, dtype=np.int64)
            for j, r in enumerate(radixes):
                key *= r
                key += ids[k, j]
            self._luts.append(None)
            self._keys.append((hashed_index(key), radixes))

    def save(self, path: str) -> None:
        arrays: dict[str, np.ndarray] = {"trans": self.trans}
        for k, (vocab, w) in enumerate(zip(self.vocabs, self.weights)):
            vals = np.empty(len(vocab), dtype=object)
            for v, i in vocab.items():
                vals[i] = v if isinstance(v, str) else SEP.join(v)
            arrays[f"vals_{k}"] = vals.astype("U")
            arrays[f"w_{k}"] = w.astype(np.float32)
        np.savez_compressed(path, **arrays)

    @classmethod
    def load(cls, path: str) -> "CrfModel":
        """Read an artifact written by ``save``. A compound value that does
        not split into one part per component is refused."""
        data = np.load(path, allow_pickle=False)
        vocabs, weights = [], []
        # ~50k compound tuples built with the collector on would run ~70
        # young collections over the growing dicts and set off a full one
        # (~50 ms in a service process); paused, one young collection
        # afterwards finds them, as the tuples hold only strings
        collecting = gc.isenabled()
        gc.disable()
        try:
            for k, (_name, spec) in enumerate(TEMPLATES):
                vals = data[f"vals_{k}"].tolist()
                if len(spec) > 1:
                    vals = [tuple(v.split(SEP)) for v in vals]
                    bad = next((v for v in vals if len(v) != len(spec)), None)
                    if bad is not None:
                        raise ValueError(
                            f"compound value {SEP.join(bad)!r} does not split into {len(spec)} parts"
                        )
                vocabs.append(dict(zip(vals, range(len(vals)))))
                weights.append(data[f"w_{k}"].astype(np.float32))
        finally:
            if collecting:
                gc.enable()
        return cls(vocabs, weights, data["trans"].astype(np.float32))

    # -- scoring ------------------------------------------------------------

    def emissions(
        self, ucols: list, codes: np.ndarray, interval: np.ndarray, seq_ids: np.ndarray
    ) -> np.ndarray:
        """(n, L) emission scores for a batch of concatenated sequences.

        ``ucols[c]`` holds feature column c's value for each distinct token
        of the batch and ``codes[t]`` is the distinct token at position t;
        the positional interval column (INTERVAL_COL) comes as the
        per-position bool ``interval`` instead. ``seq_ids`` groups the
        positions into sequences (each sequence contiguous).

        Each column's distinct values are probed against its dictionary
        once (one ``get_indexer`` per column); everything after that works
        on dictionary ids. Evaluation follows ``templates.EVAL_PLAN``:

        - an offset group pre-sums its members' weight rows per distinct
          token (float64, ascending template order; the extra last row is
          the members' summed BOUNDARY rows) and expands the sum with one
          gather over the positions shifted by the group's offset;
        - an interval template gathers from its three-row table;
        - a compound template shifts each component's ids by that
          component's offset (``shift_codes``, any offset), combines them
          into int64 keys and probes its key index once.

        Scores accumulate in float64 — matching the scalar oracle (and
        Wapiti's C doubles); float32 sums drift enough over 50+ templates
        and long Viterbi chains to flip near-tie decodes on
        multi-thousand-token sequences (caught by giant-doc fuzz). The
        oracle adds in the same plan order, so kernel ≡ oracle bit-exact.
        """
        n = len(codes)
        codes = np.asarray(codes, dtype=np.int64)
        flags = np.asarray(interval, dtype=np.int64)
        # dictionary id per distinct value, BOUNDARY's id 0 appended so a
        # shifted code of -1 gathers it
        ids: dict[int, np.ndarray] = {}
        for c, dic in self._dicts.items():
            vals = FLAG_VALUES if c == INTERVAL_COL else ucols[c]
            x = dic.get_indexer(pd.Index(np.asarray(vals, dtype=object), dtype=object))
            x[x < 0] = len(dic)
            ids[c] = np.append(x, 0)
        shifted: dict[tuple[bool, int], np.ndarray] = {}

        def at(c: int, d: int) -> np.ndarray:
            """Per position t, the code of column c's value at t+d, -1
            outside the sequence."""
            slot = (c == INTERVAL_COL, d)
            if slot not in shifted:
                shifted[slot] = shift_codes(flags if slot[0] else codes, seq_ids, d)
            return shifted[slot]

        scores = np.zeros((n, N_LABELS), dtype=np.float64)
        buf64 = np.empty((n, N_LABELS), dtype=np.float64)
        buf32 = np.empty((n, N_LABELS), dtype=np.float32)
        for item in EVAL_PLAN:
            if item[0] == "group":
                _tag, d, members = item
                grp = np.zeros((len(ids[members[0][1]]), N_LABELS), dtype=np.float64)
                for k, c in members:
                    grp += self.weights[k][self._luts[k][ids[c]]]
                np.take(grp, at(members[0][1], d), axis=0, out=buf64)
                scores += buf64
            elif item[0] == "single":
                _tag, k, d, c = item
                table = self.weights[k][self._luts[k][ids[c]]]
                np.take(table, at(c, d), axis=0, out=buf32)
                scores += buf32
            else:
                k = item[1]
                index, radixes = self._keys[k]
                key = np.zeros(n, dtype=np.int64)
                for (d, c), r in zip(TEMPLATES[k][1], radixes):
                    key *= r
                    key += ids[c][at(c, d)]
                rows = index.get_indexer(key)
                rows[rows < 0] = len(self.vocabs[k])
                np.take(self.weights[k], rows, axis=0, out=buf32)
                scores += buf32
        return scores


# ---------------------------------------------------------------------------
# Viterbi — batched over many sequences at once
# ---------------------------------------------------------------------------


def viterbi_single(emit: np.ndarray, trans: np.ndarray) -> np.ndarray:
    """Scalar-path Viterbi for one sequence (used by training + oracle)."""
    T = emit.shape[0]
    if T == 0:
        return np.empty(0, dtype=np.int64)
    delta = emit[0].astype(np.float64).copy()
    psi = np.zeros((T, N_LABELS), dtype=np.int64)
    for t in range(1, T):
        cand = delta[:, None] + trans
        psi[t] = np.argmax(cand, axis=0)
        delta = cand[psi[t], np.arange(N_LABELS)] + emit[t]
    labels = np.empty(T, dtype=np.int64)
    labels[-1] = int(np.argmax(delta))
    for t in range(T - 1, 0, -1):
        labels[t - 1] = psi[t, labels[t]]
    return labels


def viterbi_batched(emit: np.ndarray, seq_ids: np.ndarray, trans: np.ndarray) -> np.ndarray:
    """Decode all sequences in a concatenated batch (3 labels).

    Sequences are ordered by length, longest first, so the sequences still
    running at step t are a prefix of that order: step t updates the
    first ``alive[t]`` rows of the (S, 3) score array with one unrolled
    3-label max, and back-pointers are stored per token. The backtrack
    walks the same prefixes in reverse. Python loops scale with the
    longest sequence, not with the token count, and nothing is padded.
    """
    n = len(seq_ids)
    if n == 0:
        return np.empty(0, dtype=np.int64)
    starts = np.flatnonzero(np.concatenate(([True], seq_ids[1:] != seq_ids[:-1])))
    lengths = np.diff(np.append(starts, n))
    order = np.argsort(-lengths, kind="stable")
    first, lens = starts[order], lengths[order]
    t_max = int(lens[0])
    # alive[t] = number of sequences longer than t
    alive = np.cumsum(np.bincount(lens, minlength=t_max + 1)[::-1])[::-1][1:].tolist()

    # unrolled 3-label max over cand[s,i,j] = delta[s,i] + trans[i,j], with
    # argmax's first-max tie-break reproduced by strict > comparisons
    # (lower previous label wins ties) — bit-identical to viterbi_single
    t0c, t1c, t2c = trans.astype(np.float64)  # f64 accumulation
    delta = emit[first].astype(np.float64)  # (S, L)
    psi = np.empty((n, N_LABELS), dtype=np.int8)
    for t in range(1, t_max):
        m = alive[t]
        pos = first[:m] + t
        d = delta[:m]
        v0 = d[:, 0:1] + t0c
        v1 = d[:, 1:2] + t1c
        v2 = d[:, 2:3] + t2c
        p01 = v1 > v0
        m01 = np.where(p01, v1, v0)
        psi[pos] = np.where(v2 > m01, 2, p01)
        delta[:m] = np.maximum(m01, v2) + emit[pos]

    labels = np.empty(n, dtype=np.int64)
    cur = delta.argmax(axis=1)  # each sequence's last label
    labels[first + lens - 1] = cur
    for t in range(t_max - 1, 0, -1):
        m = alive[t]
        pos = first[:m] + t
        cur[:m] = psi[pos, cur[:m]]
        labels[pos - 1] = cur[:m]
    return labels


# ---------------------------------------------------------------------------
# training — averaged structured perceptron (deterministic)
# ---------------------------------------------------------------------------


def build_vocabs(all_values: list[list[np.ndarray]]) -> list[dict]:
    """Observation vocabularies per template from training sequences."""
    vocabs: list[dict] = []
    for k in range(len(TEMPLATES)):
        vocab: dict = {}
        for values in all_values:
            for v in values[k]:
                if v not in vocab:
                    vocab[v] = len(vocab)
        vocabs.append(vocab)
    return vocabs


def train_perceptron(
    sequences: list[tuple[list[np.ndarray], np.ndarray]],
    n_iter: int = 8,
    seed: int = 42,
) -> CrfModel:
    """``sequences``: per sequence, (feature columns list, gold label array).

    Averaged structured perceptron with Viterbi decoding; deterministic
    shuffling with the given seed.
    """
    per_seq_values: list[list[np.ndarray]] = []
    golds: list[np.ndarray] = []
    for cols, gold in sequences:
        sid = np.zeros(len(gold), dtype=np.int64)
        per_seq_values.append(template_values(cols, sid))
        golds.append(np.asarray(gold, dtype=np.int64))

    vocabs = build_vocabs(per_seq_values)
    # pre-map values to ids (OOV row never used in training)
    per_seq_ids = [
        [np.array([vocabs[k][v] for v in vals[k]], dtype=np.int64) for k in range(len(TEMPLATES))]
        for vals in per_seq_values
    ]

    weights = [np.zeros((len(v) + 1, N_LABELS), dtype=np.float64) for v in vocabs]
    acc = [np.zeros_like(w) for w in weights]
    trans = np.zeros((N_LABELS, N_LABELS), dtype=np.float64)
    trans_acc = np.zeros_like(trans)
    c = 1

    rng = np.random.default_rng(seed)
    order = np.arange(len(sequences))
    for _epoch in range(n_iter):
        rng.shuffle(order)
        for qi in order:
            ids_k = per_seq_ids[qi]
            gold = golds[qi]
            T = len(gold)
            emit = np.zeros((T, N_LABELS), dtype=np.float64)
            for k in range(len(TEMPLATES)):
                emit += weights[k][ids_k[k]]
            pred = viterbi_single(emit, trans)
            if not np.array_equal(pred, gold):
                diff = pred != gold
                pos = np.flatnonzero(diff)
                for k in range(len(TEMPLATES)):
                    ids = ids_k[k]
                    np.add.at(weights[k], (ids[pos], gold[pos]), 1.0)
                    np.add.at(weights[k], (ids[pos], pred[pos]), -1.0)
                    np.add.at(acc[k], (ids[pos], gold[pos]), float(c))
                    np.add.at(acc[k], (ids[pos], pred[pos]), -float(c))
                if T > 1:
                    gb = np.ravel_multi_index((gold[:-1], gold[1:]), trans.shape)
                    pb = np.ravel_multi_index((pred[:-1], pred[1:]), trans.shape)
                    np.add.at(trans.ravel(), gb, 1.0)
                    np.add.at(trans.ravel(), pb, -1.0)
                    np.add.at(trans_acc.ravel(), gb, float(c))
                    np.add.at(trans_acc.ravel(), pb, -float(c))
            c += 1

    avg_w = [
        (w - a / float(c)).astype(np.float32) for w, a in zip(weights, acc)
    ]
    avg_t = (trans - trans_acc / float(c)).astype(np.float32)
    return CrfModel(vocabs, avg_w, avg_t)


def train_logistic(
    sequences: list[tuple[list[np.ndarray], np.ndarray]],
    n_iter: int = 10,
    seed: int = 42,
    lr: float = 0.5,
) -> CrfModel:
    """SECOND scorer family behind the same broadcast/decode interface.

    The reference swaps its sequence scorer by config (wapiti CRF ↔ delft
    BiLSTM, /root/reference/resources/config/grobid-astro.yaml:7-8,14-19)
    while the calling pipeline is unchanged. This is our equivalent plug:
    per-token multinomial logistic regression (maxent) over the SAME
    factorized feature templates — full-batch softmax/cross-entropy
    gradient steps, deterministic (no sampling, fixed iteration order) —
    with the transition matrix fixed to add-1-smoothed gold-bigram
    log-probabilities (a generative prior) instead of discriminatively
    learned scores. The artifact is CrfModel-shaped (vocabs/weights/trans),
    so ``emissions`` + ``viterbi_batched`` and the broadcast payload work
    unchanged; only the training family differs.
    """
    del seed  # deterministic without randomness: full-batch, fixed order
    per_seq_values: list[list[np.ndarray]] = []
    golds: list[np.ndarray] = []
    for cols, gold in sequences:
        sid = np.zeros(len(gold), dtype=np.int64)
        per_seq_values.append(template_values(cols, sid))
        golds.append(np.asarray(gold, dtype=np.int64))
    vocabs = build_vocabs(per_seq_values)
    ids_all = [
        np.concatenate(
            [
                np.array([vocabs[k][v] for v in vals[k]], dtype=np.int64)
                for vals in per_seq_values
            ]
        )
        for k in range(len(TEMPLATES))
    ]
    y = np.concatenate(golds)
    n = len(y)
    onehot = np.zeros((n, N_LABELS), dtype=np.float64)
    onehot[np.arange(n), y] = 1.0

    weights = [np.zeros((len(v) + 1, N_LABELS), dtype=np.float64) for v in vocabs]
    for epoch in range(n_iter):
        emit = np.zeros((n, N_LABELS), dtype=np.float64)
        for k in range(len(TEMPLATES)):
            emit += weights[k][ids_all[k]]
        emit -= emit.max(axis=1, keepdims=True)
        p = np.exp(emit)
        p /= p.sum(axis=1, keepdims=True)
        grad = (p - onehot) * (lr / (1.0 + 0.02 * epoch))
        for k in range(len(TEMPLATES)):
            np.subtract.at(weights[k], ids_all[k], grad)

    # generative transition prior from gold bigrams (add-1 smoothing)
    counts = np.ones((N_LABELS, N_LABELS), dtype=np.float64)
    for g in golds:
        if len(g) > 1:
            np.add.at(counts, (g[:-1], g[1:]), 1.0)
    trans = np.log(counts / counts.sum(axis=1, keepdims=True))
    return CrfModel(
        vocabs,
        [w.astype(np.float32) for w in weights],
        trans.astype(np.float32),
    )
