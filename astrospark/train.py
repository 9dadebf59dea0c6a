"""Offline model preparation (driver-side, one-time) — mirrors the role of
the reference's ``gradlew train_astro`` task
(/root/reference/src/main/java/org/grobid/trainer/AstroTrainer.java:84-312,494-520)
but produces a broadcastable numpy artifact instead of a Wapiti binary.

Deterministic: seeded corpus + seeded averaged perceptron. Run:
    python -m astrospark.train [n_paragraphs] [n_iter] [out.npz]
prints token/entity P/R/F on a held-out split (80/20, mirroring
AstroTrainer.java:140-150 but with a fixed seed instead of Math.random()).
The trained weights are written ONLY when ``out.npz`` is given — a quick
eval run must not clobber the shipped artifact; regenerate it with
    python -m astrospark.train 800 12 astrospark/resources/weights.npz
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pandas as pd

from astrospark import corpus as corpus_mod
from astrospark.crf import CrfModel, train_logistic, train_perceptron, viterbi_single

SCORERS = {"crf": train_perceptron, "logistic": train_logistic}
from astrospark.features import compute_columns
from astrospark.lexicon import interval_bitmap, load_artifacts, match_positions
from astrospark.oracle import process_text_chunk

WEIGHTS_PATH = os.path.join(os.path.dirname(__file__), "resources", "weights.npz")


def load_default_artifacts():
    """(vocab, trie, model) from the packaged resources — driver side.

    Uses importlib.resources when the on-disk path is absent so the same
    code works with astrospark shipped as a zip via spark-submit
    --py-files (np.load accepts the file-like resource stream)."""
    vocab, trie = load_artifacts()
    if os.path.exists(WEIGHTS_PATH):
        model = CrfModel.load(WEIGHTS_PATH)
    else:
        import io
        from importlib import resources

        blob = (resources.files("astrospark") / "resources" / "weights.npz").read_bytes()
        model = CrfModel.load(io.BytesIO(blob))  # np.load needs a seekable stream
    return vocab, trie, model


def paragraph_to_sequence(text: str, spans, vocab, trie):
    """(feature-columns, gold labels) for one normalized paragraph."""
    text = text.replace("\n", " ").replace("\t", " ")
    tokens, eligible, labels = corpus_mod.gold_labels(text, spans)
    if not eligible:
        return None
    positions = match_positions(tokens, trie)
    bitmap = interval_bitmap(len(tokens), positions)
    from astrospark.unicode_norm import normalize_and_remove_spaces

    words = [normalize_and_remove_spaces(tokens[i]) for i in eligible]
    astro_name = np.array([tokens[i] in vocab for i in eligible])
    is_astro = bitmap[np.array(eligible, dtype=np.int64)]
    cols = compute_columns(pd.Series(words, dtype="object"), astro_name, is_astro)
    return cols, np.array(labels, dtype=np.int64)


def evaluate(model: CrfModel, paras, vocab, trie) -> dict:
    """Entity-level P/R/F via the full oracle pipeline on raw paragraphs."""
    tp = fp = fn = 0
    for text, spans in paras:
        norm = text.replace("\n", " ").replace("\t", " ")
        gold = {(s, e) for s, e in spans}
        pred = {
            (ent.offset_start, ent.offset_end)
            for ent in process_text_chunk(norm, vocab, trie, model)
        }
        tp += len(gold & pred)
        fp += len(pred - gold)
        fn += len(gold - pred)
    prec = tp / (tp + fp) if tp + fp else 0.0
    rec = tp / (tp + fn) if tp + fn else 0.0
    f1 = 2 * prec * rec / (prec + rec) if prec + rec else 0.0
    return {"precision": prec, "recall": rec, "f1": f1, "tp": tp, "fp": fp, "fn": fn}


def main(
    n_paragraphs: int = 600,
    n_iter: int = 10,
    seed: int = 42,
    out: str | None = None,
    scorer: str = "crf",
) -> dict:
    """``scorer`` switches the training family behind the identical
    artifact/decode interface (SURVEY §2.9 pluggable-scorer contract;
    mirrors the reference's config-selected wapiti↔delft engines)."""
    vocab, trie = load_artifacts()
    paras = corpus_mod.make_corpus(n_paragraphs, seed=seed)
    n_train = int(len(paras) * 0.8)
    train_paras, eval_paras = paras[:n_train], paras[n_train:]

    sequences = []
    for text, spans in train_paras:
        seq = paragraph_to_sequence(text, spans, vocab, trie)
        if seq is not None:
            sequences.append(seq)

    model = SCORERS[scorer](sequences, n_iter=n_iter, seed=seed)
    if out:
        model.save(out)
    metrics = evaluate(model, eval_paras, vocab, trie)
    return metrics


if __name__ == "__main__":
    import argparse

    ap = argparse.ArgumentParser(
        prog="python -m astrospark.train",
        description="Train/evaluate the span-labeling model (EVAL-ONLY "
        "unless an output path is given — the shipped artifact is pinned "
        "by the golden tests).",
    )
    ap.add_argument("n_paragraphs", type=int, nargs="?", default=600)
    ap.add_argument("n_iter", type=int, nargs="?", default=10)
    ap.add_argument("out", nargs="?", default=None, help="weights .npz path (omit for eval-only)")
    # explicit option, not a value-sniffed positional: an out path literally
    # named 'crf' must stay an out path (ADVICE r2)
    ap.add_argument("--scorer", choices=sorted(SCORERS), default="crf")
    a = ap.parse_args()
    m = main(a.n_paragraphs, a.n_iter, out=a.out, scorer=a.scorer)
    print({k: (round(v, 4) if isinstance(v, float) else v) for k, v in m.items()})
