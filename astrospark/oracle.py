"""Pure-Python per-document oracle — the reference semantics, scalar path.

This is the correctness yardstick demanded by BASELINE.json: a from-first-
principles, loop-based implementation of the reference pipeline
(tokenize → gazetteer flags → features → Viterbi → cluster → offsets),
written WITHOUT the vectorized machinery so the Spark kernel (kernel.py)
has an independent implementation to be fuzz-checked against. Only the
model artifact (weights), template spec and constant tables are shared —
everything computational is re-derived here scalar-by-scalar.

Reference call chain being mirrored:
  AstroParser.processText (/root/reference/src/main/java/org/grobid/core/engines/AstroParser.java:95-133)
  AstroParser.addFeatures            (AstroParser.java:615-672)
  AstroParser.extractAstroEntities   (AstroParser.java:677-748)
  AstroParser.processLayoutTokenSequenceTableFigure (AstroParser.java:314-352)
  FeaturesVectorAstro.printVector / addFeaturesAstro
    (/root/reference/src/main/java/org/grobid/core/features/FeaturesVectorAstro.java:48-205)
  entity ordering: AstroEntity.compareTo (offsetStart, offsetEnd)
    (/root/reference/src/main/java/org/grobid/core/data/AstroEntity.java:188-196)
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from astrospark.analyzer import tokenize
from astrospark.crf import CrfModel, viterbi_single
from astrospark.lexicon import match_positions
from astrospark.templates import (
    BOUNDARY,
    EVAL_PLAN,
    LABEL_BEGIN,
    LABEL_OTHER,
    TEMPLATES,
)
from astrospark.unicode_norm import normalize_and_remove_spaces

# span kinds processed as plain text (reference: title/abstract/keywords +
# paragraph/section/item structures, AstroParser.java:156-232)
TEXT_KINDS = frozenset({"text", "paragraph", "section", "item", "title", "abstract", "keywords"})
# span kinds processed line-by-line (AstroParser.java:228-232,314-352)
LINE_KINDS = frozenset({"table", "figure"})


def java_trim(s: str) -> str:
    """Java String.trim(): strips chars with codepoint <= 0x20 only."""
    start, end = 0, len(s)
    while start < end and ord(s[start]) <= 0x20:
        start += 1
    while end > start and ord(s[end - 1]) <= 0x20:
        end -= 1
    return s[start:end]


def is_blank(s: str) -> bool:
    """commons-lang isBlank: empty or all whitespace."""
    return len(s) == 0 or all(c.isspace() or c == " " for c in s)


# ---------------------------------------------------------------------------
# scalar feature functions (FeaturesVectorAstro.addFeaturesAstro:127-205)
# ---------------------------------------------------------------------------

_PUNCT_CHARS = set(",:;?.!()[]\"'`*-–−/<>=+%$^‰°≈")


def scalar_columns(word: str, astro_name: bool, is_astro_token: bool) -> list[str]:
    """The 18 effective printVector columns for one (normalized) token."""
    cols = [word, word.lower()]
    for k in range(1, 6):
        cols.append(word[:k] if len(word) >= k else word)
    for k in range(1, 6):
        cols.append(word[-k:] if len(word) >= k else word)
    all_digit = len(word) > 0 and all("0" <= c <= "9" for c in word)
    if all_digit:
        cap = "NOCAPS"
    elif all("A" <= c <= "Z" for c in word) and len(word) > 0:
        cap = "ALLCAPS"
    elif "A" <= word[:1] <= "Z":
        cap = "INITCAP"
    else:
        cap = "NOCAPS"
    cols.append(cap)
    if all_digit:
        digit = "ALLDIGIT"
    elif any("0" <= c <= "9" for c in word):
        digit = "CONTAINDIGIT"
    else:
        digit = "NODIGIT"
    cols.append(digit)
    cols.append("1" if len(word) == 1 else "0")
    if word in ("(", "["):
        punct = "OPENBRACKET"
    elif word in (")", "]"):
        punct = "ENDBRACKET"
    elif word == ".":
        punct = "DOT"
    elif word == ",":
        punct = "COMMA"
    elif word == "-":
        punct = "HYPHEN"
    elif word in ('"', "'", "`"):
        punct = "QUOTE"
    elif len(word) > 0 and all(c in _PUNCT_CHARS for c in word):
        punct = "PUNCT"
    else:
        punct = "NOPUNCT"
    cols.append(punct)
    cols.append("1" if astro_name else "0")
    cols.append("1" if is_astro_token else "0")
    return cols


# ---------------------------------------------------------------------------
# scalar sequence labeling
# ---------------------------------------------------------------------------


def label_sequence(tokens: list[str], vocab: frozenset, trie: dict, model: CrfModel):
    """Labels for the ELIGIBLE tokens of one sequence, plus the eligibility
    mask. Mirrors AstroParser.addFeatures:615-672: tokens equal to ' '/'\\n'
    or normalizing to '' are skipped (but still advance the match cursor)."""
    n = len(tokens)
    positions = match_positions(tokens, trie)
    in_interval = [False] * n
    for s, e in positions:
        for i in range(s, e + 1):
            in_interval[i] = True

    eligible: list[int] = []
    words: list[str] = []
    flags: list[tuple[bool, bool]] = []
    for i, tok in enumerate(tokens):
        if tok == " " or tok == "\n":
            continue
        w = normalize_and_remove_spaces(tok)
        if java_trim(w) == "":
            continue
        eligible.append(i)
        words.append(w)
        # J1 membership uses the ORIGINAL token text (AstroParser.java:662)
        flags.append((tok in vocab, in_interval[i]))

    if not eligible:
        return [], []

    cols_per_tok = [scalar_columns(w, a, p) for w, (a, p) in zip(words, flags)]
    emit = emission_scores(cols_per_tok, model)
    labels = viterbi_single(emit, model.trans.astype(np.float64))
    return eligible, labels.tolist()


def emission_scores(cols_per_tok: list[list[str]], model: CrfModel) -> np.ndarray:
    """(T, L) emission scores of one sequence from its per-token feature
    columns, one template lookup at a time. A compound template's value is
    the tuple of its components (BOUNDARY outside the sequence).

    Accumulation follows templates.EVAL_PLAN — offset-grouped singles sum
    into a float64 partial first (ascending template order), then group
    partials / remaining templates add in plan order. The vectorized
    scorer (crf.CrfModel.emissions) pre-sums the same groups per distinct
    token, so both sides perform the identical float64 operations and
    stay bit-exact."""
    T = len(cols_per_tok)
    n_labels = len(model.trans)

    def value(q: int, c: int) -> str:
        return cols_per_tok[q][c] if 0 <= q < T else BOUNDARY

    emit = np.zeros((T, n_labels), dtype=np.float64)
    for t in range(T):
        for item in EVAL_PLAN:
            if item[0] == "group":
                d, members = item[1], item[2]
                part = np.zeros(n_labels, dtype=np.float64)
                for k, c in members:
                    row = model.vocabs[k].get(value(t + d, c), len(model.vocabs[k]))
                    part += model.weights[k][row]
                emit[t] += part
                continue
            if item[0] == "single":
                _tag, k, d, c = item
                val = value(t + d, c)
            else:
                k = item[1]
                val = tuple(value(t + d, c) for d, c in TEMPLATES[k][1])
            row = model.vocabs[k].get(val, len(model.vocabs[k]))
            emit[t] += model.weights[k][row]
    return emit


# ---------------------------------------------------------------------------
# scalar cluster walk + offset arithmetic (verbatim semantics)
# ---------------------------------------------------------------------------


@dataclass
class Entity:
    raw_form: str
    offset_start: int
    offset_end: int


def extract_entities(text: str, tokens: list[str], eligible: list[int], labels: list[int]) -> list[Entity]:
    """AstroParser.extractAstroEntities:677-748, including its exact pos
    bookkeeping quirks (skip one ' ' then one '\\n' before a cluster while
    pos < len-1; skip cluster-leading ' ' tokens; trim one trailing '\\n'
    then one trailing ' ' from endPos). Delimiter tokens attach to the
    PRECEDING cluster; leading delimiters prepend to the first cluster."""
    if not eligible:
        return []

    # cluster boundaries over eligible tokens: begin label or core change
    # (TaggingTokenClusteror semantics, invoked at AstroParser.java:682-683)
    cores = [0 if lab == LABEL_OTHER else 1 for lab in labels]
    cluster_first: list[int] = []  # index into eligible list
    for idx in range(len(eligible)):
        if idx == 0 or labels[idx] == LABEL_BEGIN or cores[idx] != cores[idx - 1]:
            cluster_first.append(idx)

    clusters: list[tuple[int, int, int]] = []  # (tok_start, tok_end_excl, core)
    for ci, first in enumerate(cluster_first):
        tok_start = 0 if ci == 0 else eligible[first]
        next_first = cluster_first[ci + 1] if ci + 1 < len(cluster_first) else None
        tok_end = eligible[next_first] if next_first is not None else len(tokens)
        clusters.append((tok_start, tok_end, cores[first]))

    entities: list[Entity] = []
    pos = 0
    for tok_start, tok_end, core in clusters:
        if pos < len(text) - 1 and pos < len(text) and text[pos] == " ":
            pos += 1
        if pos < len(text) - 1 and pos < len(text) and text[pos] == "\n":
            pos += 1
        end_pos = pos
        start = True
        for ti in range(tok_start, tok_end):
            tok = tokens[ti]
            if start and tok == " ":
                pos += 1
                end_pos += 1
                continue
            start = False
            end_pos += len(tok)
        if end_pos > 0 and len(text) >= end_pos and text[end_pos - 1] == "\n":
            end_pos -= 1
        if end_pos > 0 and len(text) >= end_pos and text[end_pos - 1] == " ":
            end_pos -= 1
        if core == 1:
            raw = java_trim("".join(tokens[tok_start:tok_end]))
            entities.append(Entity(raw, pos, end_pos))
        pos = end_pos
    return entities


# ---------------------------------------------------------------------------
# per-document driver
# ---------------------------------------------------------------------------


def process_text_chunk(text: str, vocab, trie, model) -> list[Entity]:
    """AstroParser.processText:95-133 — \\n/\\t→' ' then one sequence."""
    if is_blank(text):
        return []
    text = text.replace("\n", " ").replace("\t", " ")
    tokens = tokenize(text)
    if not tokens:
        return []
    eligible, labels = label_sequence(tokens, vocab, trie, model)
    return extract_entities(text, tokens, eligible, labels)


def process_line_chunk(text: str, vocab, trie, model) -> list[tuple[Entity, int]]:
    """AstroParser.processLayoutTokenSequenceTableFigure:314-352 — split the
    token stream on '\\n' tokens; each line is an independent sequence with
    line-relative offsets; we return (entity, line_char_start)."""
    tokens = tokenize(text)
    out: list[tuple[Entity, int]] = []
    pos = 0
    char_pos = 0
    while pos < len(tokens):
        line: list[str] = []
        line_char_start = char_pos
        while pos < len(tokens) and tokens[pos] != "\n":
            line.append(tokens[pos])
            char_pos += len(tokens[pos])
            pos += 1
        if line:
            line_text = "".join(line)
            eligible, labels = label_sequence(line, vocab, trie, model)
            for ent in extract_entities(line_text, line, eligible, labels):
                out.append((ent, line_char_start))
        # consume the '\n' token
        if pos < len(tokens):
            char_pos += len(tokens[pos])
        pos += 1
    return out


def process_document(spans: list[dict], vocab, trie, model) -> list[dict]:
    """Full interleaved-document semantics → ordered output span rows.

    Output ordering: (offset, offset_end) per AstroEntity.compareTo +
    the global sort at AstroParser.java:257; ties broken by (kind, text,
    media_ref) for determinism. ``seq`` is the dense 0..n-1 rank.
    """
    rows: list[tuple[int, int, str, str, str]] = []  # (offset, end, kind, text, media_ref)
    for span in spans:
        kind = span["kind"]
        text = span["text"] or ""
        offset = int(span["offset"])
        if kind in TEXT_KINDS:
            for ent in process_text_chunk(text, vocab, trie, model):
                rows.append(
                    (offset + ent.offset_start, offset + ent.offset_end, "object", ent.raw_form, "")
                )
        elif kind in LINE_KINDS:
            for ent, line_start in process_line_chunk(text, vocab, trie, model):
                rows.append(
                    (
                        offset + line_start + ent.offset_start,
                        offset + line_start + ent.offset_end,
                        "object",
                        ent.raw_form,
                        "",
                    )
                )
        else:
            # media passthrough — interleaving preserved (FIXTURES.md §1)
            rows.append((offset, offset, kind, text, span["media_ref"] or ""))
    rows.sort(key=lambda r: (r[0], r[1], r[2], r[3], r[4]))
    return [
        {"seq": i, "kind": k, "text": t, "media_ref": m, "offset": o}
        for i, (o, _e, k, t, m) in enumerate(rows)
    ]
