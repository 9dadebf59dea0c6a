"""Gazetteer (lexicon) loading and matching.

Reference semantics:
  - Vocabulary set: every analyzer token of length > 1 from every lexicon
    line (/root/reference/src/main/java/org/grobid/core/lexicon/AstroLexicon.java:75-88);
    membership test is exact string equality (``inAstroDictionary``,
    AstroLexicon.java:103-106). This feeds feature column 16 (astroName).
  - Multi-token longest match: a token-trie over full lexicon entries
    (grobid-core ``FastMatcher`` built at AstroLexicon.java:73, queried at
    :113-116) returning (start, end) TOKEN-INDEX intervals. Matching is
    case-sensitive; whitespace tokens are skipped both when inserting
    terms and when scanning; other delimiter tokens (e.g. ``-``) are trie
    nodes; the scan is greedy longest-match and restarts at the current
    token after a mismatch or emitted match. This feeds feature column 17
    (isAstroToken) via the interval bitmap consumed at
    /root/reference/src/main/java/org/grobid/core/engines/AstroParser.java:644-658.

Note: the reference's ``AstroLexiconTest`` expectations (8/1/1/2 matches)
are commented out in the reference and are NOT reproducible with the
shipped ``astroVoc.txt`` (e.g. ``GRBs``/``M4`` appear nowhere in it); the
semantics above are pinned instead by tests/test_lexicon.py against both
our gazetteer and, when available, the reference lexicon file.

Scale design: the trie (plain nested dicts) and the vocabulary frozenset
are built ONCE on the driver and shipped to executors as a Spark
broadcast. Each process turns them into integer tables once
(``vocab_index`` at load, ``flatten_trie`` on first use); inside the
Arrow kernel only tokens that are trie roots are scanned (vectorized candidate pre-filter), so the
per-batch cost is O(#distinct tokens) hash probes + O(#candidates ·
match-depth).
"""

from __future__ import annotations

import os
from functools import lru_cache

from astrospark.analyzer import tokenize

_WS_TOKENS = frozenset({" ", "\n", "\t", "\r", "\u00A0"})

# trie terminal marker key (cannot collide with tokens: tokens are non-empty)
END = ""

_DEFAULT_GAZETTEER = os.path.join(
    os.path.dirname(__file__), "resources", "gazetteer.txt"
)


def _open_default():
    """Gazetteer stream that also works when astrospark is imported from a
    zip (spark-submit --py-files): importlib.resources reads zip members;
    the plain-path fallback covers editable/dev layouts."""
    if os.path.exists(_DEFAULT_GAZETTEER):
        return open(_DEFAULT_GAZETTEER, encoding="utf-8")
    from importlib import resources

    return (resources.files("astrospark") / "resources" / "gazetteer.txt").open(
        "r", encoding="utf-8"
    )


def load_names(path: str | None = None) -> list[str]:
    """Read gazetteer lines (one full, possibly multi-token, name each)."""
    names: list[str] = []
    with (open(path, encoding="utf-8") if path else _open_default()) as fh:
        for line in fh:
            line = line.rstrip("\n")
            if line:
                names.append(line)
    return names


def build_vocab(names: list[str]) -> frozenset[str]:
    """Token-membership set: analyzer tokens of length>1 (AstroLexicon.java:79-87)."""
    vocab: set[str] = set()
    for name in names:
        for tok in tokenize(name):
            if len(tok) > 1:
                vocab.add(tok)
    return frozenset(vocab)


def build_trie(names: list[str]) -> dict:
    """Token trie over full names; whitespace tokens dropped (FastMatcher load)."""
    root: dict = {}
    for name in names:
        node = root
        toks = [t for t in tokenize(name) if t not in _WS_TOKENS]
        if not toks:
            continue
        for tok in toks:
            nxt = node.get(tok)
            if nxt is None:
                nxt = {}
                node[tok] = nxt
            node = nxt
        node[END] = True
    return root


def match_positions(tokens: list[str], trie: dict) -> list[tuple[int, int]]:
    """Greedy longest-match scan; returns (start, end) inclusive token intervals.

    Whitespace tokens are skipped (do not break a candidate match, are never
    match boundaries). After a match is emitted or a candidate fails, the
    scan restarts AT the token that broke it (so adjacent names both match).
    """
    results: list[tuple[int, int]] = []
    n = len(tokens)
    i = 0
    while i < n:
        tok = tokens[i]
        if tok in _WS_TOKENS or tok not in trie:
            i += 1
            continue
        # candidate start: walk as deep as possible, remember last terminal
        node = trie
        j = i
        last_end = -1
        while j < n:
            t = tokens[j]
            if t in _WS_TOKENS:
                j += 1
                continue
            nxt = node.get(t)
            if nxt is None:
                break
            node = nxt
            if END in node:
                last_end = j
            j += 1
        if last_end >= 0:
            results.append((i, last_end))
            i = last_end + 1
        else:
            i += 1
    return results


def interval_bitmap(n_tokens: int, positions: list[tuple[int, int]]):
    """Token-index membership mask for feature col 17 (AstroParser.java:644-658)."""
    import numpy as np

    mask = np.zeros(n_tokens, dtype=bool)
    for s, e in positions:
        mask[s : e + 1] = True
    return mask


@lru_cache(maxsize=4)
def load_artifacts(path: str | None = None):
    """(vocab frozenset, trie dict) for a gazetteer file — cached per
    process, with the kernel's membership index built here."""
    names = load_names(path)
    vocab = build_vocab(names)
    vocab_index(vocab)
    return vocab, build_trie(names)


def hashed_index(values):
    """``pd.Index`` over unique ``values`` with its hash table built now.
    pandas otherwise fills it on the first lookup, and two threads making
    that first lookup at once can see a half-built table
    (``InvalidIndexError``), so an index shared between callers is
    published only after this."""
    import pandas as pd

    idx = pd.Index(values)
    if not idx.is_unique:  # builds the table
        raise ValueError("index values must be unique")
    return idx


# the kernel's tables per gazetteer — one live vocab and one live trie
# per worker process (same lifecycle as engine._ARTIFACT_CACHE); each
# object is kept as its cache key's referent so the id() can never be
# recycled while the entry is alive, and an entry is published only
# once complete
_VOCAB_CACHE: dict[int, tuple] = {}
_FLAT_CACHE: dict[int, tuple] = {}


def vocab_index(vocab: frozenset):
    """Hashed ``pd.Index`` over the token-membership set: the kernel
    reads column 16 (astroName) for a batch's distinct tokens with one
    ``get_indexer`` against it."""
    import numpy as np

    hit = _VOCAB_CACHE.get(id(vocab))
    if hit is not None and hit[0] is vocab:
        return hit[1]
    index = hashed_index(np.fromiter(vocab, dtype=object, count=len(vocab)))
    _VOCAB_CACHE.clear()
    _VOCAB_CACHE[id(vocab)] = (vocab, index)
    return index


def flatten_trie(trie: dict):
    """Integer tables for a level-synchronous (vectorized) trie descent.

    Returns ``(alph_index, A, root_child, trans_index, children, is_end)``:
    BFS node ids with node 0 = root; ``alph_index`` is a pandas hash
    index over every distinct transition token; ``root_child`` is a
    dense ``(A,)`` array of the root's children (-1 = none) so candidate
    detection and the first transition are plain gathers; deeper
    transitions probe ``trans_index`` (int64 keys ``node_id * A +
    alph_id``) whose positions index ``children``; ``is_end[node]``
    marks terminals (the END sentinel key). Semantics are exactly
    ``match_positions``'s trie walk — the tables are a re-encoding, not
    a re-interpretation; kernel ≡ scalar-oracle fuzz pins it.
    """
    import numpy as np

    hit = _FLAT_CACHE.get(id(trie))
    if hit is not None and hit[0] is trie:
        return hit[1]

    # BFS once to collect nodes and raw (parent, token, child-dict) edges
    nodes: list[dict] = [trie]
    edges_parent: list[int] = []
    edges_tok: list[str] = []
    is_end_l: list[bool] = [False]
    i = 0
    while i < len(nodes):
        node = nodes[i]
        for tok, child in node.items():
            if tok == END:
                is_end_l[i] = True
                continue
            edges_parent.append(i)
            edges_tok.append(tok)
            nodes.append(child)
            is_end_l.append(False)
        i += 1
    # child id of edge e is the BFS insertion order: root is 0, then
    # children append in edge order — so edge e's child id is e + 1
    n_edges = len(edges_parent)
    alph = hashed_index(np.unique(np.array(edges_tok, dtype=object)))
    A = len(alph)
    tok_ids = alph.get_indexer(np.array(edges_tok, dtype=object)).astype(np.int64)
    parents = np.array(edges_parent, dtype=np.int64)
    children = np.arange(1, n_edges + 1, dtype=np.int64)
    keys = parents * A + tok_ids
    root_child = np.full(A, -1, dtype=np.int64)
    root_mask = parents == 0
    root_child[tok_ids[root_mask]] = children[root_mask]
    trans_index = hashed_index(keys)
    is_end = np.array(is_end_l, dtype=bool)
    tables = (alph, A, root_child, trans_index, children, is_end)
    _FLAT_CACHE.clear()
    _FLAT_CACHE[id(trie)] = (trie, tables)
    return tables
