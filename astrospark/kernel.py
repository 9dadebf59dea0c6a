"""Vectorized extraction kernel — the Arrow-batch hot path for Spark.

Processes a whole pandas batch of interleaved documents at once:
tokenization via one vectorized megastring pass with arrow-side dedup
(analyzer.tokenize_spans), feature columns via pyarrow compute kernels
over the batch's distinct tokens, emission scoring against the integer
tables the model compiled at load (crf.CrfModel), Viterbi batched across
every sequence in the batch, cluster/offset assembly from cumulative-sum
char positions, and one lexsort that orders the output rows.
Per-document Python is limited to chunk bookkeeping and a per-CLUSTER
(not per-token) offset walk that replicates the reference's pos
arithmetic (/root/reference/src/main/java/org/grobid/core/engines/AstroParser.java:677-748),
including its quirks (leading-space double-advance, one-shot trailing
trims) — fuzz-checked token-for-token against the scalar oracle
(oracle.py) in tests/test_kernel_vs_oracle.py.

Line-split equivalence note: the reference splits the TOKEN stream of
table/figure chunks on "\\n" tokens (AstroParser.java:314-352); since
"\\n" is a delimiter that always forms its own token, splitting the TEXT
on "\\n" and tokenizing each line yields identical line token lists —
that is what lets the kernel keep tokenization fully vectorized.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from astrospark.analyzer import tokenize_spans
from astrospark.crf import CrfModel, viterbi_batched
from astrospark.features import compute_columns
from astrospark.lexicon import _WS_TOKENS, flatten_trie, vocab_index
from astrospark.oracle import LINE_KINDS, TEXT_KINDS, is_blank, java_trim
from astrospark.templates import LABEL_BEGIN, LABEL_OTHER
from astrospark.unicode_norm import NORMALIZE_TABLE

# `end` (exclusive char end) is the in-batch sort key after `offset`; the
# engine drops it from the public output.
OUTPUT_COLUMNS = ("doc_id", "seq", "kind", "text", "media_ref", "offset", "end")

def extract_batch(pdf: pd.DataFrame, vocab, trie, model: CrfModel) -> pd.DataFrame:
    """doc_id + spans batch → ordered output span rows (see OUTPUT_COLUMNS)."""
    # passthrough spans, column by column (each ends where it starts)
    p_di: list[int] = []
    p_kind: list[str] = []
    p_text: list[str] = []
    p_media: list[str] = []
    p_offset: list[int] = []
    # processing units: (doc_idx, base_offset) per unit, texts list
    unit_doc: list[int] = []
    unit_base: list[int] = []
    unit_texts: list[str] = []

    docs = pdf["doc_id"].to_numpy()
    for di, spans in enumerate(pdf["spans"].to_numpy()):
        if spans is None:
            continue
        for span in spans:
            kind = span["kind"]
            text = span["text"] or ""
            offset = int(span["offset"])
            if kind in TEXT_KINDS:
                if is_blank(text):
                    continue
                unit_doc.append(di)
                unit_base.append(offset)
                unit_texts.append(text.replace("\n", " ").replace("\t", " "))
            elif kind in LINE_KINDS:
                # split on '\n' — token-stream-equivalent (see module doc)
                pos = 0
                for line in text.split("\n"):
                    if line:
                        unit_doc.append(di)
                        unit_base.append(offset + pos)
                        unit_texts.append(line)
                    pos += len(line) + 1
            else:
                p_di.append(di)
                p_kind.append(kind)
                p_text.append(text)
                p_media.append(span["media_ref"] or "")
                p_offset.append(offset)

    e_di, e_text, e_start, e_end = _process_units(
        unit_doc, unit_base, unit_texts, vocab, trie, model
    )
    m = len(p_di) + len(e_di)
    di = np.array(p_di + e_di, dtype=np.int64)
    start = np.array(p_offset + e_start, dtype=np.int64)
    end = np.array(p_offset + e_end, dtype=np.int64)
    kind = np.array(p_kind + ["object"] * len(e_di), dtype=object)
    text = np.array(p_text + e_text, dtype=object)
    media = np.array(p_media + [""] * len(e_di), dtype=object)
    # ordering invariant: (offset, offset_end) per AstroEntity.compareTo with
    # deterministic tie-breaks (kind, text, media_ref) — the oracle's tuple
    # sort; strings sort by their rank among the batch's sorted distinct
    # values. seq = rank within the doc's run of the sorted rows.
    order = np.lexsort(
        (_sort_rank(media), _sort_rank(text), _sort_rank(kind), end, start, di)
    )
    di = di[order]
    run_first = np.flatnonzero(np.concatenate(([True], di[1:] != di[:-1])))
    seq = np.arange(m) - np.repeat(run_first, np.diff(np.append(run_first, m)))
    return pd.DataFrame(
        {
            "doc_id": docs[di] if m else np.empty(0, dtype=object),
            "seq": seq.astype(np.int32),
            "kind": kind[order],
            "text": text[order],
            "media_ref": media[order],
            "offset": start[order].astype(np.int32),
            "end": end[order].astype(np.int32),
        }
    )


def _sort_rank(values: np.ndarray) -> np.ndarray:
    """Each string's rank among the sorted distinct values."""
    return pd.factorize(values, sort=True)[0]


def _process_units(unit_doc, unit_base, unit_texts, vocab, trie, model):
    """Label all units' tokens in one vectorized pass, then assemble
    entities with the per-cluster offset walk. Returns the objects' doc
    indexes, texts, and char starts and ends, as four lists."""
    e_di: list[int] = []
    e_text: list[str] = []
    e_start: list[int] = []
    e_end: list[int] = []
    n_units = len(unit_texts)
    # batch tokenization: one megastring pass + arrow dictionary encode
    # (analyzer.tokenize_spans) — the unique-token fast path: every
    # per-token quantity that is a function of the token STRING (length,
    # eligibility, normalization, feature cols 0-16, dictionary flag) is
    # computed once per DISTINCT token and reached by integer gather —
    # natural text repeats tokens ~30-100x per batch, so the string work
    # drops by that factor
    batch = tokenize_spans(unit_texts)
    tok_codes = batch.codes
    n = len(tok_codes)
    if n == 0:
        return e_di, e_text, e_start, e_end
    unit_ids = batch.unit_ids
    counts = np.bincount(unit_ids, minlength=n_units)
    unit_starts = np.concatenate(([0], np.cumsum(counts)))[:-1]
    uniq_ser = batch.uniq
    uniq_arr = uniq_ser.to_numpy(dtype=object)

    # char positions: tokens tile the text exactly
    tok_len = batch.tok_len
    char_start = batch.char_start
    char_end = char_start + tok_len

    # gazetteer interval flags (J2) — level-synchronous VECTORIZED trie
    # descent over the flattened integer trie (lexicon.flatten_trie):
    # alphabet ids resolve once per DISTINCT token, root hits come from a
    # dense gather, and each depth level advances every still-active
    # candidate with one hash probe + gathers (the python per-candidate
    # walk did ~100k dict.gets per 3k-doc batch). Greedy longest-match /
    # ws-skip semantics are identical to the scalar matcher
    # (lexicon.match_positions, fuzz- and golden-checked via the oracle
    # suite); the restart-after-match rule is applied afterwards in a
    # tiny sequential pass over matches only — sound because each
    # candidate's descent is independent, so discarding matches that
    # start inside an earlier accepted match reproduces the scan order.
    in_interval = np.zeros(n, dtype=bool)
    u_ws = uniq_ser.isin(_WS_TOKENS).to_numpy(dtype=bool)
    alph, A, root_child, trans_index, trie_children, trie_is_end = flatten_trie(trie)
    if A:
        u_alph = alph.get_indexer(uniq_arr).astype(np.int64)
        u_first = np.where(u_alph >= 0, root_child[np.maximum(u_alph, 0)], -1)
        first_child = u_first[tok_codes]
        cand_idx = np.flatnonzero(first_child >= 0)
    else:  # a gazetteer of blank names only: no transitions, no matches
        cand_idx = np.empty(0, dtype=np.int64)
    if len(cand_idx):
        unit_ends = unit_starts + counts
        cand_end = unit_ends[
            np.searchsorted(unit_starts, cand_idx, side="right") - 1
        ]
        ws = u_ws[tok_codes]
        tok_alph = u_alph[tok_codes]
        # nns[j] = smallest non-ws index >= j (n when none): suffix min
        nns = np.minimum.accumulate(
            np.where(~ws, np.arange(n, dtype=np.int64), n)[::-1]
        )[::-1]
        nns = np.append(nns, np.int64(n))  # sentinel for j == n

        cur = first_child[cand_idx]
        last_end = np.where(trie_is_end[cur], cand_idx, np.int64(-1))
        pos = nns[np.minimum(cand_idx + 1, n)]
        active = np.flatnonzero(pos < cand_end)
        while len(active):
            p = pos[active]
            ta = tok_alph[p]
            ok = ta >= 0
            row = trans_index.get_indexer(
                cur[active] * A + np.maximum(ta, 0)
            )
            ok &= row >= 0
            adv = active[ok]
            nxt_nodes = trie_children[row[ok]]
            cur[adv] = nxt_nodes
            hit = trie_is_end[nxt_nodes]
            last_end[adv[hit]] = p[ok][hit]
            pos[adv] = nns[np.minimum(p[ok] + 1, n)]
            active = adv[pos[adv] < cand_end[adv]]

        covered = -1
        starts_l = cand_idx.tolist()
        ends_l = last_end.tolist()
        for i, le in zip(starts_l, ends_l):
            if le < 0 or i <= covered:
                continue
            in_interval[i : le + 1] = True
            covered = le

    # eligibility (AstroParser.addFeatures:632-642) — per unique token
    is_space = (uniq_arr == " ")[tok_codes]
    uniq_norm = pa.array(uniq_ser.str.translate(NORMALIZE_TABLE), type=pa.string())
    # a normalized token that java-trims to '' is skipped
    control_only = pc.match_substring_regex(uniq_norm, "^[\\x00-\\x20]*$")
    u_eligible = (
        (uniq_arr != " ")
        & (uniq_arr != "\n")
        & ~control_only.to_numpy(zero_copy_only=False)
    )
    eligible = u_eligible[tok_codes]

    elig_idx = np.flatnonzero(eligible)
    labels = np.zeros(n, dtype=np.int64)
    if len(elig_idx):
        el_codes = tok_codes[elig_idx]
        u_astro = vocab_index(vocab).get_indexer(uniq_arr) >= 0
        ucols = compute_columns(uniq_norm, u_astro, None)
        seq_ids = unit_ids[elig_idx]
        emit = model.emissions(ucols, el_codes, in_interval[elig_idx], seq_ids)
        labels[elig_idx] = viterbi_batched(emit, seq_ids, model.trans)

    # cluster boundaries over eligible tokens (TaggingTokenClusteror
    # semantics): begin-label or core change or unit start
    elig_unit = unit_ids[elig_idx] if len(elig_idx) else np.empty(0, dtype=np.int64)
    elig_labels = labels[elig_idx] if len(elig_idx) else np.empty(0, dtype=np.int64)
    cores = (elig_labels != LABEL_OTHER).astype(np.int8)
    if len(elig_idx):
        first_of_unit = np.concatenate(([True], elig_unit[1:] != elig_unit[:-1]))
        begins = (
            first_of_unit
            | (elig_labels == LABEL_BEGIN)
            | np.concatenate(([True], cores[1:] != cores[:-1]))
        )
        cluster_first = np.flatnonzero(begins)  # indices into elig arrays
        # skip-all-units-without-objects fast path
        has_obj_unit = set(elig_unit[cores.astype(bool)].tolist())
    else:
        cluster_first = np.empty(0, dtype=np.int64)
        has_obj_unit = set()

    # group clusters per unit — cf_units is nondecreasing, so each obj
    # unit's cluster slice comes from two binary searches; units without
    # object labels (the vast majority on real corpora) are never visited
    # (the previous linear advance walked every cluster of every unit)
    cf_units = (
        elig_unit[cluster_first] if len(cluster_first) else np.empty(0, dtype=np.int64)
    )
    obj_units = np.fromiter(
        sorted(has_obj_unit), dtype=np.int64, count=len(has_obj_unit)
    )
    unit_lo = np.searchsorted(cf_units, obj_units, side="left")
    unit_hi = np.searchsorted(cf_units, obj_units, side="right")

    # per-cluster metadata, vectorized over ALL clusters at once (the
    # python walk below then runs on plain-int lists — only the
    # sequential `pos` chain and the text char probes stay per-cluster):
    #   g_ts / g_te — global token range [ts, te): unit start for the
    #   unit's first cluster (the reference walks from position 0), else
    #   this cluster's first eligible token; te = next cluster's first
    #   eligible token while in the same unit, else the unit end
    ncl = len(cluster_first)
    if ncl:
        first_cl = np.empty(ncl, dtype=bool)
        first_cl[0] = True
        first_cl[1:] = cf_units[1:] != cf_units[:-1]
        nxt_first = np.empty(ncl, dtype=np.int64)
        if ncl > 1:
            nxt_first[:-1] = elig_idx[cluster_first[1:]]
        nxt_first[-1] = 0  # overwritten by the unit-end branch below
        last_cl = np.empty(ncl, dtype=bool)
        last_cl[:-1] = first_cl[1:]
        last_cl[-1] = True
        u_end = unit_starts[cf_units] + counts[cf_units]
        g_te_a = np.where(last_cl, u_end, nxt_first)
        g_ts_a = np.where(first_cl, unit_starts[cf_units], elig_idx[cluster_first])
        span_a = np.where(
            g_te_a > g_ts_a,
            char_end[np.maximum(g_te_a - 1, 0)] - char_start[g_ts_a],
            0,
        )
        # leading literal ' ' tokens (start-skip) — only possible for the
        # first cluster of the unit: run length of space tokens from the
        # unit start, found with one searchsorted over non-space positions
        n_lead_a = np.zeros(ncl, dtype=np.int64)
        f_idx = np.flatnonzero(first_cl & is_space[g_ts_a])
        if len(f_idx):
            nonspace = np.flatnonzero(~is_space)
            if len(nonspace):
                ins = np.searchsorted(nonspace, g_ts_a[f_idx])
                nxt_ns = np.where(
                    ins < len(nonspace),
                    nonspace[np.minimum(ins, len(nonspace) - 1)],
                    n,
                )
            else:
                nxt_ns = np.full(len(f_idx), n, dtype=np.int64)
            n_lead_a[f_idx] = np.minimum(nxt_ns, g_te_a[f_idx]) - g_ts_a[f_idx]
        cs_l = char_start[g_ts_a].tolist()
        ce_l = char_end[np.maximum(g_te_a - 1, 0)].tolist()
        span_l = span_a.tolist()
        n_lead_l = n_lead_a.tolist()
        core_l = cores[cluster_first].astype(bool).tolist()

    for ui, lo, hi in zip(obj_units.tolist(), unit_lo.tolist(), unit_hi.tolist()):
        if lo >= hi:
            continue
        text = unit_texts[ui]
        base = unit_base[ui]
        di = unit_doc[ui]
        L = len(text)

        pos = 0
        for j in range(lo, hi):
            # verbatim pos walk (AstroParser.java:700-723), cluster-level
            if pos < L - 1 and text[pos] == " ":
                pos += 1
            if pos < L - 1 and text[pos] == "\n":
                pos += 1
            nl = n_lead_l[j]
            pos += nl
            end_pos = pos + (span_l[j] - nl)
            if end_pos > 0 and L >= end_pos and text[end_pos - 1] == "\n":
                end_pos -= 1
            if end_pos > 0 and L >= end_pos and text[end_pos - 1] == " ":
                end_pos -= 1
            if core_l[j]:
                e_di.append(di)
                e_text.append(java_trim(text[cs_l[j] : ce_l[j]]))
                e_start.append(base + pos)
                e_end.append(base + end_pos)
            pos = end_pos
    return e_di, e_text, e_start, e_end
