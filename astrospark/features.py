"""Per-token feature columns — vectorized (pandas/numpy) over token batches.

Reproduces the EFFECTIVE feature set of the reference: the columns emitted by
``FeaturesVectorAstro.printVector``
(/root/reference/src/main/java/org/grobid/core/features/FeaturesVectorAstro.java:48-122)
as addressed by the Wapiti template column indices
(/root/reference/resources/dataset/astro/crfpp-templates/astro.template).
The template's comments describe a 4-prefix/4-suffix layout while printVector
emits 5+5, so the template's indices land on shifted columns; what the model
actually consumes is template-index ∘ printVector-order. We therefore compute
exactly the emitted column order and let the template spec (templates.py)
address it by index:

  0  token                        printVector:54
  1  lowercase(token)             printVector:57
  2-6  prefix 1..5                printVector:60-64
  7-11 suffix 1..5                printVector:67-71
  12 capitalisation (ALLCAPS/INITCAP/NOCAPS; forced NOCAPS when ALLDIGIT,
     printVector:74-77)           addFeaturesAstro:148-153
  13 digit (ALLDIGIT/CONTAINDIGIT/NODIGIT)  addFeaturesAstro:155-160
  14 singleChar "1"/"0"           addFeaturesAstro:144-146
  15 punctType                    addFeaturesAstro:162-178,186-187
  16 astroName "1"/"0"  (gazetteer token membership, J1)
  17 isAstroToken "1"/"0" (gazetteer multi-token interval, J2)

Columns 18-20 (shadowNumber/wordShape/wordShapeTrimmed) are emitted by the
reference but never addressed by any template line — they are dead features
and are intentionally not computed on the hot path (scalar renditions live in
oracle.py for documentation parity).

The columns of a whole Arrow batch's tokens are computed with pyarrow
compute kernels over one string array — no per-token Python on the Spark
path.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

N_COLS = 18

# RE2 patterns, anchored where the whole token must match
_ALLCAPS_RE = r"^[A-Z]+$"
_ALLDIGIT_RE = r"^[0-9]+$"
_CONTAINS_DIGIT_RE = r"[0-9]"
_INITCAP_RE = r"^[A-Z]"
# token made entirely of punctuation-ish delimiter chars
_ISPUNCT_RE = r"^[\,\:;\?\.\!\(\)\[\]\"'`\*\-–−/<>=\+%\$\^‰°≈]+$"


def compute_columns(tokens, astro_name: np.ndarray, is_astro_token: np.ndarray | None) -> list:
    """18 feature columns for a sequence of (already normalized) token
    strings — a pandas Series (object or arrow-backed) or anything else
    ``pa.array`` accepts.

    ``astro_name``/``is_astro_token``: boolean arrays aligned with ``tokens``.
    Every column comes back as a numpy array, object-typed for the string
    columns.

    ``is_astro_token=None`` leaves cols[17] as None — used by the kernel,
    where cols 0-16 are functions of the token string (computed once per
    distinct token) while col 17 is positional (interval membership) and
    is passed to the scorer per position.
    """
    s = pa.array(tokens, type=pa.string())
    if isinstance(s, pa.ChunkedArray):
        s = s.combine_chunks()

    def strings(arr) -> np.ndarray:
        return arr.to_numpy(zero_copy_only=False)

    def matches(pattern: str) -> np.ndarray:
        return pc.match_substring_regex(s, pattern).to_numpy(zero_copy_only=False)

    cols: list = [None] * N_COLS
    cols[0] = strings(s)
    cols[1] = strings(pc.utf8_lower(s))
    # prefixes / suffixes: TextUtilities.prefix/suffix semantics — whole
    # string when shorter than k (codepoint slicing clamps the same way).
    for k in range(1, 6):
        cols[1 + k] = strings(pc.utf8_slice_codeunits(s, 0, k))
        cols[6 + k] = strings(pc.utf8_slice_codeunits(s, -k))

    all_digit = matches(_ALLDIGIT_RE)
    contains_digit = matches(_CONTAINS_DIGIT_RE)
    all_caps = matches(_ALLCAPS_RE)
    init_cap = matches(_INITCAP_RE)

    # capitalisation with the ALLDIGIT->NOCAPS override (printVector:74-77)
    cols[12] = np.select(
        [all_digit, all_caps, init_cap],
        ["NOCAPS", "ALLCAPS", "INITCAP"],
        default="NOCAPS",
    )
    cols[13] = np.select(
        [all_digit, contains_digit], ["ALLDIGIT", "CONTAINDIGIT"], default="NODIGIT"
    )
    cols[14] = np.where(pc.utf8_length(s).to_numpy(zero_copy_only=False) == 1, "1", "0")

    # punctType ladder (addFeaturesAstro:162-178): generic PUNCT first, then
    # exact-char classes override.
    def one_of(chars) -> np.ndarray:
        return pc.is_in(s, value_set=pa.array(chars)).to_numpy(zero_copy_only=False)

    cols[15] = np.select(
        [
            one_of(["(", "["]),
            one_of([")", "]"]),
            one_of(["."]),
            one_of([","]),
            one_of(["-"]),
            one_of(['"', "'", "`"]),
            matches(_ISPUNCT_RE),
        ],
        ["OPENBRACKET", "ENDBRACKET", "DOT", "COMMA", "HYPHEN", "QUOTE", "PUNCT"],
        default="NOPUNCT",
    )
    cols[16] = np.where(astro_name, "1", "0")
    cols[17] = None if is_astro_token is None else np.where(is_astro_token, "1", "0")
    return cols
