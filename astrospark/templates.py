"""CRF feature-template spec, transcribed from the reference template file
/root/reference/resources/dataset/astro/crfpp-templates/astro.template.

Each entry is (template_name, ((row_offset, column), ...)). Column numbers
index the printVector-emitted columns (see features.py) — i.e. the EFFECTIVE
pairing the trained model sees, not the template file's (stale) comments.
The two ``U0E`` lines in the file are distinct templates that happen to share
a name; they are kept separate here (suffixes _a/_b) — each gets its own
weight table, a superset of CRF++'s shared-namespace behavior that our own
training regime defines.

The single ``B`` line is the label-bigram (transition) feature — realized as
the dense 3x3 transition matrix in crf.py.
"""

from __future__ import annotations

TEMPLATES: tuple[tuple[str, tuple[tuple[int, int], ...]], ...] = (
    # unigram token (col 0)
    ("U00", ((-4, 0),)),
    ("U01", ((-3, 0),)),
    ("U02", ((-2, 0),)),
    ("U03", ((-1, 0),)),
    ("U04", ((0, 0),)),
    ("U05", ((1, 0),)),
    ("U06", ((2, 0),)),
    ("U07", ((3, 0),)),
    ("U08", ((4, 0),)),
    ("U09", ((-1, 0), (0, 0))),
    ("U0A", ((0, 0), (1, 0))),
    ("U0B", ((1, 0), (2, 0))),
    ("U0C", ((-2, 0), (-1, 0))),
    ("U0E_a", ((-2, 0), (-1, 0), (0, 0))),
    ("U0E_b", ((0, 0), (1, 0), (2, 0))),
    # lowercase token (col 1)
    ("U10", ((-2, 1),)),
    ("U11", ((-1, 1),)),
    ("U12", ((0, 1),)),
    ("U13", ((1, 1),)),
    ("U14", ((2, 1),)),
    # template says "Prefix 1-4": cols 2-5 are prefix1..prefix4
    ("U20", ((0, 2),)),
    ("U21", ((0, 3),)),
    ("U22", ((0, 4),)),
    ("U23", ((0, 5),)),
    # template says "Suffix 1-4": cols 6-9 are ACTUALLY prefix5, suffix1..3
    ("U30", ((0, 6),)),
    ("U31", ((0, 7),)),
    ("U32", ((0, 8),)),
    ("U33", ((0, 9),)),
    # "Capitalization" cols 10: ACTUALLY suffix4
    ("U40", ((0, 10),)),
    ("U41", ((1, 10),)),
    ("U42", ((-1, 10),)),
    # "Digits" col 11: ACTUALLY suffix5
    ("U50", ((0, 11),)),
    ("U51", ((-1, 11),)),
    ("U52", ((1, 11),)),
    # "Char" col 12: ACTUALLY capitalisation
    ("U60", ((0, 12),)),
    ("U61", ((-1, 12),)),
    ("U62", ((1, 12),)),
    # "Punctuation" col 13: ACTUALLY digit class
    ("UA0", ((0, 13),)),
    ("UA1", ((-1, 13),)),
    ("UA2", ((-2, 13),)),
    ("UA3", ((1, 13),)),
    ("UA4", ((2, 13),)),
    # "isKnownAstroToken" col 16: astroName dictionary flag (J1)
    ("UF0", ((-2, 16),)),
    ("UF1", ((-1, 16),)),
    ("UF2", ((0, 16),)),
    ("UF3", ((1, 16),)),
    ("UF4", ((2, 16),)),
    # "isKnownAstroPattern" col 17: FastMatcher interval flag (J2)
    ("UG0", ((-2, 17),)),
    ("UG1", ((-1, 17),)),
    ("UG2", ((0, 17),)),
    ("UG3", ((1, 17),)),
    ("UG4", ((2, 17),)),
    # "shadow number" col 15: ACTUALLY punctType
    ("UC0", ((-1, 15),)),
    ("UC1", ((0, 15),)),
    ("UC2", ((1, 15),)),
    # "word shape" col 14: ACTUALLY singleChar
    ("UD0", ((-1, 14),)),
    ("UD1", ((0, 14),)),
    ("UD2", ((1, 14),)),
    # "word shape trimmed" col 15: punctType AGAIN (independent weights)
    ("UE0", ((-1, 15),)),
    ("UE1", ((0, 15),)),
    ("UE2", ((1, 15),)),
)

# Labels (AstroTaggingLabels.java:11-15 + I- begin encoding,
# AstroAnnotationSaxHandler.java:157-162)
LABEL_OTHER = 0
LABEL_BEGIN = 1  # "I-<object>"
LABEL_INSIDE = 2  # "<object>"
LABELS = ("<other>", "I-<object>", "<object>")
N_LABELS = 3

# boundary marker used when a template offset falls outside the sequence
BOUNDARY = "\x00B"

# column 17 is the FastMatcher interval flag — the only feature column
# that is NOT a function of the token string (it is positional), so the
# scorer reads it per position rather than per distinct token
INTERVAL_COL = 17


def build_eval_plan(templates) -> tuple:
    """Shared emission evaluation order for the vectorized scorer AND the
    scalar oracle (oracle.emission_scores).

    Single-column templates over token-string-derived columns are grouped
    by row offset (ascending); within a group, templates keep ascending
    template order. Then the interval-flag (col 17) singles in template
    order, then the compound templates in template order.

    Grouping exists so the vectorized scorer can pre-sum each group's
    per-distinct-token weight tables and expand them with ONE length-n
    gather per offset instead of one per template (all members of a group
    share the same shifted index array). float64 accumulation is
    associative-order-sensitive at the last ulp, so BOTH scorers must sum
    inside a group first (ascending template order) and then add group
    partials in plan order — that keeps kernel and oracle bit-identical,
    the same invariant the previous per-template order maintained.

    Items: ("group", d, ((k, c), ...)) | ("single", k, d, c) |
    ("multi", k).
    """
    groups: dict[int, list[tuple[int, int]]] = {}
    interval_singles: list[tuple] = []
    multis: list[tuple] = []
    for k, (_name, spec) in enumerate(templates):
        if len(spec) > 1:
            multis.append(("multi", k))
        else:
            d, c = spec[0]
            if c == INTERVAL_COL:
                interval_singles.append(("single", k, d, c))
            else:
                groups.setdefault(d, []).append((k, c))
    plan: list[tuple] = [("group", d, tuple(groups[d])) for d in sorted(groups)]
    plan.extend(interval_singles)
    plan.extend(multis)
    return tuple(plan)


EVAL_PLAN = build_eval_plan(TEMPLATES)
