"""Answer/score extraction expressions (SURVEY §2.8 F4-F10).

Spark-expression re-implementations of the reference's row-at-a-time Python
(`backend/app/services/letter_extract.py:9-53`,
`backend/app/services/judging.py:13-17`,
`backend/app/services/generation.py:12-37`): the whole cascade runs
JVM-side inside whole-stage codegen, no Python in the hot path.
"""

from __future__ import annotations

import string

from pyspark.sql import Column, functions as F


def gold_to_letter(gold: Column) -> Column:
    """0-based gold index → 'A'.. (ref letter_extract.py:4-6)."""
    return F.char(gold + 65)


def _nonempty(c: Column) -> Column:
    return F.nullif(c, F.lit(""))


def extract_letter(text: Column) -> Column:
    """Four-pattern extraction cascade (ref letter_extract.py:9-40).

    1. ``###X###``
    2. ``Answer is/:  X`` (case-sensitive on [A-Z], 'answer'/'Answer' only)
    3. last standalone capital at a line end (MULTILINE)
    4. ``correct answer/option/choice is (X)`` case-insensitive → upper

    NULL/empty text → NULL, like the reference's early return.
    """
    p1 = _nonempty(F.regexp_extract(text, r"###\s*([A-Z])\s*###", 1))
    p2 = _nonempty(F.regexp_extract(text, r"(?:answer|Answer)\s*(?:is|:)\s*\(?([A-Z])\)?", 1))
    # regexp_extract_all takes the pattern as a Column (a bare str would
    # resolve as a column name)
    all3 = F.regexp_extract_all(text, F.lit(r"(?m)(?:^|\s)\(?([A-Z])\)?[\.\s]*$"), F.lit(1))
    p3 = F.when(F.size(all3) > 0, F.element_at(all3, -1))
    p4 = _nonempty(
        F.upper(
            F.regexp_extract(
                text, r"(?i)correct\s+(?:answer|option|choice)\s+is\s+\(?([A-Z])\)?", 1
            )
        )
    )
    return F.when(text.isNull() | (text == ""), F.lit(None).cast("string")).otherwise(
        F.coalesce(p1, p2, p3, p4)
    )


def extract_score(text: Column) -> Column:
    """``[[x.x]]`` → double clamped to [0, 1]; no match → NULL
    (ref letter_extract.py:43-53)."""
    raw = _nonempty(F.regexp_extract(text, r"\[\[(\d+\.?\d*)\]\]", 1)).cast("double")
    # guard: Spark's greatest/least SKIP nulls, so clamping NULL would
    # return 0.0 instead of NULL
    return F.when(raw.isNotNull(), F.least(F.greatest(raw, F.lit(0.0)), F.lit(1.0)))


def strip_thinking(text: Column) -> Column:
    """Remove ``<think>...</think>`` blocks, then trim
    (ref judging.py:13-17: non-greedy, crosses newlines)."""
    return F.when(text.isNull(), text).otherwise(
        F.trim(F.regexp_replace(text, r"<think>[\s\S]*?</think>", ""))
    )


def mcq_correct(letter: Column, gold: Column) -> Column:
    """Letter equality → correctness; no letter → False
    (ref generation.py:114-118)."""
    return F.when(letter.isNotNull(), letter == gold_to_letter(gold)).otherwise(F.lit(False))


def format_choices(choices: Column) -> Column:
    """Enumerate choices as ``A) ...\\nB) ...`` capped at 26
    (ref generation.py:12-19)."""
    lettered = F.transform(
        F.slice(choices, 1, 26),
        lambda c, i: F.concat(F.char(i + 65), F.lit(") "), c),
    )
    return F.array_join(lettered, "\n")


def template_format(template: str, columns: dict[str, Column]) -> Column:
    """Compile a ``str.format``-style template (runtime data in the
    reference: experiments carry their prompt templates as rows) into a
    single ``concat`` expression (ref generation.py:22-37,
    judging.py:68-72).

    Tokenized by ``string.Formatter().parse`` — str.format's OWN parser —
    so brace-escape semantics match exactly.  (A regex + ``{{``/``}}``
    pre-substitution pass diverges on inputs like ``"{a}}}"``, where the
    scan steals a placeholder's closing brace as half an escape;
    hypothesis found it, tests/test_extract.py pins it.)  Unknown
    placeholders raise like str.format; format specs/conversions are
    rejected (the reference's templates never use them).
    """
    parts: list[Column] = []
    for literal, field, spec, conversion in string.Formatter().parse(template):
        if literal:
            parts.append(F.lit(literal))
        if field is None:
            continue
        if spec or conversion:
            raise ValueError(f"format specs are not supported: {{{field}:{spec}}}")
        if field not in columns:
            raise KeyError(f"template placeholder {{{field}}} has no column binding")
        parts.append(F.coalesce(columns[field].cast("string"), F.lit("")))
    if not parts:
        return F.lit("")
    return F.concat(*parts)


def gold_choice(choices: Column, gold: Column) -> Column:
    """F13: the gold answer's display text, ``choices[gold]`` with
    1-based ``element_at`` (ref ExperimentDetail.jsx:620); NULL-safe on
    either side."""
    return F.when(
        choices.isNotNull() & gold.isNotNull(), F.element_at(choices, gold + 1)
    )


#: F15 score buckets (ref ExperimentDetail.jsx:1132-1148)
SCORE_STATUS_BUCKETS = (
    (0.8, "excellent"),
    (0.6, "good"),
    (0.4, "partial"),
    (0.0, "poor"),
)


def score_status(score: Column) -> Column:
    """F15: bucketed score→status label for presentation layers; NULL
    score → NULL status."""
    expr = None
    for lo, label in SCORE_STATUS_BUCKETS:
        cond = score >= F.lit(lo)
        expr = F.when(cond, label) if expr is None else expr.when(cond, label)
    return F.when(score.isNotNull(), expr)
