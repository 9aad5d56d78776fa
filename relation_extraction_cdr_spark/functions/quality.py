"""Text-analysis column functions for training-data curation:
language-ID, quality signals (word count, punctuation ratio), document
fingerprinting.

All pure JVM column expressions (whole-stage codegen, no Python):
every function here is also expressible in ANSI SQL, which is how the
driver's DuckDB oracle cross-checks them (see __spark_entry__.py).

Determinism contract: any float returned to a comparable result is
rounded through fixed-point decimal so engines can't drift on
float-accumulation order.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column

# stopword marker sets for the n-gram/stopword language heuristic —
# tiny on purpose: the contract is the rule, not lexicon quality
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "was", "is"),
    "es": ("el", "la", "los", "de", "que", "y"),
    "fr": ("le", "la", "les", "des", "et", "est"),
    "de": ("der", "die", "das", "und", "ist", "von"),
}


def padded_text(text: Column) -> Column:
    """The space-padded lowercase text every marker counter scans.

    Bind this to a projection column BEFORE fanning out into the 24
    marker counters: inlined, Catalyst re-lowercases the full document
    once per counter; bound to a multiply-referenced alias,
    CollapseProject keeps the projection and all counters share one copy.
    """
    return F.concat(F.lit(" "), F.lower(text), F.lit(" "))


def _count_padded(padded: Column, word: str) -> Column:
    """Occurrences of a space-delimited word, counted via length delta
    after removal (the same trick in the SQL oracle)."""
    needle = f" {word} "
    return (
        (F.length(padded) - F.length(F.replace(padded, F.lit(needle), F.lit(" "))))
        / (len(needle) - 1)
    ).cast("int")


def lang_scores(text: Column = None, *, padded: Column = None) -> dict[str, Column]:
    p = padded if padded is not None else padded_text(text)
    return {
        lang: sum((_count_padded(p, w) for w in words), F.lit(0))
        for lang, words in LANG_MARKERS.items()
    }


def detect_lang(text: Column = None, *, padded: Column = None) -> Column:
    """n-gram-marker language ID: argmax marker count, ties broken by
    language code order, 'und' when no marker hits."""
    scores = lang_scores(text, padded=padded)
    best = F.greatest(*scores.values())
    expr = F.lit("und")
    for lang in sorted(LANG_MARKERS, reverse=True):
        expr = F.when(scores[lang] == best, F.lit(lang)).otherwise(expr)
    return F.when(best <= 0, F.lit("und")).otherwise(expr)


def word_count(text: Column) -> Column:
    return F.size(F.split(F.trim(text), r"\s+"))


def punct_ratio(text: Column) -> Column:
    """punctuation chars / total chars (4-decimal fixed point)."""
    punct = F.length(F.regexp_replace(text, r"[^.!?,;:]", ""))
    return F.round(punct / F.greatest(F.length(text), F.lit(1)), 4)


def fingerprint(text: Column, length: int = 16) -> Column:
    """Deterministic document fingerprint: md5 of the whitespace-
    normalized lowercase text, truncated (rolling-hash analog).
    Shares functions.text.normalize_ws with exact_dedup/stream_dedup so
    every fingerprint-keyed operator agrees on duplicate identity."""
    from .text import normalize_ws

    return F.substring(F.md5(normalize_ws(F.lower(text))), 1, length)
