"""Text extraction / normalization / sentence splitting.

Reference semantics reproduced (SURVEY.md §2.8, citations into
/root/reference):

- lowercase whole-document projection: cdr_dataset.py:44
- ``text.find(sent)`` FIRST-OCCURRENCE offset quirk when locating a
  sentence in the document: utils/text_utils.py:86 — a duplicated
  sentence is located at its first occurrence, so downstream span checks
  use those offsets.  Our ``split_sentences`` reproduces this exactly.
- sentence tokenizer: the reference uses NLTK sent_tokenize
  (utils/text_utils.py:73).  NLTK is not a dependency of this engine;
  the deterministic rule-based splitter ``split_sentences_py``
  (``SENT_BOUNDARY`` plus an abbreviation guard) is the engine's one
  sentence contract.  Every query, oracle and the per-document kernel
  (scoring.scorer.score_document, once per document) use it.

Design note (scale): ``extract_text``/``lower`` are pure JVM column
expressions — they stay inside whole-stage codegen and never cross the
Python boundary.
"""

from __future__ import annotations

import re

import pyspark.sql.functions as F
from pyspark.sql import Column

# ---------------------------------------------------------------------------
# deterministic sentence-boundary rule (the engine contract)
# ---------------------------------------------------------------------------
# A sentence ends at '.', '!' or '?' (optionally followed by closing quotes
# or brackets) when followed by whitespace and then an alphanumeric/upper
# start, or at end-of-text.  Common abbreviations do not end sentences.
_ABBREV = (
    "dr mr mrs ms prof vs etc fig eg ie e.g i.e al st no inc ltd jr sr"
).split()

SENT_BOUNDARY = re.compile(r"(?<=[.!?])[\"')\]]*\s+")


def split_sentences_py(text: str) -> list[dict]:
    """Plain-Python reference splitter (the byte-identity oracle).

    Returns [{'idx', 'start', 'end', 'text'}], where ``start`` is
    ``text.find(sent)`` — reproducing the reference's first-occurrence
    quirk (text_utils.py:86): a sentence string that appears twice gets
    the offset of its FIRST occurrence for BOTH index positions.
    """
    if text is None:
        return []
    pieces: list[str] = []
    last = 0
    for m in SENT_BOUNDARY.finditer(text):
        cand = text[last : m.start()]
        # abbreviation guard: do not split after known abbreviations
        tail = cand.rstrip(".!?\"')]").rsplit(" ", 1)[-1].lower()
        if tail in _ABBREV:
            continue
        pieces.append(cand)
        last = m.end()
    rest = text[last:]
    if rest.strip():
        pieces.append(rest)
    out = []
    for i, sent in enumerate(pieces):
        start = text.find(sent)  # first-occurrence semantics (quirk F4)
        out.append({"idx": i, "start": start, "end": start + len(sent), "text": sent})
    return out


def extract_text(html_col: Column, text_col: Column) -> Column:
    """html→text extraction with fallback to the pre-extracted text column.

    The synthetic pages wrap text as <html><body><p>TEXT</p></body></html>;
    real-world extraction would plug a proper parser here behind the same
    column contract.  Byte-identity invariant (BASELINE input_hint): the
    result, lowercased, must equal the reference preprocessing of the same
    document (cdr_dataset.py:41-44 lowercases the abstract payload).

    Pure JVM expression: regexp strip of tags, no Python boundary.
    """
    from_html = F.regexp_replace(
        F.decode(html_col, "UTF-8"), r"<[^>]+>", ""
    )
    return F.lower(F.coalesce(F.nullif(F.trim(from_html), F.lit("")), text_col))


def normalize_ws(col: Column) -> Column:
    """Collapse whitespace runs to single spaces and trim (fingerprinting)."""
    return F.trim(F.regexp_replace(col, r"\s+", " "))


# a BPE-ish word/punct tokenizer used by token-counting analytics; the
# regex is the contract (deterministic, language-agnostic)
BPEISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^\sA-Za-z0-9]"
