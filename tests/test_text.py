"""Sentence splitter + text normalization contracts (SURVEY §2.8 F4,
byte-identity invariant)."""

from __future__ import annotations

import pyspark.sql.functions as F

from relation_extraction_cdr_spark.functions.text import (
    split_sentences_py,
    extract_text,
)


def test_split_basic():
    s = split_sentences_py("alpha beta. gamma delta! epsilon?")
    assert [x["text"] for x in s] == ["alpha beta.", "gamma delta!", "epsilon?"]
    assert s[0]["start"] == 0
    assert s[1]["start"] == 12


def test_split_first_occurrence_quirk():
    # duplicated sentence located at FIRST occurrence for both positions
    # (reference text_utils.py:86 text.find semantics)
    text = "same words here. other stuff now. same words here."
    s = split_sentences_py(text)
    dups = [x for x in s if x["text"] == "same words here."]
    assert len(dups) == 2
    assert dups[0]["start"] == dups[1]["start"] == 0


def test_split_abbreviation_guard():
    s = split_sentences_py("dr. smith treated rats. outcome was fine.")
    assert len(s) == 2


def test_extract_text_byte_identity(spark):
    """input_hint invariant: extracted text == reference preprocessing
    (lowercased document payload, cdr_dataset.py:41-44) per url."""
    raw = "Lithium Induced Severe Tremor in RATS."
    html = b"<html><body><p>" + raw.encode() + b"</p></body></html>"
    df = spark.createDataFrame([(html, None)], "html binary, text string")
    got = df.select(extract_text(F.col("html"), F.col("text")).alias("t")).first()["t"]
    assert got == raw.lower()  # byte-identical to reference lowercasing
