"""BPE pair statistics (the inner loop of corpus-scale tokenizer
learning, Sennrich et al. 2016), the kernels of q78_bpe_pair_stats.

One BPE training round tokenizes every word into characters, counts
adjacent symbol pairs over the corpus weighted by word frequency, and
merges the most frequent pair.  This module computes the counts of the
first round; the top of that ranking is the next merge.

Scale shape: ONE explode + groupBy over the distinct-WORD dimension
(the Zipf trick — the corpus collapses to (word, freq) once, so the
pair count works on vocabulary-sized data).  Pure JVM expressions, no
Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def word_freqs(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq) — the corpus collapsed to its Zipf dimension."""
    return (
        docs.select(F.explode(F.split(F.lower(text_col), " ")).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )


def to_symbols(words: DataFrame) -> DataFrame:
    """(word, freq, syms array<string>) — initial character symbols
    with the </w> end-of-word marker on the last character."""
    chars = F.split(F.col("word"), "")
    n = F.size(chars)
    syms = F.concat(
        F.slice(chars, 1, n - 1),
        F.array(F.concat(F.element_at(chars, -1), F.lit("</w>"))),
    )
    return words.select("word", "freq", syms.alias("syms"))


def pair_counts(symbols: DataFrame) -> DataFrame:
    """(a, b, cnt): adjacent-pair counts weighted by word frequency —
    one zip of two shifted views + explode + groupBy."""
    m = F.size("syms") - 1
    pairs = F.zip_with(
        F.slice("syms", 1, m),
        F.slice("syms", 2, m),
        lambda x, y: F.struct(x.alias("a"), y.alias("b")),
    )
    return (
        symbols.where(F.size("syms") >= 2)
        .select("freq", F.explode(pairs).alias("p"))
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("freq").alias("cnt"))
    )
