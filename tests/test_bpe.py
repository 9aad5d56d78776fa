"""q78's BPE pair statistics vs a literal single-process reference
(the first round of a Sennrich et al. 2016 learn_bpe loop): identical
frequency-weighted adjacent-pair counts."""

from __future__ import annotations

from collections import Counter

from hypothesis import given, settings
from hypothesis import strategies as st

from relation_extraction_cdr_spark.operators import bpe as B


def _reference_pair_counts(word_freqs: dict[str, int]) -> Counter:
    """Plain-Python first BPE round: every word as characters with the
    </w> end-of-word marker on the last one, adjacent pairs counted with
    the word's frequency — the oracle of q78's kernels."""
    pairs: Counter = Counter()
    for w, f in word_freqs.items():
        if not w:
            continue
        syms = list(w[:-1]) + [w[-1] + "</w>"]
        for x, y in zip(syms, syms[1:]):
            pairs[(x, y)] += f
    return pairs


CORPUS = [
    (0, "low lower lowest low low"),
    (1, "new newer newest new"),
    (2, "wider wide wide low"),
]


def _freqs(rows):
    c: Counter = Counter()
    for _, text in rows:
        for w in text.lower().split(" "):
            if w:
                c[w] += 1
    return dict(c)


def _pair_counts(docs) -> Counter:
    rows = B.pair_counts(B.to_symbols(B.word_freqs(docs))).collect()
    return Counter({(r["a"], r["b"]): r["cnt"] for r in rows})


def test_pair_counts_match_reference(spark):
    docs = spark.createDataFrame(CORPUS, "doc_id long, text string")
    got = _pair_counts(docs)
    assert got == _reference_pair_counts(_freqs(CORPUS))
    # the top of the ranking is the reference's first merge
    assert min(got.items(), key=lambda kv: (-kv[1], kv[0]))[0] == ("l", "o")


@settings(max_examples=30, deadline=None)
@given(
    st.lists(
        st.text(alphabet="abcde", min_size=1, max_size=6), min_size=1, max_size=12
    )
)
def test_pair_counts_property(spark, words):
    rows = [(0, " ".join(words))]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    assert _pair_counts(docs) == _reference_pair_counts(_freqs(rows))


def test_pair_counts_empty_corpus(spark):
    docs = spark.createDataFrame([(0, "")], "doc_id long, text string")
    assert _pair_counts(docs) == Counter()
