"""Hypothesis property tests over the pure-Python single-row kernels
(the pytest oracles the Spark operators are verified against): marker
insertion / mask alignment (features.featurize_py) and evidence
selection (evidence.select_evidence_py). Pure functions, no Spark per
example — hundreds of generated cases per run.

Reference semantics under test: reverse-order marker insertion keeps
char offsets valid (cdr_dataset.py:118-122), mask length equals token
length (the reference's own inline assert, cdr_dataset.py:149-151),
intra evidence must contain both mentions in one sentence
(text_utils.py:85-105).
"""

from __future__ import annotations

import string

from hypothesis import given, settings
from hypothesis import strategies as st

from relation_extraction_cdr_spark.functions.text import split_sentences_py
from relation_extraction_cdr_spark.functions.wordpiece import E_END_ID, E_START_ID, encode
from relation_extraction_cdr_spark.operators.evidence import select_evidence_py
from relation_extraction_cdr_spark.operators.features import featurize_py

WORD = st.text(alphabet=string.ascii_lowercase, min_size=1, max_size=8)


@st.composite
def sentence_with_spans(draw):
    """A one-line sentence containing two disjoint entity spans."""
    words = draw(st.lists(WORD, min_size=6, max_size=30))
    n = len(words)
    ci = draw(st.integers(0, n - 2))
    di = draw(st.integers(0, n - 2).filter(lambda d: abs(d - ci) >= 2))
    sent = " ".join(words)
    offs = []
    pos = 0
    for w in words:
        offs.append((pos, pos + len(w)))
        pos += len(w) + 1
    return sent, offs[ci], offs[di]


@settings(max_examples=300, deadline=None)
@given(sentence_with_spans())
def test_featurize_mask_aligns_and_strips_clean(case):
    sent, (cs, ce), (ds, de) = case
    row = featurize_py(sent, 0, "C1", "D1", cs, ce, ds, de)
    assert row is not None
    ids, mask = row["token_ids"], row["entity_mask"]
    # the reference's own invariant (cdr_dataset.py:149-151)
    assert len(ids) == len(mask)
    # markers balanced and properly nested: two [E]...[/E] regions
    assert ids.count(E_START_ID) == 2 and ids.count(E_END_ID) == 2
    depth, regions = 0, 0
    for t in ids:
        if t == E_START_ID:
            depth += 1
            assert depth == 1  # never nested (disjoint spans)
        elif t == E_END_ID:
            depth -= 1
            regions += 1
            assert depth == 0
    assert regions == 2
    # stripping markers recovers the plain-sentence encoding
    stripped = [t for t in ids if t not in (E_START_ID, E_END_ID)]
    assert stripped == encode(sent)
    # mask is label-encoded (A10: dense rank over lexicographically
    # sorted classes {C1, D1, O}) — exactly three classes present
    chem_code, dis_code = row["chem_code"], row["dis_code"]
    codes = set(mask)
    assert len(codes) == 3 and {chem_code, dis_code} < codes
    (o_code,) = codes - {chem_code, dis_code}
    # marker tokens and the tokens between them carry the entity code;
    # everything outside is O
    inside = False
    for t, m in zip(ids, mask):
        if t == E_START_ID:
            inside = True
        if inside:
            assert m != o_code
        else:
            assert m == o_code
        if t == E_END_ID:
            inside = False


@st.composite
def doc_with_mentions(draw):
    """A multi-sentence document with one chem and one dis mention placed
    in draw-chosen sentences."""
    n_sents = draw(st.integers(2, 6))
    sents = []
    for i in range(n_sents):
        words = draw(st.lists(WORD, min_size=4, max_size=10))
        sents.append(" ".join(words) + ".")
    c_sent = draw(st.integers(0, n_sents - 1))
    d_sent = draw(st.integers(0, n_sents - 1))
    sents[c_sent] = "aspirin " + sents[c_sent]
    sents[d_sent] = "headache " + sents[d_sent]
    text = " ".join(sents)
    cpos = text.find("aspirin")
    dpos = text.find("headache")
    # Recompute the expected sentence index of each mention with the real
    # splitter: random words can end a drawn sentence with an abbreviation
    # ("... dr.") that the engine deliberately does NOT split on, so the
    # draw-time indices are only an upper bound on the true ones.
    real = split_sentences_py(text)

    def sent_of(pos: int) -> int:
        for s in real:
            if s["start"] <= pos < s["end"]:
                return s["idx"]
        return -1

    return text, (cpos, cpos + 7), (dpos, dpos + 8), sent_of(cpos), sent_of(dpos)


@settings(max_examples=200, deadline=None)
@given(doc_with_mentions())
def test_evidence_selection_invariants(case):
    text, cspan, dspan, c_sent, d_sent = case
    row = select_evidence_py(
        text, "C1", "D1", [cspan], [dspan], "aspirin", "headache", 0,
    )
    sents = split_sentences_py(text)
    if row is None:
        # allowed only when the mentions are farther than the 3-sentence
        # inter window
        assert abs(c_sent - d_sent) > 3
        return
    kind = row["evidence_type"]
    assert kind in ("intra", "inter_fartoken", "inter_window")
    # every evidence string must contain both surfaces
    assert "aspirin" in row["sentence"] and "headache" in row["sentence"]
    if kind in ("intra", "inter_fartoken"):
        assert c_sent == d_sent
    elif kind == "inter_window":
        # reference rule: nearest pair of sentences <= 3 apart
        # (text_utils.py:114-145); our generator mentions each entity
        # once, so the distance is |c_sent - d_sent| as constructed
        assert 0 < abs(c_sent - d_sent) <= 3
    # span offsets must point at the surfaces within the document
    assert text[row["chem_start"]:row["chem_end"]] == "aspirin"
    assert text[row["dis_start"]:row["dis_end"]] == "headache"
