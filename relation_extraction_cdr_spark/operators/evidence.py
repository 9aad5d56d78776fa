"""Evidence selection: pick the textual support for each candidate pair
(SURVEY §2.3 J5/J6, §2.5 W3; reference utils/text_utils.py:54-150).

Decision procedure reproduced exactly (including quirks):

1. For every sentence and every (chem mention, dis mention) position pair
   where BOTH mention starts fall inside the sentence
   (check_position, text_utils.py:7-10 — sentence located via
   ``text.find(sent)``, i.e. FIRST occurrence for duplicated sentences,
   text_utils.py:86):
   - token distance = number of ' '-split pieces of the text between the
     earlier entity's END and the later entity's START, where the earlier
     entity's length is the length of its MESH CODE STRING, not its
     surface form (compute_token_distance, text_utils.py:12-16 — the
     function is called with the mesh code as ``entity_chemical``; quirk
     reproduced verbatim).
   - distance < 10  → intra candidate (text_utils.py:94-96)
   - distance >= 10 → same-sentence fallback bucket (text_utils.py:97-100)
   - otherwise record which sentences contain each entity alone
     (text_utils.py:102-105).
2. Any intra candidate → return the min-token-distance one (ties: first
   encountered, Python list.index(min) semantics; text_utils.py:149-150).
3. Else (the reference's inter-sentence mode): same-sentence fallback if
   any (min distance, text_utils.py:110-112); else nearest
   chem-sentence/dis-sentence pair with |i-j| <= 3 becomes a
   sentence-window evidence (text_utils.py:114-143, including the
   find()-failure swap at :136-141); else the pair is dropped.  The
   reference's whole-document mode is the document-level featurizer
   (features.fulltext_featurize_py).

Sentences come from ``functions.text.split_sentences_py``, the
engine's one splitter (the reference's NLTK sent_tokenize is not
reproduced).

Execution shape: Spark-free.  ``scoring.scorer.score_document`` builds
one ``DocIndex`` per document and calls ``select_evidence_py`` once per
candidate pair, inside the fused per-document stage — the document text
crosses the Arrow boundary once, not once per pair.
"""

from __future__ import annotations

from ..functions.text import split_sentences_py


def _token_distance(chem_code: str, chem_start: int, dis_code: str,
                    dis_start: int, sent: str, sent_start: int) -> int:
    # earlier entity's END computed with the length of its MESH CODE
    # (reference quirk, text_utils.py:13-14)
    if chem_start < dis_start:
        pos_start, pos_end = chem_start + len(chem_code), dis_start
    else:
        pos_start, pos_end = dis_start + len(dis_code), chem_start
    return len(sent[pos_start - sent_start : pos_end - sent_start].split(" "))


def build_pos_index(sents: list[dict], positions: list[int]) -> dict[int, list[int]]:
    """pos -> ordered list of sentence idxs whose [start, start+len-1]
    span contains pos (duplicated sentences located at their first
    occurrence can contain the same position more than once — exactly
    the reference's per-sentence scan)."""
    out: dict[int, list[int]] = {p: [] for p in positions}
    for s in sents:
        lo, hi = s["start"], s["start"] + len(s["text"]) - 1
        for p in positions:
            if lo <= p <= hi:
                out[p].append(s["idx"])
    return out


def select_evidence_py(
    text: str,
    chem: str,
    dis: str,
    chem_positions: list[tuple[int, int]],
    dis_positions: list[tuple[int, int]],
    chem_text: str,
    dis_text: str,
    label: int,
    sents: list[dict] | None = None,
    pos_index: dict[int, list[int]] | None = None,
) -> dict | None:
    """One pair's evidence (``score_document`` calls it per pair).

    ``pos_index`` (optional): a per-document position->sentence-idx index
    shared across all pairs of the document — turns the per-pair cost
    from O(sentences x Mc x Md) into O(Mc x Md).  Candidates are sorted
    by (sentence idx, chem mention idx, dis mention idx) to reproduce the
    reference's loop order (ties resolved by first-encountered,
    text_utils.py:149 list.index(min)).
    """
    if sents is None:
        sents = split_sentences_py(text)
    by_idx = {s["idx"]: s for s in sents}
    if pos_index is None:
        pos_index = build_pos_index(
            sents,
            sorted({p for p, _ in chem_positions} | {p for p, _ in dis_positions}),
        )
    intra, intra_d = [], []
    far, far_d = [], []
    chem_sent_idx: list[int] = []
    dis_sent_idx: list[int] = []
    cands = []  # (sent_idx, cp_idx, dp_idx, ...)
    for ci, (cs, ce) in enumerate(chem_positions):
        c_sents = set(pos_index[cs])
        for di_, (ds, de) in enumerate(dis_positions):
            d_sents = set(pos_index[ds])
            for i in c_sents & d_sents:
                cands.append((i, ci, di_, cs, ce, ds, de))
            for i in c_sents - d_sents:
                chem_sent_idx.append(i)
            for i in d_sents - c_sents:
                dis_sent_idx.append(i)
    for i, _ci, _di, cs, ce, ds, de in sorted(cands):
        s = by_idx[i]
        sent, sent_start = s["text"], s["start"]
        td = _token_distance(chem, cs, dis, ds, sent, sent_start)
        row = dict(
            sentence=sent, sent_pos=sent_start,
            chem_start=cs, chem_end=ce, dis_start=ds, dis_end=de,
        )
        if td < 10:
            intra.append(row)
            intra_d.append(td)
        else:
            far.append(row)
            far_d.append(td)
    if intra:
        best = intra[intra_d.index(min(intra_d))]
        return dict(label=label, evidence_type="intra", **best)
    if far:
        best = far[far_d.index(min(far_d))]
        return dict(label=label, evidence_type="inter_fartoken", **best)
    # nearest sentence-pair window (text_utils.py:114-143)
    c_idx = sorted(set(chem_sent_idx))
    d_idx = sorted(set(dis_sent_idx))
    min_distance, start_sentence, end_sentence = 10000, 0, 0
    for ci in c_idx:
        for di in d_idx:
            if abs(ci - di) < min_distance:
                min_distance = abs(ci - di)
                start_sentence, end_sentence = min(ci, di), max(ci, di)
    if min_distance <= 3 and c_idx and d_idx:
        s0, s1 = by_idx[start_sentence], by_idx[end_sentence]
        # the splitter contract stores start = text.find(sent) on every
        # sentence dict (functions/text.py:82), so reuse it instead of
        # re-scanning the document up to three times per pair
        start_pos = s0["start"]
        s1_start = s1["start"]
        end_pos = s1_start + len(s1["text"])
        window = text[start_pos:end_pos]
        cstart = s0["text"].find(chem_text)
        dstart = s1["text"].find(dis_text)
        if cstart == -1 or dstart == -1:
            cstart = s1["text"].find(chem_text) + s1_start
            dstart = s0["text"].find(dis_text) + start_pos
        else:
            cstart += start_pos
            dstart += s1_start
        return dict(
            label=label, evidence_type="inter_window", sentence=window,
            sent_pos=start_pos,
            chem_start=cstart, chem_end=cstart + len(chem_text),
            dis_start=dstart, dis_end=dstart + len(dis_text),
        )
    return None


class DocIndex:
    """Per-document shared state for evidence selection: the sentence
    list plus a lazily-grown position->sentences index (each distinct
    mention position is located once per document, not once per
    pair)."""

    __slots__ = ("sents", "idx")

    def __init__(self, text: str):
        self.sents = split_sentences_py(text)
        self.idx: dict[int, list[int]] = {}

    def index_for(self, positions: list[int]) -> dict[int, list[int]]:
        missing = [p for p in positions if p not in self.idx]
        if missing:
            self.idx.update(build_pos_index(self.sents, missing))
        return self.idx
