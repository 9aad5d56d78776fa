"""Featurization: entity-marker insertion, tokenization, entity mask,
per-row label encoding (SURVEY §2.5 W1/W2/W5, §2.4 A10, §2.2 P7/P8).

Reference semantics (cdr_dataset.py:294-376, make_example_non_global):

- markers inserted around the LATER-starting entity first so the earlier
  entity's char offsets stay valid (cdr_dataset.py:301-319); ``first`` is
  the earlier-starting entity's mesh code, ``second`` the later's.
- sentence offsets are evidence-relative: mention start minus sent_pos.
- candidates whose marked text tokenizes to > 512 ids are DROPPED
  (cdr_dataset.py:323-325, filter P7).
- entity mask: 'O' everywhere except marker spans, which carry the
  entity's mesh code, marker tokens included when use_entity_token
  (cdr_dataset.py:328-353); with use_entity_token=False the marker ids
  are stripped from the token list (P8, cdr_dataset.py:357-358).
- label encoding: sklearn LabelEncoder == dense codes over the
  LEXICOGRAPHICALLY SORTED distinct mask values (cdr_dataset.py:363-367);
  reproduced with a dict over the sorted set — per-row, no shuffle.

Execution: ``featurize_py`` is Spark-free; ``scoring.scorer.score_document``
calls it once per pair with evidence inside the fused per-document stage
(``fused_score_docs``, ``document_features``), on short evidence sentences
(bounded by 512 tokens).  ``fulltext_features`` is the document-level
featurizer's own narrow ``mapInPandas`` stage.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from ..functions.wordpiece import E_END_ID, E_START_ID, encode

FEATURES_SCHEMA = (
    "url string, chem_mesh string, dis_mesh string, label int, "
    "evidence_type string, token_ids array<int>, entity_mask array<int>, "
    "chem_code int, dis_code int"
)


def has_literal_marker(text: str) -> bool:
    """True when ``text`` itself holds the tokenizer's ``[e]``/``[/e]``
    marker token (any case): encoding it adds a marker the featurizer
    never inserted, so every featurizer drops such a row."""
    lowered = text.lower()
    return "[e]" in lowered or "[/e]" in lowered


def _encoded_marker_mask(
    text: str,
    ids: list[int],
    codes: list[str],
    use_entity_token: bool,
    cut: int | None = None,
) -> tuple[list[int], list[int], dict[str, int]] | None:
    """The module docstring's entity mask + label encoding for ``ids`` =
    ``text`` with markers inserted; span i carries ``codes[i]`` (later
    spans the last).  Returns (ids[:cut], encoded mask, value -> code),
    or None when ``text`` holds a literal ``[e]``/``[/e]``: that span was
    never inserted, has no code and would desync the mask from the ids."""
    if has_literal_marker(text):
        return None
    ids = ids[:cut]
    mask: list[str] = []
    i = 0
    span = 0
    while i < len(ids):
        if ids[i] != E_START_ID:
            mask.append("O")
            i += 1
        else:
            code = codes[min(span, len(codes) - 1)]
            if use_entity_token:
                mask.append(code)
            i += 1
            while i < len(ids) and ids[i] != E_END_ID:
                mask.append(code)
                i += 1
            if use_entity_token:
                mask.append(code)
            span += 1
            i += 1
    if not use_entity_token:
        ids = [x for x in ids if x not in (E_START_ID, E_END_ID)]
    # LabelEncoder order: dense codes over the sorted distinct values
    lookup = {c: j for j, c in enumerate(sorted(set(mask)))}
    return ids, [lookup[c] for c in mask], lookup


def featurize_py(
    sentence: str,
    sent_pos: int,
    chem_mesh: str,
    dis_mesh: str,
    chem_start: int,
    chem_end: int,
    dis_start: int,
    dis_end: int,
    use_entity_token: bool = True,
    max_len: int = 512,
) -> dict | None:
    """Single-row reference implementation (pytest oracle)."""
    cs, ce = chem_start - sent_pos, chem_end - sent_pos
    ds, de = dis_start - sent_pos, dis_end - sent_pos
    if cs > ds:
        t = sentence[:cs] + " [E] " + sentence[cs:ce] + " [/E] " + sentence[ce:]
        t = t[:ds] + " [E] " + t[ds:de] + " [/E] " + t[de:]
        first, second = dis_mesh, chem_mesh
    else:
        t = sentence[:ds] + " [E] " + sentence[ds:de] + " [/E] " + sentence[de:]
        t = t[:cs] + " [E] " + t[cs:ce] + " [/E] " + t[ce:]
        first, second = chem_mesh, dis_mesh
    ids = encode(t)
    if len(ids) > max_len:
        return None
    marked = _encoded_marker_mask(sentence, ids, [first, second], use_entity_token)
    if marked is None:
        return None
    ids, enc, lookup = marked
    if chem_mesh not in lookup or dis_mesh not in lookup:
        # pathological offsets (e.g. a find()-failure span from the
        # reproduced inter_window quirk) can corrupt a marker so an
        # entity never lands in the mask — drop the row like the other
        # guards do, never KeyError inside the executor task
        return None
    return dict(
        token_ids=ids,
        entity_mask=enc,
        chem_code=lookup[chem_mesh],
        dis_code=lookup[dis_mesh],
    )


FULLTEXT_SCHEMA = (
    "url string, token_ids array<int>, entity_mask array<int>, "
    "chem_codes array<int>, dis_codes array<int>, labels array<int>, "
    "chem_meshes array<string>, dis_meshes array<string>"
)


def fulltext_featurize_py(
    text: str,
    entities: list[dict],
    gold_pairs: list[tuple[str, str]],
    use_entity_token: bool = True,
    max_len: int = 512,
) -> dict | None:
    """The document-level (is_full_sample) example builder — reference
    ``make_example_fulltext`` (cdr_dataset.py:449-545) semantics:

    - EVERY mention of EVERY entity is marker-wrapped, sorted by start,
      inserted in reverse so earlier offsets stay valid (W1/W2)
    - tokenize the whole marked document; if > max_len ids, truncate to
      the window then cut BACK to just after the last [/e] inside it
      (W5, cdr_dataset.py:477-481; a window with no [/e] drops the doc
      — the reference would IndexError on ``e_end_last_idx[-1]``)
    - mask + LabelEncoder: ``_encoded_marker_mask`` (cdr_dataset.py:
      506-507, 533-535), which also re-encodes both code lists
    - chem/dis code lists: the doc's codes of that type FILTERED to
      those present in the (possibly truncated) mask, chem in entity
      order, dis deduped preserving first-appearance order
      (cdr_dataset.py:519-530); labels follow the same chem-outer /
      dis-inner cross order, 1 iff the pair is in ``gold_pairs``

    Returns token_ids / entity_mask / encoded code lists / labels plus
    the mesh-id lists in pair order (so logits can be joined back).
    """
    spans = sorted(
        ((int(p["start"]), int(p["end"]), e["mesh_id"])
         for e in entities for p in e["positions"]),
        key=lambda sp: sp[0],
    )
    if not spans:
        return None
    t = text
    for s, e_, _ in reversed(spans):
        t = t[:s] + " [E] " + t[s:e_] + " [/E] " + t[e_:]
    ids = encode(t)
    cut = None
    if len(ids) > max_len:
        window = ids[:max_len]
        if E_END_ID not in window:
            return None
        cut = max_len - window[::-1].index(E_END_ID)  # just after the last [/e]
    marked = _encoded_marker_mask(
        text, ids, [c for _, _, c in spans], use_entity_token, cut
    )
    if marked is None:
        return None
    ids, enc, lookup = marked
    # one entity per mesh_id (the reference inventory is a dict keyed by
    # mesh_id, so duplicates cannot exist there; caller-supplied entity
    # lists CAN repeat an id — last type wins, like the dict overwrite —
    # and the ordered dedup keeps labels aligned with the
    # chem_meshes × dis_meshes pair order the scorer reconstructs)
    types = {e["mesh_id"]: e["type"] for e in entities}
    chem_all = [m for m, typ in types.items() if typ == "Chemical"]
    dis_all = [m for m, typ in types.items() if typ == "Disease"]
    gold = set(gold_pairs)
    chem_meshes: list[str] = []
    dis_meshes: list[str] = []
    labels: list[int] = []
    for c in chem_all:
        if c in lookup:
            chem_meshes.append(c)
            for d in dis_all:
                if d in lookup:
                    if d not in dis_meshes:
                        dis_meshes.append(d)
                    labels.append(1 if (c, d) in gold else 0)
    if not chem_meshes or not dis_meshes:
        return None
    return dict(
        token_ids=[int(x) for x in ids],
        entity_mask=enc,
        chem_codes=[lookup[c] for c in chem_meshes],
        dis_codes=[lookup[d] for d in dis_meshes],
        labels=labels,
        chem_meshes=chem_meshes,
        dis_meshes=dis_meshes,
    )


def fulltext_features(
    docs_with_entities: DataFrame,
    use_entity_token: bool = True,
    max_len: int = 512,
) -> DataFrame:
    """Distributed document-level featurization.

    Input: one row per doc — (url, text,
    entities array<struct<mesh_id, type, positions array<struct<start,
    end>>>>, gold_pairs array<struct<chem_mesh, dis_mesh>> | null).
    Output: FULLTEXT_SCHEMA, one row per surviving document.  Narrow
    mapInPandas stage.

    The per-row ``itertuples`` loop is measured, not assumed, to be
    off the critical path: on the real sf0.01 payload the featurize
    kernel is 93.6% of batch wall (15.6x the iteration+unpack cost;
    BENCH/ATTRIBUTION.md), and the heavier encoder-wrapping loops
    (ner/scorer) dominate by more still."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [c.split(" ")[0] for c in FULLTEXT_SCHEMA.split(", ")]
        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                if r.text is None or not r.text:
                    continue
                ents = [
                    {
                        "mesh_id": e["mesh_id"],
                        "type": e["type"],
                        "positions": [
                            {"start": p["start"], "end": p["end"]}
                            for p in e["positions"]
                        ],
                    }
                    for e in r.entities
                ]
                gold = (
                    [(g["chem_mesh"], g["dis_mesh"]) for g in r.gold_pairs]
                    if getattr(r, "gold_pairs", None) is not None
                    else []
                )
                feat = fulltext_featurize_py(
                    r.text, ents, gold,
                    use_entity_token=use_entity_token, max_len=max_len,
                )
                if feat is not None:
                    out.append({"url": r.url, **feat})
            yield pd.DataFrame(out, columns=cols) if out else pd.DataFrame(columns=cols)

    return docs_with_entities.mapInPandas(run, schema=FULLTEXT_SCHEMA)


def wordpiece_segments(words: DataFrame, word_col: str = "word") -> DataFrame:
    """Per-word WordPiece segmentation as a relational surface:
    (word) -> (word, n_pieces, ids_csv) using the real ELECTRA vocab
    kernel (functions/wordpiece.py).  The word stream is tiny after
    distinct() (Zipfian vocabulary), so this is a broadcast-sized
    dimension in practice; corpus-side consumers join words to their
    piece counts instead of re-tokenizing every occurrence."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..functions.wordpiece import UNK_ID, VOCAB, wordpiece

        for pdf in batches:
            out = []
            for w in pdf[word_col]:
                pieces = wordpiece(w)
                out.append(
                    {
                        "word": w,
                        "n_pieces": len(pieces),
                        "ids_csv": ",".join(str(VOCAB.get(p, UNK_ID)) for p in pieces),
                    }
                )
            yield (
                pd.DataFrame(out, columns=["word", "n_pieces", "ids_csv"])
                if out
                else pd.DataFrame(columns=["word", "n_pieces", "ids_csv"])
            )

    return words.mapInPandas(run, schema="word string, n_pieces int, ids_csv string")


def sp_segments(words: DataFrame, word_col: str = "word") -> DataFrame:
    """Per-word SentencePiece unigram segmentation as a relational
    surface: (word, already ▁-prefixed) -> (word, n_pieces, ids_csv,
    cost_e6) using the real wiki-ja model kernel
    (functions/sp_unigram.py).  cost_e6 is the Viterbi path cost
    (-logprob) in fixed-point micro-units — FLOOR(cost*1e6 + 0.5) so the
    value is engine-exact.  Same dimension-sized contract as
    wordpiece_segments: distinct Zipfian vocabulary, corpus consumers
    join back instead of re-tokenizing occurrences."""
    import math

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..functions.sp_unigram import viterbi

        cols = ["word", "n_pieces", "ids_csv", "cost_e6"]
        for pdf in batches:
            out = []
            for w in pdf[word_col]:
                pieces, ids, logprob = viterbi(w)
                out.append(
                    {
                        "word": w,
                        "n_pieces": len(pieces),
                        "ids_csv": ",".join(map(str, ids)),
                        "cost_e6": int(math.floor(-logprob * 1e6 + 0.5)),
                    }
                )
            yield pd.DataFrame(out, columns=cols) if out else pd.DataFrame(columns=cols)

    return words.mapInPandas(
        run, schema="word string, n_pieces int, ids_csv string, cost_e6 long"
    )
