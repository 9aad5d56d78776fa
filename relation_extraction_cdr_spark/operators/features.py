"""Featurization: entity-marker insertion, tokenization, entity mask,
per-row label encoding (SURVEY §2.5 W1/W2/W5, §2.4 A10, §2.2 P7).

Reference semantics (cdr_dataset.py:294-376, make_example_non_global):

- markers inserted around the LATER-starting entity first so the earlier
  entity's char offsets stay valid (cdr_dataset.py:301-319); ``first`` is
  the earlier-starting entity's mesh code, ``second`` the later's.
- sentence offsets are evidence-relative: mention start minus sent_pos.
- candidates whose marked text tokenizes to > MAX_IDS ids are DROPPED
  (cdr_dataset.py:323-325, filter P7).
- entity mask: 'O' everywhere except marker spans, which carry the
  entity's mesh code, marker tokens included (cdr_dataset.py:328-353,
  the entity-token setting the reference trains with, SURVEY §3.1).
- label encoding: sklearn LabelEncoder == dense codes over the
  LEXICOGRAPHICALLY SORTED distinct mask values (cdr_dataset.py:363-367);
  reproduced with a dict over the sorted set — per-row, no shuffle.

Execution: everything here is Spark-free.  ``scoring.scorer.score_document``
calls ``featurize_py`` once per pair with evidence inside the fused
per-document stage (``fused_score_docs``, ``document_features``), and
``fulltext_featurize_py`` once per document on the same entity
inventory (there and in ``document_fulltext``).  ``marked_document`` is
the whole-document marked example of both document-level featurizers
(``fulltext_featurize_py`` and operators.ner.ner_featurize_py).
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

# the reference's fixed cap on an example's token ids (cdr_dataset.py:323,
# :407, :477)
MAX_IDS = 512


def has_literal_marker(text: str) -> bool:
    """True when ``text`` itself holds the tokenizer's ``[e]``/``[/e]``
    marker token (any case): encoding it adds a marker the featurizer
    never inserted, so every featurizer drops such a row."""
    lowered = text.lower()
    return "[e]" in lowered or "[/e]" in lowered


def marked_document(text: str, spans: list[tuple]) -> tuple[list[int], list] | None:
    """The whole-document marked example (cdr_dataset.py:395-411 for
    NER, :449-481 for is_full_sample): every (start, end, tag) span
    marker-wrapped, sorted by start and inserted in reverse so earlier
    offsets stay valid (W1/W2); the marked text encoded; over MAX_IDS
    ids, truncated to the window and cut BACK to just after the last
    [/e] inside it, so no span is half-truncated (W5).

    Returns (ids, the tags in marker order), or None when the window
    holds no [/e] (the reference would IndexError on
    ``e_end_last_idx[-1]``) or ``text`` holds a literal marker, which
    would open a span with no tag and shift every later one."""
    if has_literal_marker(text):
        return None
    spans = sorted(spans, key=lambda sp: sp[0])
    t = text
    for s, e, _ in reversed(spans):
        t = t[:s] + " [E] " + t[s:e] + " [/E] " + t[e:]
    ids = encode(t)
    if len(ids) > MAX_IDS:
        ids = ids[:MAX_IDS]
        if E_END_ID not in ids:
            return None
        ids = ids[: MAX_IDS - ids[::-1].index(E_END_ID)]
    return ids, [tag for _, _, tag in spans]


def _encoded_marker_mask(
    ids: list[int], codes: list[str]
) -> tuple[list[int], dict[str, int]]:
    """The module docstring's entity mask + label encoding for ``ids``
    (a text with markers inserted and no literal one); span i carries
    ``codes[i]`` (later spans the last).  Returns (encoded mask, value
    -> code)."""
    mask: list[str] = []
    i = 0
    span = 0
    while i < len(ids):
        if ids[i] != E_START_ID:
            mask.append("O")
            i += 1
        else:
            code = codes[min(span, len(codes) - 1)]
            mask.append(code)
            i += 1
            while i < len(ids) and ids[i] != E_END_ID:
                mask.append(code)
                i += 1
            mask.append(code)
            span += 1
            i += 1
    # LabelEncoder order: dense codes over the sorted distinct values
    lookup = {c: j for j, c in enumerate(sorted(set(mask)))}
    return [lookup[c] for c in mask], lookup


def featurize_py(
    sentence: str,
    sent_pos: int,
    chem_mesh: str,
    dis_mesh: str,
    chem_start: int,
    chem_end: int,
    dis_start: int,
    dis_end: int,
) -> dict | None:
    """Single-row reference implementation (pytest oracle).  None for a
    sentence holding a literal ``[e]``/``[/e]`` (that span was never
    inserted, has no code and would desync the mask from the ids)."""
    if has_literal_marker(sentence):
        return None
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
    if len(ids) > MAX_IDS:
        return None
    enc, lookup = _encoded_marker_mask(ids, [first, second])
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
) -> dict | None:
    """The document-level (is_full_sample) example builder — reference
    ``make_example_fulltext`` (cdr_dataset.py:449-545) semantics:

    - EVERY mention of EVERY entity is marker-wrapped and the document
      encoded and cut to its window: ``marked_document`` (W1/W2/W5)
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
    # one entity per mesh_id: the callers pass the inventory
    # (mentions.entity_inventory_py, a dict keyed by mesh_id like the
    # reference's), so an id cannot repeat there; for any other list the
    # last type wins (the dict overwrite) and the ordered dedup keeps
    # labels aligned with the chem_meshes × dis_meshes pair order the
    # scorer reconstructs
    types = {e["mesh_id"]: e["type"] for e in entities}
    chem_all = [m for m, typ in types.items() if typ == "Chemical"]
    dis_all = [m for m, typ in types.items() if typ == "Disease"]
    if not chem_all or not dis_all:
        return None
    marked = marked_document(
        text,
        [(int(p["start"]), int(p["end"]), e["mesh_id"])
         for e in entities for p in e["positions"]],
    )
    if marked is None:
        return None
    ids, codes = marked
    enc, lookup = _encoded_marker_mask(ids, codes)
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
