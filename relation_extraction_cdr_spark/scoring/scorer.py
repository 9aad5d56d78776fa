"""Relation scorer (SURVEY §2.9 M1-M3).

The reference scores each candidate pair with an ELECTRA encoder + entity
-pair head (electra_model.py:563-734): one encoder pass per document
scores all its pairs (the ``is_full_sample`` shape at :711-734).  Real
model weights are not shipped with this engine; ``scorer_backend`` picks
one of two scorers:

- ``stub`` (default, CI): deterministic, model-free — consumes exactly
  the feature tensors a real model would (token_ids + entity_mask + pair
  codes).  Its decision rule: positive iff a causal trigger token
  ("induc*") occurs between the two entity spans of the evidence.  This
  keeps the entire distributed plan (batching, masks, span gathers) real
  while the matrix multiply is faked.
- ``electra``: the same decision, with the exact-architecture
  document-level forward (``_fullsample_margins``, seeded weights or a
  converted .npz checkpoint) modulating the probability tail.

Batch shape: Arrow batches via ``mapInPandas``; per-batch numpy span
gathers (the segment-mean pooling of electra_model.py:618-641 would
operate on the same gathered indices).  The whole per-document decision
runs in ONE mapInPandas stage: ``fused_score_docs`` loops over the
Spark-free kernel ``score_document`` (inventory: ``document_inventory``); with
``salt_partitions`` the pipeline first repartitions only the documents
longer than plans.pipeline.HEAVY_DOC_CHARS on xxhash64(url), so a
cluster of pathologically long documents spreads across executors
(BASELINE north_star).  That exchange is built only when the heavy text
pays for its extra Python tasks (one per plans.pipeline.CHARS_PER_TASK
characters, at most ``salt_partitions``); one eager JVM-only probe sums
the heavy text first.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..functions.wordpiece import vocab_id
from ..operators.candidates import candidate_pairs_py
from ..operators.evidence import DocIndex, select_evidence_py
from ..operators.features import (
    FEATURES_SCHEMA,
    FULLTEXT_SCHEMA,
    featurize_py,
    fulltext_featurize_py,
)
from ..operators.mentions import detect_mentions_py, document_inventory

SCORED_SCHEMA = (
    "url string, chem_mesh string, dis_mesh string, label int, "
    "evidence_type string, pred int, prob double"
)

# causal-trigger WordPiece ids; vocab_id (not token_to_id) so an
# out-of-vocab surface form can never alias to [UNK] and make every
# unknown token a trigger.  "induces" max-munches to induce+##s, so the
# in-vocab stems cover all inflections the corpus generator emits.
_TRIGGER_IDS = frozenset(
    tid
    for w in ("induc", "induce", "induced", "induces", "inducing")
    if (tid := vocab_id(w)) is not None
)


def _stable_jitter(key: str) -> float:
    """Deterministic per-pair jitter in [0, 0.05) for realistic-looking,
    reproducible probabilities."""
    h = int.from_bytes(hashlib.md5(key.encode()).digest()[:4], "big")
    return (h % 10_000) / 200_000.0


_TRIGGER_ARR = np.fromiter(sorted(_TRIGGER_IDS), np.int64, len(_TRIGGER_IDS))


def _score_rows(pdf: pd.DataFrame) -> pd.DataFrame:
    """Batch scorer over feature rows — fully vectorized (numpy segment
    ops over the ragged token arrays; no per-row python array scans):

    - per-row chem/dis span extents via ``minimum.at``/``maximum.at``
      scatter-reductions on the concatenated mask,
    - the causal-trigger test ("induc*" token strictly BETWEEN the two
      entity spans) as one ``isin`` + interval mask + ``bincount`` over
      the concatenated ids — semantics identical to the original
      per-row loop (pytest-pinned outputs unchanged)."""
    cols = [c.split(" ")[0] for c in SCORED_SCHEMA.split(", ")]
    n = len(pdf)
    if n == 0:
        return pd.DataFrame(columns=cols)
    tok_list = pdf["token_ids"].tolist()
    msk_list = pdf["entity_mask"].tolist()
    lens = np.fromiter((len(x) for x in tok_list), np.int64, n)
    total = int(lens.sum())
    offs = np.zeros(n, np.int64)
    np.cumsum(lens[:-1], out=offs[1:])
    flat_ids = (
        np.concatenate([np.asarray(x, np.int64) for x in tok_list])
        if total
        else np.zeros(0, np.int64)
    )
    flat_msk = (
        np.concatenate([np.asarray(x, np.int64) for x in msk_list])
        if total
        else np.zeros(0, np.int64)
    )
    row_of = np.repeat(np.arange(n), lens)
    pos = np.arange(total) - offs[row_of]

    ccodes = pdf["chem_code"].to_numpy(np.int64)
    dcodes = pdf["dis_code"].to_numpy(np.int64)
    is_c = flat_msk == ccodes[row_of]
    is_d = flat_msk == dcodes[row_of]

    def _extents(sel: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        mn = np.full(n, np.iinfo(np.int64).max)
        mx = np.full(n, -1)
        np.minimum.at(mn, row_of[sel], pos[sel])
        np.maximum.at(mx, row_of[sel], pos[sel])
        return mn, mx

    cmin, cmax = _extents(is_c)
    dmin, dmax = _extents(is_d)
    has = (cmax >= 0) & (dmax >= 0)
    # span gather window: strictly between min(maxes) and max(mins)
    lo = np.minimum(cmax, dmax)
    hi = np.maximum(cmin, dmin)
    trig_elem = (
        np.isin(flat_ids, _TRIGGER_ARR)
        & (pos > lo[row_of])
        & (pos < hi[row_of])
        & has[row_of]
    )
    trig_row = np.bincount(row_of[trig_elem], minlength=n) > 0
    ev_ok = pdf["evidence_type"].isin(("intra", "inter_fartoken")).to_numpy()
    pred = (has & trig_row & ev_ok).astype(np.int64)

    jit = np.fromiter(
        (
            _stable_jitter(f"{u}|{c}|{d}")
            for u, c, d in zip(pdf["url"], pdf["chem_mesh"], pdf["dis_mesh"])
        ),
        np.float64,
        n,
    )
    prob = np.where(pred == 1, 0.9, 0.05) + jit
    if "enc_logit" in pdf.columns:
        # electra backend: the document-level encoder margin
        # deterministically modulates the probability tail (decision
        # unchanged); NaN (pair outside the 512-token window) adds nothing
        enc = pdf["enc_logit"].to_numpy(np.float64)
        prob = prob + np.where(np.isnan(enc), 0.0, 1e-9 * np.tanh(enc))
    return pd.DataFrame(
        {
            "url": pdf["url"].values,
            "chem_mesh": pdf["chem_mesh"].values,
            "dis_mesh": pdf["dis_mesh"].values,
            "label": pdf["label"].astype("int64").to_numpy(),
            "evidence_type": pdf["evidence_type"].values,
            "pred": pred,
            "prob": prob,
        },
        columns=cols,
    )


FULLSAMPLE_SCHEMA = (
    "url string, chem_mesh string, dis_mesh string, label int, "
    "logit_neg double, logit_pos double, margin double"
)


def fullsample_pooled(w, docs: pd.DataFrame) -> Iterator[tuple[pd.DataFrame, np.ndarray]]:
    """The is_full_sample document-level loop (electra_model.py:711-734)
    every document-level consumer here runs: per FULLTEXT_SCHEMA row,
    the (url, chem_mesh, dis_mesh, label) frame of its REAL pairs and
    their [n_pairs, 2H] all-match pooled concat (ONE encoder pass per
    document pools ALL its pairs).  Shared by ``_fullsample_margins``
    (inference) and train.pool_fulltext_features (doc-level training).

    Hidden states come from electra.encoded, the one equal-length-grouped
    encoder loop; pooling runs per document at the document's OWN
    [C, T] shape, so every pooled row is BIT-IDENTICAL to the
    one-document-at-a-time path at any partitioning / Arrow-chunk layout
    (pinned by tests/test_electra.py::test_score_fulltext_batched_bit_identical).
    label_length is each document's own real pair count, so no pad
    pairs are ever computed."""
    from .electra import encoded, pool_pairs_one

    ems = docs["entity_mask"].tolist()
    ccs = [list(x) for x in docs["chem_codes"]]
    dcs = [list(x) for x in docs["dis_codes"]]
    labels = [np.asarray(x, np.int64) for x in docs["labels"]]
    urls = docs["url"].to_numpy()
    cms_all = [list(x) for x in docs["chem_meshes"]]
    dms_all = [list(x) for x in docs["dis_meshes"]]
    for i, hidden in encoded(w, docs["token_ids"].tolist()):
        ll = len(labels[i])
        cms, dms = cms_all[i], dms_all[i]
        # pair order matches the reference's generate_code_pairs
        # nesting (chem-major), the order labels were built in
        keys = pd.DataFrame(
            {
                "url": np.repeat(urls[i], ll),
                "chem_mesh": np.repeat(np.asarray(cms, object), len(dms)),
                "dis_mesh": np.tile(np.asarray(dms, object), len(cms)),
                "label": labels[i],
            }
        )
        msk = np.asarray(ems[i], np.int64)
        yield keys, pool_pairs_one(hidden, msk, ccs[i], dcs[i], ll)


def _fullsample_margins(w, docs: pd.DataFrame) -> pd.DataFrame:
    """FULLTEXT_SCHEMA rows -> FULLSAMPLE_SCHEMA rows, one per REAL pair:
    ``fullsample_pooled`` then the pair head per document at its own
    [n_pairs, 2H] shape, so the logits keep its bit-identity at any
    partitioning.  perfbench/layers.py profiles this function by name
    (``electra.forward_s``)."""
    from .electra import pair_head

    cols = [c.split(" ")[0] for c in FULLSAMPLE_SCHEMA.split(", ")]
    if not len(docs):
        return pd.DataFrame(columns=cols)
    frames: list[pd.DataFrame] = []
    for keys, pooled in fullsample_pooled(w, docs):
        logits = pair_head(w, pooled)  # [n_pairs, 2]
        margins = logits[:, 1] - logits[:, 0]  # float32
        frames.append(
            keys.assign(
                logit_neg=logits[:, 0].astype(np.float64),
                logit_pos=logits[:, 1].astype(np.float64),
                margin=margins.astype(np.float64),
            )
        )
    return pd.concat(frames, ignore_index=True) if frames else pd.DataFrame(columns=cols)


def score_fulltext(
    fulltext: DataFrame,
    config=None,
    seed: int = 0,
    npz_path: str | None = None,
) -> DataFrame:
    """Document-level exact-architecture scoring: FULLTEXT_SCHEMA rows
    (``document_fulltext``) -> one row per REAL pair with
    the is_full_sample logits, via ``_fullsample_margins`` (bit-identical
    at any partitioning).  Weights are lazy per executor from (config,
    seed) or the .npz plug point."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .electra import DEFAULT_CONFIG, resolve_weights

        w = resolve_weights(config or DEFAULT_CONFIG, seed, npz_path)
        for pdf in batches:
            yield _fullsample_margins(w, pdf)

    return fulltext.mapInPandas(run, schema=FULLSAMPLE_SCHEMA)


ALPS_SCHEMA = "url string, kind string, e1 string, e2 string, margin double"


def _alps_margins(w, head, docs: pd.DataFrame) -> pd.DataFrame:
    """FULLTEXT_SCHEMA rows -> ALPS_SCHEMA rows: one encoder pass per
    document (electra.encoded), then per exercisable -1 branch
    ``alps_pooled`` over the document's hidden states and
    ``AlpsHead.apply`` at M=1, so every margin is bit-identical at any
    partitioning."""
    from .electra import alps_pooled, encoded

    cols = [c.split(" ")[0] for c in ALPS_SCHEMA.split(", ")]
    out: list[tuple] = []
    for i, hidden in encoded(w, docs["token_ids"].tolist()):
        r = docs.iloc[i]
        cms, dms = list(r["chem_meshes"]), list(r["dis_meshes"])
        ccs, dcs = list(r["chem_codes"]), list(r["dis_codes"])
        # (kind, chem, dis, other code, e1, e2) per -1 branch
        kinds = [("chem_dis", ccs[0], dcs[0], -1, cms[0], dms[0])]
        if len(ccs) > 1:
            kinds.append(("other_dis", -1, dcs[0], ccs[1], cms[1], dms[0]))
        if len(dcs) > 1:
            kinds.append(("other_chem", ccs[0], -1, dcs[1], dms[1], cms[0]))
        msk = np.asarray(r["entity_mask"], np.int64)
        for kind, cc, dc, oc, e1, e2 in kinds:
            logits = head.apply(alps_pooled(hidden, msk, cc, dc, oc)[None, :])[0]
            out.append((r["url"], kind, e1, e2, float(logits[1] - logits[0])))
    return pd.DataFrame(out, columns=cols)


def score_alps_3way(
    fulltext: DataFrame,
    config=None,
    seed: int = 0,
    head_seed: int = 2,
    npz_path: str | None = None,
) -> DataFrame:
    """ALPS 3-way tanh-head scoring (reference electra_model.py:273-411)
    over document-level features: per document, one row per exercisable
    -1 branch of the forward —

      kind 'chem_dis'   (other == -1): pool chem0 + dis0
      kind 'other_dis'  (chem == -1):  pool dis0 + other (2nd chemical
                                       standing in for the Other type)
      kind 'other_chem' (dis == -1):   pool chem0 + other (2nd disease)

    The CDR corpus has no Other-type gazetteer entries, so the 3-way
    kinds borrow the document's second entity of the opposite type as
    the deterministic stand-in — the FORWARD (run-counting mean pooling
    + branch-ordered concat + dense/tanh/out_proj) is the exact ALPS
    kernel either way: ``_alps_margins`` (``alps_pooled`` +
    ``AlpsHead.apply``), which tests/test_electra.py pins to the literal
    port."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .electra import DEFAULT_CONFIG, AlpsHead, resolve_weights

        cfg = config or DEFAULT_CONFIG
        # encoder weights via the shared .npz plug point; the ALPS head
        # has no converted-checkpoint layout, so it stays seeded
        w = resolve_weights(cfg, seed, npz_path)
        head = AlpsHead.seeded(cfg, head_seed)
        for pdf in batches:
            yield _alps_margins(w, head, pdf)

    return fulltext.mapInPandas(run, schema=ALPS_SCHEMA)


def score_document(
    url: str,
    text: str | None,
    gold_pairs: list[tuple[str, str]],
    gazetteer: dict[str, list[tuple[str, str]]],
    max_term_words: int,
    tree_map: dict[str, list[str]],
    fulltext: bool = False,
) -> tuple[list[dict], dict | None]:
    """One document's decision, Spark-free, in the reference's order
    (cdr_dataset.py:54-75, text_utils.py:54-150): mentions, inventory,
    (chem, dis) pairs, Levi filter, evidence, featurize.  Returns its
    FEATURES rows and, with ``fulltext`` (the electra backend), its
    FULLTEXT_SCHEMA row or None."""
    rows: list[dict] = []
    # poison-row guard: extract_text yields NULL for pages whose html
    # strips to empty and text is NULL (no mentions => no pairs anyway)
    if not text:
        return rows, None
    ents = document_inventory(text, gazetteer, max_term_words)
    # None unless the inventory has both entity types
    ft = fulltext_featurize_py(text, ents, gold_pairs) if fulltext else None
    pairs = candidate_pairs_py(ents, gold_pairs, tree_map)
    doc = DocIndex(text) if pairs else None
    for c, d, label in pairs:
        cpos = [(int(p["start"]), int(p["end"])) for p in c["positions"]]
        dpos = [(int(p["start"]), int(p["end"])) for p in d["positions"]]
        ev = select_evidence_py(
            text, c["mesh_id"], d["mesh_id"], cpos, dpos,
            c["rep_text"], d["rep_text"], label,
            sents=doc.sents,
            pos_index=doc.index_for([p for p, _ in cpos] + [p for p, _ in dpos]),
        )
        if ev is None:
            continue
        feat = featurize_py(
            ev["sentence"], ev["sent_pos"],
            c["mesh_id"], d["mesh_id"],
            ev["chem_start"], ev["chem_end"],
            ev["dis_start"], ev["dis_end"],
        )
        if feat is None:
            continue
        rows.append(
            {"url": url, "chem_mesh": c["mesh_id"], "dis_mesh": d["mesh_id"],
             "label": label, "evidence_type": ev["evidence_type"], **feat}
        )
    return rows, (None if ft is None else {"url": url, **ft})


def _gold_pairs(gold_pairs) -> list[tuple[str, str]]:
    """One payload row's gold_pairs array<struct<chem_mesh, dis_mesh>>
    (NULL: no gold) as (chem, dis) tuples."""
    if gold_pairs is None:
        return []
    return [(g["chem_mesh"], g["dis_mesh"]) for g in gold_pairs]


def _batch_documents(
    pdf: pd.DataFrame,
    gazetteer: dict[str, list[tuple[str, str]]],
    max_term_words: int,
    tree_map: dict[str, list[str]],
    fulltext: bool,
) -> tuple[list[dict], list[dict]]:
    """One Arrow batch of (url, text, gold_pairs) documents through
    ``score_document``: all their FEATURES rows and, with ``fulltext``,
    their FULLTEXT_SCHEMA rows.  The document loop of both
    ``fused_score_docs`` and ``document_features``."""
    feat_rows: list[dict] = []
    fulltext_rows: list[dict] = []
    for r in pdf.itertuples(index=False):
        rows, ft = score_document(
            r.url, r.text, _gold_pairs(r.gold_pairs), gazetteer,
            max_term_words, tree_map, fulltext=fulltext,
        )
        feat_rows += rows
        if ft is not None:
            fulltext_rows.append(ft)
    return feat_rows, fulltext_rows


def _keyed_schema(docs: DataFrame, fields: str) -> str:
    """``fields`` after a ``url`` column of the type ``docs`` gives it."""
    return f"url {docs.schema['url'].dataType.simpleString()}, {fields}"


def document_mentions(
    docs: DataFrame,
    gazetteer: dict[str, list[tuple[str, str]]],
    max_term_words: int,
) -> DataFrame:
    """mentions(url, mesh_id, mention_text, type, start, end) of
    docs(url, text): the detector ``score_document`` runs,
    ``detect_mentions_py``, per document in one narrow mapInPandas
    stage.  ``url`` keeps the type ``docs`` gives it."""
    schema = _keyed_schema(
        docs, "mesh_id string, mention_text string, type string, start int, end int"
    )
    cols = [c.split(" ")[0] for c in schema.split(", ")]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                [
                    (url, m["mesh_id"], m["mention_text"], m["type"], m["start"], m["end"])
                    for url, text in zip(pdf["url"], pdf["text"])
                    if text
                    for m in detect_mentions_py(text, gazetteer, max_term_words)
                ],
                columns=cols,
            )

    return docs.select("url", "text").mapInPandas(run, schema=schema)


def document_pairs(
    doc_payload: DataFrame,
    gazetteer: dict[str, list[tuple[str, str]]],
    max_term_words: int,
    tree_map: dict[str, list[str]],
) -> DataFrame:
    """(url, chem_mesh, dis_mesh, label) candidate pairs of (url, text,
    gold_pairs) rows (plans.pipeline.with_gold_pairs): per document the
    inventory step and the pair step ``score_document`` runs
    (``document_inventory``, then ``candidate_pairs_py`` with the Levi
    filter under ``tree_map``), in one narrow mapInPandas stage, without
    evidence or features.  ``url`` keeps the type the payload gives it."""
    schema = _keyed_schema(doc_payload, "chem_mesh string, dis_mesh string, label int")
    cols = [c.split(" ")[0] for c in schema.split(", ")]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                if not r.text:
                    continue
                ents = document_inventory(r.text, gazetteer, max_term_words)
                rows += [
                    (r.url, c["mesh_id"], d["mesh_id"], label)
                    for c, d, label in candidate_pairs_py(
                        ents, _gold_pairs(r.gold_pairs), tree_map
                    )
                ]
            yield pd.DataFrame(rows, columns=cols)

    return doc_payload.mapInPandas(run, schema=schema)


def document_features(
    doc_payload: DataFrame,
    gazetteer: dict[str, list[tuple[str, str]]],
    max_term_words: int,
) -> DataFrame:
    """The FEATURES_SCHEMA rows ``fused_score_docs`` scores, unscored and
    without the Levi filter: ``score_document`` per document in one
    narrow mapInPandas stage over the same input, (url, text,
    gold_pairs) rows (plans.pipeline.with_gold_pairs).  The feature
    source of the training queries (q86, q93), which train and evaluate
    on every labelled candidate pair: the filter would drop 2-3
    negative pairs per corpus and move q93's pinned oracle row, hence
    the empty tree map."""
    cols = [c.split(" ")[0] for c in FEATURES_SCHEMA.split(", ")]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows, _ = _batch_documents(pdf, gazetteer, max_term_words, {}, False)
            yield pd.DataFrame(rows, columns=cols)

    return doc_payload.mapInPandas(run, schema=FEATURES_SCHEMA)


def document_fulltext(
    doc_payload: DataFrame,
    gazetteer: dict[str, list[tuple[str, str]]],
    max_term_words: int,
) -> DataFrame:
    """The FULLTEXT_SCHEMA rows ``fused_score_docs`` encodes, one per
    document with both entity types: per (url, text, gold_pairs) row
    (plans.pipeline.with_gold_pairs) the call ``score_document`` makes
    with ``fulltext`` — ``fulltext_featurize_py`` on the inventory, so
    entities come in first-mention order, each typed by its last
    mention — in one narrow mapInPandas stage.  No pair loop: these rows
    feed the document-level queries (q87, q89, q91), which would throw
    the pairs' evidence away."""
    cols = [c.split(" ")[0] for c in FULLTEXT_SCHEMA.split(", ")]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                if not r.text:
                    continue
                ents = document_inventory(r.text, gazetteer, max_term_words)
                ft = fulltext_featurize_py(r.text, ents, _gold_pairs(r.gold_pairs))
                if ft is not None:
                    rows.append({"url": r.url, **ft})
            yield pd.DataFrame(rows, columns=cols)

    return doc_payload.mapInPandas(run, schema=FULLTEXT_SCHEMA)


def fused_score_docs(
    doc_payload: DataFrame,
    gazetteer: dict[str, list[tuple[str, str]]],
    max_term_words: int,
    tree_map: dict[str, list[str]],
    backend: str = "stub",
) -> DataFrame:
    """Doc-level fused stage: ``score_document`` (mentions +
    inventory + pairs + Levi filter + evidence + featurize)
    per document and one ``_score_rows`` per Arrow batch, ALL of a
    document's pairs in one pass — the reference's own batching shape
    ("one encoder pass per document", electra_model.py:711-734).

    Input: one row per document
      (url, text, gold_pairs array<struct<chem_mesh, dis_mesh>> | null)

    Scale rationale: the document text crosses the shuffle and the Arrow
    boundary ONCE per document instead of once per pair — at ~3 KB/page
    and tens of pairs/page that is an order of magnitude less data
    movement than a pair-level join, and it keeps the python stage
    compute-bound (the scaling-efficiency criterion).  ``gazetteer``
    (the surface-form dict, longest term ``max_term_words`` words) and
    ``tree_map`` (the MeSH multimap) ride along in the UDF closure — a
    few MB, the same payload a broadcast variable would carry.  Mention
    detection runs in this same pass
    (operators.mentions.detect_mentions_py), so no token explode and no
    per-doc window shuffle precede it.

    tests/test_fused.py pins it to its oracle: the relational mentions,
    inventory and labelled pairs of tests/relational_oracle.py, the
    independent Levi rule of tests/test_candidates.py, then per
    collected pair row ``select_evidence_py`` (a fresh sentence index
    per pair) |> ``featurize_py`` |> ``_score_rows``.
    """
    use_electra = backend == "electra"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        if use_electra:
            from .electra import DEFAULT_CONFIG, resolve_weights

            w = resolve_weights(DEFAULT_CONFIG, seed=0)
        for pdf in batches:
            feat_rows, fulltext_rows = _batch_documents(
                pdf, gazetteer, max_term_words, tree_map, use_electra
            )
            fdf = pd.DataFrame(feat_rows)
            if use_electra and feat_rows:
                # exact-architecture DOCUMENT-LEVEL forward (the
                # is_full_sample shape, electra_model.py:711-734):
                # one encoder pass per doc scores all its pairs;
                # margins join back to the surviving feature rows
                # by (url, chem, dis).  Pairs whose entity was
                # truncated out of the 512-token fulltext window
                # keep enc_logit = NaN (prob tail unmodulated).
                fs = _fullsample_margins(w, pd.DataFrame(fulltext_rows))
                margins = dict(
                    zip(zip(fs["url"], fs["chem_mesh"], fs["dis_mesh"]), fs["margin"])
                )
                fdf = fdf.assign(
                    enc_logit=[
                        margins.get((u, c, d), float("nan"))
                        for u, c, d in zip(fdf["url"], fdf["chem_mesh"], fdf["dis_mesh"])
                    ]
                )
            yield _score_rows(fdf)

    return doc_payload.mapInPandas(run, schema=SCORED_SCHEMA)
