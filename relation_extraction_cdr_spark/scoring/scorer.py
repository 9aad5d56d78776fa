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
runs in ONE mapInPandas stage (``fused_score_docs``); with
``salt_partitions`` the pipeline first repartitions only the documents
longer than plans.pipeline.HEAVY_DOC_CHARS on xxhash64(url), so a
cluster of pathologically long documents spreads across executors
(BASELINE north_star).
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..functions.tokenize import vocab_id

SCORED_SCHEMA = (
    "url string, chem_mesh string, dis_mesh string, label int, "
    "evidence_type string, pred int, prob double"
)

# causal-trigger WordPiece ids; vocab_id (not piece_to_id) so an
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


def score_pairs(features: DataFrame) -> DataFrame:
    """features (FEATURES_SCHEMA) -> scored pairs (SCORED_SCHEMA) by the
    stub decision rule.  The last step of the relational operator chain
    that tests/test_fused.py pins the fused stage to; the encoder runs
    only at document level (``fused_score_docs`` and ``score_fulltext``)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _score_rows(pdf)

    return features.mapInPandas(run, schema=SCORED_SCHEMA)


FULLSAMPLE_SCHEMA = (
    "url string, chem_mesh string, dis_mesh string, label int, "
    "logit_neg double, logit_pos double, margin double"
)


def fullsample_pooled(
    w, docs: pd.DataFrame, batch_size: int = 8
) -> Iterator[tuple[pd.DataFrame, np.ndarray]]:
    """The is_full_sample document-level loop (electra_model.py:711-734)
    every document-level consumer here runs: per FULLTEXT_SCHEMA row,
    the (url, chem_mesh, dis_mesh, label) frame of its REAL pairs and
    their [n_pairs, 2H] all-match pooled concat (ONE encoder pass per
    document pools ALL its pairs).  Shared by ``_fullsample_margins``
    (inference) and train.pool_fulltext_features (doc-level training).

    Batching is EQUAL-LENGTH-GROUPED (electra.length_grouped_batches):
    documents of the same exact token length share encoder batches of
    up to ``batch_size``, then pooling runs per document at the
    document's OWN [C, T] shape.  Under this shape discipline every
    pooled row is BIT-IDENTICAL to the one-document-at-a-time path at
    any ``batch_size`` and any partitioning / Arrow-chunk layout (pinned
    by tests/test_electra.py::test_score_fulltext_batched_bit_identical)
    — the batch only widens the encoder GEMMs' row dimension, which
    never changes a row's result; length padding WOULD (see
    length_grouped_batches).  label_length is each document's own real
    pair count, so no pad pairs are ever computed."""
    from .electra import encoder_forward, length_grouped_batches, pad_stack, pool_pairs_one

    tids = [list(x) for x in docs["token_ids"]]
    ems = [list(x) for x in docs["entity_mask"]]
    ccs = [list(x) for x in docs["chem_codes"]]
    dcs = [list(x) for x in docs["dis_codes"]]
    labels = [np.asarray(x, np.int64) for x in docs["labels"]]
    urls = docs["url"].to_numpy()
    cms_all = [list(x) for x in docs["chem_meshes"]]
    dms_all = [list(x) for x in docs["dis_meshes"]]
    for sel in length_grouped_batches([len(t) for t in tids], batch_size):
        ids, att, msk = pad_stack([tids[i] for i in sel], [ems[i] for i in sel])
        hidden = encoder_forward(w, ids, att)
        for j, i in enumerate(sel):
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
            yield keys, pool_pairs_one(hidden[j], msk[j], ccs[i], dcs[i], ll)


def _fullsample_margins(w, docs: pd.DataFrame, batch_size: int = 8) -> pd.DataFrame:
    """FULLTEXT_SCHEMA rows -> FULLSAMPLE_SCHEMA rows, one per REAL pair:
    ``fullsample_pooled`` then the pair head per document at its own
    [n_pairs, 2H] shape, so the logits keep its bit-identity at any
    batch size and partitioning.  perfbench/layers.py profiles this
    function by name (``electra.forward_s``)."""
    from .electra import pair_head

    cols = [c.split(" ")[0] for c in FULLSAMPLE_SCHEMA.split(", ")]
    if not len(docs):
        return pd.DataFrame(columns=cols)
    frames: list[pd.DataFrame] = []
    for keys, pooled in fullsample_pooled(w, docs, batch_size):
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
    batch_size: int = 8,
) -> DataFrame:
    """Document-level exact-architecture scoring: FULLTEXT_SCHEMA rows
    (operators/features.fulltext_features) -> one row per REAL pair with
    the is_full_sample logits, via ``_fullsample_margins`` (bit-identical
    at any ``batch_size`` and partitioning).  Weights are lazy per
    executor from (config, seed) or the .npz plug point."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .electra import DEFAULT_CONFIG, resolve_weights

        w = resolve_weights(config or DEFAULT_CONFIG, seed, npz_path)
        for pdf in batches:
            yield _fullsample_margins(w, pdf, batch_size)

    return fulltext.mapInPandas(run, schema=FULLSAMPLE_SCHEMA)


ALPS_SCHEMA = "url string, kind string, e1 string, e2 string, margin double"


def score_alps_3way(
    fulltext: DataFrame,
    config=None,
    seed: int = 0,
    head_seed: int = 2,
    batch_size: int = 8,
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
    kernel either way, parity-pinned by
    tests/test_electra.py::test_alps_forward_parity."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .electra import (
            DEFAULT_CONFIG,
            AlpsHead,
            alps_pooled,
            length_grouped_batches,
            resolve_weights,
        )

        cfg = config or DEFAULT_CONFIG
        # encoder weights via the shared .npz plug point; the ALPS head
        # has no converted-checkpoint layout, so it stays seeded
        w = resolve_weights(cfg, seed, npz_path)
        head = AlpsHead.seeded(cfg, head_seed)
        cols = ["url", "kind", "e1", "e2", "margin"]
        for pdf in batches:
            rows: list[dict] = []
            for r in pdf.itertuples(index=False):
                cms, dms = list(r.chem_meshes), list(r.dis_meshes)
                ccs, dcs = list(r.chem_codes), list(r.dis_codes)
                base = dict(token_ids=list(r.token_ids), mask=list(r.entity_mask))
                rows.append(
                    {**base, "url": r.url, "kind": "chem_dis",
                     "cc": ccs[0], "dc": dcs[0], "oc": -1,
                     "e1": cms[0], "e2": dms[0]}
                )
                if len(ccs) > 1:
                    rows.append(
                        {**base, "url": r.url, "kind": "other_dis",
                         "cc": -1, "dc": dcs[0], "oc": ccs[1],
                         "e1": cms[1], "e2": dms[0]}
                    )
                if len(dcs) > 1:
                    rows.append(
                        {**base, "url": r.url, "kind": "other_chem",
                         "cc": ccs[0], "dc": -1, "oc": dcs[1],
                         "e1": dms[1], "e2": cms[0]}
                    )
            out = []
            # equal-length-grouped encoder batches + per-row (M=1) head:
            # bit-identical to the one-row-at-a-time path at any
            # batch_size / partition layout (see score_fulltext)
            for sel in length_grouped_batches(
                [len(x["token_ids"]) for x in rows], batch_size
            ):
                chunk = [rows[i] for i in sel]
                pooled = alps_pooled(
                    w,
                    [x["token_ids"] for x in chunk],
                    [x["mask"] for x in chunk],
                    [x["cc"] for x in chunk],
                    [x["dc"] for x in chunk],
                    [x["oc"] for x in chunk],
                )
                for i, x in enumerate(chunk):
                    logits = head.apply(pooled[i : i + 1])[0]
                    out.append(
                        {"url": x["url"], "kind": x["kind"], "e1": x["e1"],
                         "e2": x["e2"],
                         "margin": float(logits[1] - logits[0])}
                    )
            yield pd.DataFrame(out, columns=cols) if out else pd.DataFrame(columns=cols)

    return fulltext.mapInPandas(run, schema=ALPS_SCHEMA)


def fused_score_docs(
    doc_payload: DataFrame,
    gazetteer: dict[str, list[tuple[str, str]]],
    max_term_words: int,
    tree_map: dict[str, list[str]] | None = None,
    use_levi: bool = True,
    backend: str = "stub",
    sentence_splitter: str = "regex",
) -> DataFrame:
    """Doc-level fused stage: mention detection + candidate pairs + Levi
    filter + evidence + featurize + score for ALL of a document's pairs
    in one pass — the reference's own batching shape ("one encoder pass
    per document scores all its pairs", electra_model.py:711-734 /
    SURVEY §3.3).

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
    (operators.mentions.detect_mentions_py — semantics identical to the
    relational operator), so no token explode and no per-doc window
    shuffle precede it.

    Semantically identical to the relational operator chain
    (detect_mentions |> entity_inventory |> candidate_pairs |>
    label_pairs |> levi_filter |> select_evidence |> featurize |>
    score_pairs) — pinned by tests/test_fused.py.
    """
    from ..operators.candidates import levi_rejected_py
    from ..operators.evidence import DocIndex, select_evidence_py
    from ..operators.features import featurize_py, fulltext_featurize_py
    from ..operators.mentions import detect_mentions_py

    tree_map = tree_map or {}
    use_electra = backend == "electra"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [c.split(" ")[0] for c in SCORED_SCHEMA.split(", ")]
        if use_electra:
            from .electra import DEFAULT_CONFIG, resolve_weights

            w = resolve_weights(DEFAULT_CONFIG, seed=0)
        for pdf in batches:
            feat_rows = []
            fulltext_rows: list[dict] = []
            for r in pdf.itertuples(index=False):
                # poison-row guard: extract_text yields NULL for pages
                # whose html strips to empty and text is NULL — skip,
                # never crash the stage (no mentions => no pairs anyway)
                if r.text is None or not r.text:
                    continue
                inv: dict[str, dict] = {}
                for m in detect_mentions_py(r.text, gazetteer, max_term_words):
                    e = inv.setdefault(
                        m["mesh_id"],
                        {"mesh_id": m["mesh_id"], "type": m["type"],
                         "positions": [], "rep_text": m["mention_text"],
                         "_last": -1},
                    )
                    e["positions"].append({"start": m["start"], "end": m["end"]})
                    if m["start"] > e["_last"]:  # last-mention-wins rep
                        e["rep_text"] = m["mention_text"]
                        e["_last"] = m["start"]
                ents = list(inv.values())
                chems = [e for e in ents if e["type"] == "Chemical"]
                diss = [e for e in ents if e["type"] == "Disease"]
                if not chems or not diss:
                    continue
                gold = (
                    [(g["chem_mesh"], g["dis_mesh"]) for g in r.gold_pairs]
                    if r.gold_pairs is not None
                    else []
                )
                gold_set = set(gold)
                pairs = [(c["mesh_id"], d["mesh_id"]) for c in chems for d in diss]
                rejected = (
                    levi_rejected_py(pairs, gold, tree_map)
                    if gold and use_levi
                    else set()
                )
                if use_electra:
                    ft = fulltext_featurize_py(r.text, ents, gold)
                    if ft is not None:
                        fulltext_rows.append({"url": r.url, **ft})
                doc = DocIndex(r.text, sentence_splitter)
                for c in chems:
                    for d in diss:
                        key = (c["mesh_id"], d["mesh_id"])
                        if key in rejected:
                            continue
                        label = 1 if key in gold_set else 0
                        cpos = [(int(p["start"]), int(p["end"])) for p in c["positions"]]
                        dpos = [(int(p["start"]), int(p["end"])) for p in d["positions"]]
                        ev = select_evidence_py(
                            r.text, c["mesh_id"], d["mesh_id"], cpos, dpos,
                            c["rep_text"], d["rep_text"], label,
                            sents=doc.sents,
                            pos_index=doc.index_for(
                                [p for p, _ in cpos] + [p for p, _ in dpos]
                            ),
                        )
                        if ev is None:
                            continue
                        feat = featurize_py(
                            ev["sentence"], ev["sent_pos"] or 0,
                            c["mesh_id"], d["mesh_id"],
                            ev["chem_start"], ev["chem_end"],
                            ev["dis_start"], ev["dis_end"],
                        )
                        if feat is None:
                            continue
                        feat_rows.append(
                            {"url": r.url, "chem_mesh": c["mesh_id"],
                             "dis_mesh": d["mesh_id"], "label": label,
                             "evidence_type": ev["evidence_type"], **feat}
                        )
            if feat_rows:
                fdf = pd.DataFrame(feat_rows)
                if use_electra:
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
                            for u, c, d in zip(
                                fdf["url"], fdf["chem_mesh"], fdf["dis_mesh"]
                            )
                        ]
                    )
                yield _score_rows(fdf)
            else:
                yield pd.DataFrame(columns=cols)

    return doc_payload.mapInPandas(run, schema=SCORED_SCHEMA)
