"""Parity + contract tests for the exact-architecture numpy ELECTRA
scorer (scoring/electra.py) vs the literal port (reference_ports/
electra_port.py).  No Spark needed — pure numpy."""

from __future__ import annotations

import os

import numpy as np
import pytest

from relation_extraction_cdr_spark.functions.wordpiece import encode
from relation_extraction_cdr_spark.plans.queries import _MESH_TSV
from relation_extraction_cdr_spark.scoring import electra as E
from tests.reference_ports import electra_port as P

SMALL = E.ElectraConfig(
    vocab_size=30524, embedding_size=32, hidden_size=64, num_hidden_layers=2,
    num_attention_heads=4, intermediate_size=128, max_position_embeddings=64,
)
CONSISTENT = E.ElectraConfig(
    vocab_size=30524, embedding_size=64, hidden_size=64, num_hidden_layers=2,
    num_attention_heads=4, intermediate_size=128, max_position_embeddings=64,
)


# the reference checkout that also holds q82's MeSH tree (data_loaders/)
SHIPPED_CONFIG = os.path.join(
    os.path.dirname(os.path.dirname(_MESH_TSV)),
    "models_saved", "Electra_converted_pytorch", "config.json",
)


@pytest.mark.skipif(
    not os.path.exists(SHIPPED_CONFIG), reason="reference data not present"
)
def test_config_from_shipped_json():
    cfg = E.ElectraConfig.from_json(SHIPPED_CONFIG)
    assert (cfg.embedding_size, cfg.hidden_size) == (128, 256)
    assert (cfg.num_hidden_layers, cfg.num_attention_heads) == (12, 4)
    assert cfg.intermediate_size == 1024 and cfg.max_position_embeddings == 512


def test_erf_accuracy():
    xs = np.linspace(-4, 4, 2001)
    assert np.max(np.abs(E._erf(xs) - P.erf_exact(xs))) < 2e-7


def _batch(config, seed=7):
    """A real tokenized batch: marked CDR-style sentences."""
    rng = np.random.default_rng(seed)
    sents = [
        "x [E] lithium [/E] induced [E] tremor [/E] in rats",
        "[E] carbamazepine [/E] did not cause [E] dystonia [/E] here",
        "short [E] spark [/E] text [E] slow [/E]",
    ]
    ids, masks, chems, diss = [], [], [], []
    for s in sents:
        t = encode(s)[: config.max_position_embeddings]
        # entity mask: code 1 inside first span, 2 inside second, 0 else
        m, code, cur = [], 0, 0
        for x in t:
            if x == 30522:
                code += 1
                cur = code
                m.append(cur)
            elif x == 30523:
                m.append(cur)
                cur = 0
            else:
                m.append(cur)
        ids.append(t)
        masks.append(m)
        chems.append(1)
        diss.append(2)
    return ids, masks, chems, diss


def test_encoder_parity_projected():
    """Encoder with embedding_size != hidden_size (the shipped small
    shape): engine batched forward == naive per-example port."""
    w = E.ElectraWeights.seeded(SMALL, seed=1)
    ids, masks, _, _ = _batch(SMALL)
    t = max(len(x) for x in ids)
    idm = np.zeros((len(ids), t), np.int64)
    att = np.zeros((len(ids), t), np.float32)
    for r, x in enumerate(ids):
        idm[r, : len(x)] = x
        att[r, : len(x)] = 1
    hidden = E.encoder_forward(w, idm, att)
    for r, x in enumerate(ids):
        href = P.encode_one(w, x, [1] * len(x))
        # port runs unpadded; compare the unpadded prefix
        got = hidden[r, : len(x)]
        assert np.allclose(got, href, atol=5e-5), f"row {r}"


def test_full_forward_parity():
    """Full model (encoder + first-token pooling + pair head) on an
    embedding==hidden config, batched engine vs naive port, including
    padded batching effects."""
    w = E.ElectraWeights.seeded(CONSISTENT, seed=2)
    ids, masks, chems, diss = _batch(CONSISTENT)
    logits = E.score_candidates(w, ids, masks, chems, diss, batch_size=2)
    for r in range(len(ids)):
        _, lref = P.forward_one(w, ids[r], [1] * len(ids[r]), masks[r], chems[r], diss[r])
        assert np.allclose(logits[r], lref, atol=5e-5), f"row {r}: {logits[r]} vs {lref}"


def test_padding_invariance():
    """Padding must not change a row's logits: the additive -10000 mask
    keeps attention off pad positions (get_extended_attention_mask)."""
    w = E.ElectraWeights.seeded(CONSISTENT, seed=3)
    ids, masks, chems, diss = _batch(CONSISTENT)
    solo = E.score_candidates(w, ids[:1], masks[:1], chems[:1], diss[:1], batch_size=1)
    batched = E.score_candidates(w, ids, masks, chems, diss, batch_size=3)
    assert np.allclose(solo[0], batched[0], atol=5e-5)


def test_first_token_pooling_semantics():
    hidden = np.arange(12, dtype=np.float32).reshape(4, 3)
    mask = np.array([0, 2, 2, 1])
    # first position with code 2 is index 1
    assert np.array_equal(E.first_token_pool(hidden, mask, 2), hidden[1])
    assert E.first_token_pool(hidden, mask, 9) is None


def test_head_dimension_note():
    """The literal head sizing (embedding_size*2) is reproduced: with
    embedding != hidden the pooled concat cannot feed the head — the
    same shape error the reference forward would raise; with
    embedding == hidden it runs (the electra-base situation,
    cdr_trainer.py:224)."""
    w = E.ElectraWeights.seeded(SMALL, seed=4)
    ids, masks, chems, diss = _batch(SMALL)
    with pytest.raises(ValueError):
        E.score_candidates(w, ids, masks, chems, diss)


def test_seeded_weights_deterministic():
    a = E.ElectraWeights.seeded(SMALL, seed=5)
    b = E.ElectraWeights.seeded(SMALL, seed=5)
    assert all(np.array_equal(a.p[k], b.p[k]) for k in a.p)


def test_npz_roundtrip(tmp_path):
    w = E.ElectraWeights.seeded(SMALL, seed=6)
    f = tmp_path / "w.npz"
    np.savez(f, **w.p)
    w2 = E.ElectraWeights.load_npz(f, SMALL)
    assert all(np.array_equal(w.p[k], w2.p[k]) for k in w.p)


# --------------------------------------------------------------------------
# pooling variants + is_full_sample / NER / ALPS forward parity (round 3)
# --------------------------------------------------------------------------


def test_run_counting_pool_parity():
    """Sum over ALL matching positions / NUMBER OF RUNS
    (electra_model.py:205-219): engine == literal port on multi-run,
    multi-width masks."""
    rng = np.random.default_rng(11)
    hidden = rng.standard_normal((10, 8)).astype(np.float32)
    mask = np.array([0, 3, 3, 0, 3, 0, 0, 3, 3, 3])  # 3 runs of code 3
    got = E.run_counting_mean_pool(hidden, mask, 3)
    ref = P.pool_run_counting_one(hidden.astype(np.float64), list(mask), 3)
    assert np.allclose(got, ref, atol=1e-6)
    # 6 matches / 3 runs — distinct from plain mean (6) and first-tokens
    # mean (3): check against the hand rule
    byhand = hidden[mask == 3].sum(axis=0) / 3.0
    assert np.allclose(got, byhand, atol=1e-6)
    assert E.run_counting_mean_pool(hidden, mask, 9) is None


def test_all_match_pool_parity_dead_branch():
    """get_all_entity_embedding's 'first embedding of each run' skip is
    dead code — EVERY matching position contributes (electra_model.py:
    626-641).  A contiguous run would expose a live branch."""
    rng = np.random.default_rng(12)
    hidden = rng.standard_normal((6, 4)).astype(np.float32)
    mask = np.array([7, 7, 7, 0, 7, 0])  # one 3-run + one 1-run
    got = E.all_match_pool(hidden, mask, 7)
    ref = P.pool_all_match_one(hidden.astype(np.float64), list(mask), 7)
    assert np.allclose(got, ref, atol=1e-6)
    # dead branch means ALL 4 matches averaged, not just run heads
    assert np.allclose(got, hidden[mask == 7].mean(axis=0), atol=1e-6)
    # absent code -> mean of a single zero vector == zeros (not None)
    assert np.array_equal(E.all_match_pool(hidden, mask, 9), np.zeros(4, np.float32))


def test_generate_code_pairs_parity():
    cases = [
        ([1, 2], [3, 4], 6),        # 4 pairs + 2 pads
        ([1, -1, 2], [3], 4),       # -1 stops the chem scan
        ([1], [3, -1, 4], 3),       # -1 stops the dis scan per chem
        ([-1], [3], 2),             # no pairs, all pads
        ([1, 2], [3, 4], 2),        # more pairs than label_len: NO truncation
    ]
    for ccs, dcs, ll in cases:
        got = E.generate_code_pairs(ccs, dcs, ll)
        ref = P.generate_code_pairs_list_one(ccs, dcs, ll)
        assert got == (list(ref[0]), list(ref[1])), (ccs, dcs, ll)


def _fulltext_batch(config):
    """Docs with several mentions per entity (multi-run masks) for the
    document-level forward."""
    sents = [
        "x [E] lithium [/E] and [E] lithium [/E] induced [E] tremor [/E] .",
        "[E] carbamazepine [/E] caused [E] dystonia [/E] and [E] ataxia [/E] .",
    ]
    ids, masks = [], []
    codes = [([1], [2]), ([1], [2, 3])]  # (chem codes, dis codes) per doc
    span_codes = [[1, 1, 2], [1, 2, 3]]
    for s, sc in zip(sents, span_codes):
        t = encode(s)[: config.max_position_embeddings]
        m, cur, k = [], 0, -1
        for x in t:
            if x == 30522:
                k += 1
                cur = sc[k]
                m.append(cur)
            elif x == 30523:
                m.append(cur)
                cur = 0
            else:
                m.append(cur)
        ids.append(t)
        masks.append(m)
    return ids, masks, [c for c, _ in codes], [d for _, d in codes]


def test_full_sample_forward_parity():
    """is_full_sample (electra_model.py:711-734): batched engine ==
    literal per-doc port fed the SAME padded arrays (pad pairs pool the
    -1 pad positions, faithfully)."""
    w = E.ElectraWeights.seeded(CONSISTENT, seed=13)
    ids, masks, ccs, dcs = _fulltext_batch(CONSISTENT)
    L = 3  # doc0 has 2 pairs (1 pad), doc1 has 2... doc1: 1 chem x 2 dis = 2
    got = E.full_sample_forward(w, ids, masks, ccs, dcs, label_length=L)
    assert got.shape == (2, L, 2)
    t = max(len(x) for x in ids)
    for b in range(2):
        pad = t - len(ids[b])
        pids = list(ids[b]) + [0] * pad
        patt = [1] * len(ids[b]) + [0] * pad
        pmask = list(masks[b]) + [-1] * pad
        ref = P.forward_full_sample_one(w, pids, patt, pmask, ccs[b], dcs[b], L)
        assert np.allclose(got[b], ref, atol=5e-5), f"doc {b}"


def test_full_sample_label_length_overflow_raises():
    w = E.ElectraWeights.seeded(CONSISTENT, seed=13)
    ids, masks, ccs, dcs = _fulltext_batch(CONSISTENT)
    with pytest.raises(ValueError):
        E.full_sample_forward(w, ids, masks, ccs, dcs, label_length=1)


def test_ner_forward_parity():
    """NER token head (electra_model.py:767-829): gather at entity
    token indices + dense/gelu/out_proj; batched engine == per-doc
    port."""
    from relation_extraction_cdr_spark.operators.ner import ner_featurize_py

    w = E.ElectraWeights.seeded(CONSISTENT, seed=14)
    head = E.NerHead.seeded(CONSISTENT, seed=15)
    texts = [
        ("lithium induced tremor in rats", [
            dict(start=0, end=7, type="Chemical"),
            dict(start=16, end=22, type="Disease"),
        ]),
        ("carbamazepine did not cause dystonia", [
            dict(start=0, end=13, type="Chemical"),
            dict(start=28, end=36, type="Disease"),
        ]),
    ]
    feats = [ner_featurize_py(t, ms) for t, ms in texts]
    ids = [f["token_ids"] for f in feats]
    idx = [f["entity_token_idx"] for f in feats]
    got = E.ner_forward(w, head, ids, idx)
    t = max(len(x) for x in ids)
    for b in range(2):
        pad = t - len(ids[b])
        ref = P.ner_forward_one(
            w, head, list(ids[b]) + [0] * pad, [1] * len(ids[b]) + [0] * pad, idx[b]
        )
        assert got[b].shape == (len(idx[b]), 2)
        assert np.allclose(got[b], ref, atol=5e-5), f"doc {b}"


def test_alps_forward_parity():
    """ALPS 3-way tanh head (electra_model.py:306-411): run-counting
    pooling + branch-ordered concat + tanh; engine == port for each of
    the three -1 branches."""
    w = E.ElectraWeights.seeded(CONSISTENT, seed=16)
    head = E.AlpsHead.seeded(CONSISTENT, seed=17)
    ids, masks, _, _ = _fulltext_batch(CONSISTENT)
    # rows over doc0 (codes 1,2 present; 1 has TWO runs) and doc1 (1,2,3)
    rows = [
        (ids[0], masks[0], 1, 2, -1),   # other == -1
        (ids[1], masks[1], 1, -1, 3),   # dis == -1
        (ids[1], masks[1], -1, 2, 3),   # chem == -1
    ]
    got = E.alps_forward(
        w, head,
        [r[0] for r in rows], [r[1] for r in rows],
        [r[2] for r in rows], [r[3] for r in rows], [r[4] for r in rows],
    )
    t = max(len(r[0]) for r in rows)
    for i, (tid, msk, cc, dc, oc) in enumerate(rows):
        pad = t - len(tid)
        ref = P.alps_forward_one(
            w, head,
            list(tid) + [0] * pad, [1] * len(tid) + [0] * pad,
            list(msk) + [-1] * pad, cc, dc, oc,
        )
        assert np.allclose(got[i], ref, atol=5e-5), f"row {i}"


def test_score_fulltext_spark_matches_local_twin(spark, fixtures, mesh):
    """Distributed is_full_sample scoring == the same kernel run
    locally per document: one row per real pair, margins equal to the
    single-doc forward (padding differences bounded by float32 GEMM
    noise)."""
    from relation_extraction_cdr_spark.operators.features import fulltext_features
    from relation_extraction_cdr_spark.operators.mentions import detect_mentions
    from relation_extraction_cdr_spark.plans.pipeline import (
        _mesh_artifacts,
        extracted_docs,
    )
    from relation_extraction_cdr_spark.scoring.scorer import score_fulltext

    import pyspark.sql.functions as F

    cfg = E.ElectraConfig(
        vocab_size=30524, embedding_size=32, hidden_size=32,
        num_hidden_layers=2, num_attention_heads=2, intermediate_size=64,
        max_position_embeddings=512,
    )
    pages, _, gold = fixtures
    docs = extracted_docs(pages.limit(10))
    gaz, _, _ = _mesh_artifacts(mesh, "type")
    m = detect_mentions(docs, gaz)
    ents = (
        m.groupBy("url", "mesh_id", "type")
        .agg(F.array_sort(F.collect_list(F.struct("start", "end"))).alias("positions"))
        .groupBy("url")
        .agg(F.array_sort(F.collect_list(F.struct("mesh_id", "type", "positions"))).alias("entities"))
    )
    g = gold.groupBy("url").agg(
        F.array_sort(F.collect_list(F.struct("chem_mesh", "dis_mesh"))).alias("gold_pairs")
    )
    ft = fulltext_features(docs.join(ents, "url").join(g, "url", "left"))
    local_rows = ft.collect()
    assert local_rows

    w = E.ElectraWeights.seeded(cfg, seed=6)
    expect: dict[tuple, tuple] = {}
    for r in local_rows:
        ll = len(r["labels"])
        logits = E.full_sample_forward(
            w, [list(r["token_ids"])], [list(r["entity_mask"])],
            [list(r["chem_codes"])], [list(r["dis_codes"])], label_length=ll,
        )
        k = 0
        for cm in r["chem_meshes"]:
            for dm in r["dis_meshes"]:
                expect[(r["url"], cm, dm)] = (
                    int(r["labels"][k]), float(logits[0, k, 1] - logits[0, k, 0])
                )
                k += 1

    got = score_fulltext(ft.repartition(4), config=cfg, seed=6).collect()
    assert len(got) == len(expect) > 0
    for row in got:
        lab, margin = expect[(row["url"], row["chem_mesh"], row["dis_mesh"])]
        assert row["label"] == lab
        assert abs(row["margin"] - margin) < 5e-5, (row["url"], row["chem_mesh"])

    # batch_size=1 (what q87 runs): per-doc padding makes the margins
    # BIT-EQUAL to the single-doc kernel under any partition layout —
    # the determinism contract the gate's micro-unit quantization needs
    for parts in (2, 5):
        exact = score_fulltext(
            ft.repartition(parts), config=cfg, seed=6, batch_size=1
        ).collect()
        assert len(exact) == len(expect)
        for row in exact:
            lab, margin = expect[(row["url"], row["chem_mesh"], row["dis_mesh"])]
            assert row["label"] == lab
            assert row["margin"] == margin, (parts, row["url"], row["chem_mesh"])


def test_electra_backend_end_to_end(spark, fixtures, mesh):
    """The exact-architecture backend runs distributed end-to-end and
    keeps the deterministic decisions (the document-level margin only
    modulates the probability tail)."""
    from relation_extraction_cdr_spark.plans.pipeline import score_candidates

    pages, _, gold = fixtures
    stub = {
        (r["url"], r["chem_mesh"], r["dis_mesh"]): (r["pred"], r["prob"])
        for r in score_candidates(pages, mesh, gold=gold, scorer_backend="stub").collect()
    }
    real = {
        (r["url"], r["chem_mesh"], r["dis_mesh"]): (r["pred"], r["prob"])
        for r in score_candidates(pages, mesh, gold=gold, scorer_backend="electra").collect()
    }
    assert stub.keys() == real.keys() and len(real) > 0
    moved = 0
    for k, (p_stub, prob_stub) in stub.items():
        p_real, prob_real = real[k]
        assert p_real == p_stub  # decisions identical
        assert abs(prob_real - prob_stub) < 1e-8  # tail-only modulation
        if prob_real != prob_stub:
            moved += 1
    assert moved > 0  # the forward actually ran and contributed


def test_electra_backend_bit_identical_across_partitions(spark, fixtures, mesh):
    """Every fused-pipeline electra float is bit-identical at any
    partitioning: the document-level forward batches only equal-length
    documents and never pads, so regrouping documents into other Arrow
    batches cannot move a margin (exact equality, no tolerance)."""
    from relation_extraction_cdr_spark.plans.pipeline import score_candidates

    pages, _, gold = fixtures

    def scored(parts):
        df = score_candidates(
            pages.repartition(parts), mesh, gold=gold, scorer_backend="electra"
        )
        return {
            (r["url"], r["chem_mesh"], r["dis_mesh"]): (r["pred"], r["prob"])
            for r in df.collect()
        }

    one = scored(1)
    assert len(one) > 0
    for parts in (4, 7):
        assert scored(parts) == one, parts


def test_resolve_weights_rescans_overwritten_npz(tmp_path):
    """In-place checkpoint overwrite must not serve stale weights: the
    memo key includes the file fingerprint (mtime_ns + size), so a
    long-lived process that calls resolve_weights again after
    save_checkpoint rewrote the same path sees the NEW weights."""
    import numpy as np

    from relation_extraction_cdr_spark.scoring.electra import (
        DEFAULT_CONFIG,
        ElectraWeights,
        resolve_weights,
    )

    path = tmp_path / "best.npz"
    w1 = ElectraWeights.seeded(DEFAULT_CONFIG, seed=1)
    np.savez(path, **w1.p)
    first = resolve_weights(DEFAULT_CONFIG, 0, str(path))
    # overwrite in place with different weights (bump mtime explicitly:
    # coarse-mtime filesystems could otherwise alias the two writes)
    w2 = ElectraWeights.seeded(DEFAULT_CONFIG, seed=2)
    np.savez(path, **w2.p)
    st = path.stat()
    import os as _os

    _os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    second = resolve_weights(DEFAULT_CONFIG, 0, str(path))
    key = "head.dense.w"
    assert np.array_equal(first.p[key], w1.p[key])
    assert np.array_equal(second.p[key], w2.p[key])
    assert not np.array_equal(first.p[key], second.p[key])


def test_cls_pool_forward_parity():
    """ClsHead / cls_pool_forward (the reference's dead
    ElectraModelSentenceClassification, electra_model.py:414-529) match
    the literal per-example transcription on ragged batches."""
    import numpy as np

    from relation_extraction_cdr_spark.scoring.electra import (
        ClsHead,
        ElectraConfig,
        ElectraWeights,
        cls_pool_forward,
    )
    from tests.reference_ports.electra_port import cls_pool_forward_one

    cfg = ElectraConfig(
        vocab_size=30524, embedding_size=16, hidden_size=16,
        num_hidden_layers=2, num_attention_heads=2, intermediate_size=32,
    )
    w = ElectraWeights.seeded(cfg, seed=12)
    head = ClsHead.seeded(cfg, seed=5)
    rng = np.random.default_rng(3)
    token_ids = [
        [int(x) for x in rng.integers(1, 30000, size=n)] for n in (4, 9, 7, 12)
    ]
    got = cls_pool_forward(w, head, token_ids)
    assert got.shape == (4, 2)
    for i, ids in enumerate(token_ids):
        want = cls_pool_forward_one(w, head, ids, [1] * len(ids))
        np.testing.assert_allclose(got[i], want, rtol=0, atol=2e-5)
    assert len(cls_pool_forward(w, head, [])) == 0


import os as _os  # noqa: E402
import re as _re  # noqa: E402

import pytest as _pytest  # noqa: E402


@_pytest.mark.skipif(
    not _os.path.isdir("/root/reference"), reason="reference tree absent"
)
def test_cls_pool_dead_in_reference():
    """Mechanical pin of the dead-code reading (the J9-style pin):
    ElectraModelSentenceClassification is IMPORTED by the trainers but
    never CONSTRUCTED anywhere in the reference — neither a direct call
    nor a from_pretrained on the class."""
    uses = []
    for root, _dirs, files in _os.walk("/root/reference"):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = _os.path.join(root, fname)
            with open(path, encoding="utf-8", errors="replace") as fh:
                src = fh.read()
            for m in _re.finditer(
                r"ElectraModelSentenceClassification\s*(\(|\.\s*from_pretrained)", src
            ):
                line = src[: m.start()].count("\n") + 1
                text = src.splitlines()[line - 1].strip()
                if text.startswith("#"):
                    continue  # the reference comments out some calls
                if fname == "electra_model.py" and "class " in text:
                    continue
                uses.append(f"{path}:{line}: {text}")
    assert not uses, f"reference DOES instantiate the CLS model: {uses}"


def test_encoder_equal_length_batching_bit_exact(spark, fixtures, mesh):
    """The contract behind equal-length-grouped scoring: batching docs
    of the SAME exact length only widens the encoder GEMMs' row
    dimension, which never changes a row's result — batch rows are
    bit-identical to the one-doc-at-a-time encoder.  (Length PADDING
    does not have this property; see electra.length_grouped_batches.)"""
    import numpy as np

    from relation_extraction_cdr_spark.scoring.electra import (
        ElectraConfig,
        encoder_forward,
        resolve_weights,
    )

    cfg = ElectraConfig(
        vocab_size=30524, embedding_size=48, hidden_size=48,
        num_hidden_layers=2, num_attention_heads=4, intermediate_size=96,
        max_position_embeddings=512,
    )
    w = resolve_weights(cfg, 3)
    rng = np.random.default_rng(7)
    for T in (9, 33, 87, 180):
        ids = rng.integers(1, 30000, size=(6, T)).astype(np.int64)
        att = np.ones((6, T), np.float32)
        batch = encoder_forward(w, ids, att)
        for b in range(6):
            solo = encoder_forward(w, ids[b : b + 1], att[b : b + 1])[0]
            assert (solo == batch[b]).all(), f"T={T} row {b} not bit-identical"


def test_score_fulltext_batched_bit_identical(spark, fixtures, mesh):
    """score_fulltext / score_alps_3way at batch_size>1 emit BIT-IDENTICAL
    values to batch_size=1 (the round-3 gate mode) under different
    partitionings — the q87/q89 hash-stability contract for the
    equal-length-grouped batching path."""
    from relation_extraction_cdr_spark.plans.pipeline import _mesh_artifacts, extracted_docs
    from relation_extraction_cdr_spark.operators.features import fulltext_features
    from relation_extraction_cdr_spark.operators.mentions import detect_mentions
    from relation_extraction_cdr_spark.scoring.electra import ElectraConfig
    from relation_extraction_cdr_spark.scoring.scorer import score_alps_3way, score_fulltext
    import pyspark.sql.functions as F

    pages, _, gold = fixtures
    docs = extracted_docs(pages)
    gaz, _gd, _mw = _mesh_artifacts(mesh, "type")
    m = detect_mentions(docs, gaz)
    ents = (
        m.groupBy("url", "mesh_id", "type")
        .agg(F.array_sort(F.collect_list(F.struct("start", "end"))).alias("positions"))
        .groupBy("url")
        .agg(F.collect_list(F.struct("mesh_id", "positions", "type")).alias("entities"))
    )
    ft = fulltext_features(
        docs.join(ents, "url").select("url", "text", "entities")
    ).persist()
    cfg = ElectraConfig(
        vocab_size=30524, embedding_size=32, hidden_size=32,
        num_hidden_layers=2, num_attention_heads=2, intermediate_size=64,
    )

    def k87(x):
        return (x["url"], x["chem_mesh"], x["dis_mesh"])

    ref = {k87(x): (x["logit_neg"], x["logit_pos"], x["margin"])
           for x in score_fulltext(ft, config=cfg, seed=3, batch_size=1).collect()}
    assert len(ref) > 5
    for bs, parts in ((8, None), (16, 7)):
        src = ft.repartition(parts) if parts else ft
        got = {k87(x): (x["logit_neg"], x["logit_pos"], x["margin"])
               for x in score_fulltext(src, config=cfg, seed=3, batch_size=bs).collect()}
        assert got == ref, f"bs={bs} parts={parts} not bit-identical"

    def k89(x):
        return (x["url"], x["kind"], x["e1"], x["e2"])

    ref_a = {k89(x): x["margin"]
             for x in score_alps_3way(ft, config=cfg, seed=3, head_seed=5, batch_size=1).collect()}
    got_a = {k89(x): x["margin"]
             for x in score_alps_3way(ft.repartition(5), config=cfg, seed=3, head_seed=5, batch_size=8).collect()}
    assert got_a == ref_a and len(ref_a) > 5
    ft.unpersist()
