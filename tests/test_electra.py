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


def _oracle_erf(x):
    sign = np.sign(x)
    x = np.abs(x)
    t = 1.0 / (1.0 + 0.3275911 * x)
    poly = t * (
        0.254829592
        + t * (-0.284496736 + t * (1.421413741 + t * (-1.453152027 + t * 1.061405429)))
    )
    return sign * (1.0 - poly * np.exp(-x * x))


def _oracle_gelu(x):
    return x * 0.5 * (1.0 + _oracle_erf(x / np.sqrt(2.0)))


def _oracle_layer_norm(x, w, b, eps):
    mu = x.mean(axis=-1, keepdims=True)
    var = x.var(axis=-1, keepdims=True)
    return (x - mu) / np.sqrt(var + eps) * w + b


def _oracle_softmax(x):
    e = np.exp(x - x.max(axis=-1, keepdims=True))
    return e / e.sum(axis=-1, keepdims=True)


@pytest.mark.parametrize("dtype", [np.float32, np.float64])
def test_elementwise_kernels_match_expressions_bitwise(dtype):
    """_erf, gelu, layer_norm and softmax, which write into their own
    temporaries, equal the plain numpy expressions bit for bit (float32
    as in the encoder, float64 as in train.py) and leave their inputs
    unchanged."""
    rng = np.random.default_rng(11)
    for shape in [(1,), (7, 1024), (3, 5, 256), (2, 4, 9, 9)]:
        x = (rng.standard_normal(shape) * 4).astype(dtype)
        x.flat[0] = 0.0  # sign(0) == 0
        w = rng.standard_normal(shape[-1]).astype(dtype)
        b = rng.standard_normal(shape[-1]).astype(dtype)
        before = [a.copy() for a in (x, w, b)]
        pairs = [
            (E._erf(x), _oracle_erf(x)),
            (E.gelu(x), _oracle_gelu(x)),
            (E.softmax(x), _oracle_softmax(x)),
            (E.layer_norm(x, w, b, 1e-12), _oracle_layer_norm(x, w, b, 1e-12)),
        ]
        for got, want in pairs:
            assert got.dtype == want.dtype == dtype
            assert got.tobytes() == want.tobytes()
        for a, a0 in zip((x, w, b), before):
            assert a.tobytes() == a0.tobytes()


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


def test_full_forward_parity(spark):
    """Full model (encoder + first-token pooling + pair head) on an
    embedding==hidden config: the production first-token kernel
    (train.pool_features, then electra.pair_head) vs the naive port."""
    from relation_extraction_cdr_spark.operators.features import FEATURES_SCHEMA
    from relation_extraction_cdr_spark.scoring.train import pool_features

    w = E.ElectraWeights.seeded(CONSISTENT, seed=2)
    ids, masks, chems, diss = _batch(CONSISTENT)
    feats = spark.createDataFrame(
        [
            (f"u{r}", "c", "d", 0, "intra", ids[r], masks[r], chems[r], diss[r])
            for r in range(len(ids))
        ],
        FEATURES_SCHEMA,
    )
    pooled = {
        row["url"]: np.array(row["feat"], np.float32)
        for row in pool_features(feats, config=CONSISTENT, seed=2).collect()
    }
    assert len(pooled) == len(ids)
    for r in range(len(ids)):
        logits = E.pair_head(w, pooled[f"u{r}"][None, :])[0]
        _, lref = P.forward_one(w, ids[r], [1] * len(ids[r]), masks[r], chems[r], diss[r])
        assert np.allclose(logits, lref, atol=5e-5), f"row {r}: {logits} vs {lref}"


def test_padding_invariance():
    """Padding must not change a row's hidden states: the additive
    -10000 mask keeps attention off pad positions
    (get_extended_attention_mask).  A ragged pad_stack batch through
    encoder_forward == each row run alone, on every row's real prefix."""
    w = E.ElectraWeights.seeded(CONSISTENT, seed=3)
    ids, masks, _, _ = _batch(CONSISTENT)
    assert len({len(x) for x in ids}) > 1  # the batch really pads
    bids, batt, _ = E.pad_stack(ids, masks)
    batched = E.encoder_forward(w, bids, batt)
    for r, x in enumerate(ids):
        sids, satt, _ = E.pad_stack([x], [masks[r]])
        solo = E.encoder_forward(w, sids, satt)[0]
        assert np.allclose(solo, batched[r, : len(x)], atol=5e-5), f"row {r}"


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
    bids, batt, bmsk = E.pad_stack(ids, masks)
    hidden = E.encoder_forward(w, bids, batt)
    pooled = np.stack([
        np.concatenate([
            E.first_token_pool(hidden[r], bmsk[r], chems[r]),
            E.first_token_pool(hidden[r], bmsk[r], diss[r]),
        ])
        for r in range(len(ids))
    ])
    assert pooled.shape[1] == 2 * SMALL.hidden_size != 2 * SMALL.embedding_size
    with pytest.raises(ValueError):
        E.pair_head(w, pooled)


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


def _fulltext_frame(ids, masks, ccs, dcs):
    """FULLTEXT_SCHEMA rows (url d<b>) for scorer.fullsample_pooled."""
    import pandas as pd

    return pd.DataFrame({
        "url": [f"d{b}" for b in range(len(ids))],
        "token_ids": ids,
        "entity_mask": masks,
        "chem_codes": ccs,
        "dis_codes": dcs,
        "labels": [[0] * (len(c) * len(d)) for c, d in zip(ccs, dcs)],
        "chem_meshes": [[f"C{x}" for x in c] for c in ccs],
        "dis_meshes": [[f"D{x}" for x in d] for d in dcs],
    })


def test_full_sample_forward_parity():
    """is_full_sample (electra_model.py:711-734): the production loop
    (scorer.fullsample_pooled, then electra.pair_head) == the literal
    per-doc port on each unpadded document at its real pair count."""
    from relation_extraction_cdr_spark.scoring.scorer import fullsample_pooled

    w = E.ElectraWeights.seeded(CONSISTENT, seed=13)
    ids, masks, ccs, dcs = _fulltext_batch(CONSISTENT)
    seen = []
    for keys, pooled in fullsample_pooled(w, _fulltext_frame(ids, masks, ccs, dcs)):
        b = int(keys["url"].iloc[0][1:])
        n_pairs = len(ccs[b]) * len(dcs[b])
        got = E.pair_head(w, pooled)
        assert got.shape == (n_pairs, 2)
        ref = P.forward_full_sample_one(
            w, ids[b], [1] * len(ids[b]), masks[b], ccs[b], dcs[b], n_pairs
        )
        assert np.allclose(got, ref, atol=5e-5), f"doc {b}"
        seen.append(b)
    assert sorted(seen) == [0, 1]


def test_full_sample_label_length_overflow_raises():
    w = E.ElectraWeights.seeded(CONSISTENT, seed=13)
    ids, masks, ccs, dcs = _fulltext_batch(CONSISTENT)
    bids, batt, bmsk = E.pad_stack([ids[1]], [masks[1]])  # doc1: 2 pairs
    hidden = E.encoder_forward(w, bids, batt)
    with pytest.raises(ValueError):
        E.pool_pairs_one(hidden[0], bmsk[0], ccs[1], dcs[1], label_length=1)


def test_ner_forward_parity():
    """NER token head (electra_model.py:767-829): the production
    per-document kernel (ner._ner_margins: electra.encoded, gather at
    the entity-token indices, dense/gelu/out_proj) == per-doc port."""
    import pandas as pd

    from relation_extraction_cdr_spark.operators.ner import _ner_margins, ner_featurize_py

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
    feats = pd.DataFrame([ner_featurize_py(t, ms) for t, ms in texts])
    feats.insert(0, "url", ["d0", "d1"])
    got = _ner_margins(w, head, feats)
    for b, f in feats.iterrows():
        ref = P.ner_forward_one(
            w, head, f["token_ids"], [1] * len(f["token_ids"]), f["entity_token_idx"]
        )
        rows = got[got["url"] == f["url"]].sort_values("span_idx")
        assert list(rows["label"]) == f["labels"]
        assert np.allclose(rows["margin"], ref[:, 1] - ref[:, 0], atol=1e-4), f"doc {b}"
        assert (rows["pred"] == (rows["margin"] > 0)).all()


def test_alps_forward_parity():
    """ALPS 3-way tanh head (electra_model.py:306-411): run-counting
    pooling + branch-ordered concat + tanh; the production per-document
    kernel (scorer._alps_margins: electra.encoded, alps_pooled, then
    AlpsHead.apply) == port for each of the three -1 branches."""
    from relation_extraction_cdr_spark.scoring.scorer import _alps_margins

    w = E.ElectraWeights.seeded(CONSISTENT, seed=16)
    head = E.AlpsHead.seeded(CONSISTENT, seed=17)
    ids, masks, _, _ = _fulltext_batch(CONSISTENT)
    # (ids, mask, chem codes, dis codes): doc0 (code 1 has TWO runs),
    # then doc1 read as 1 chem + 2 diseases and as 2 chems + 1 disease
    docs = [
        (ids[0], masks[0], [1], [2]),
        (ids[1], masks[1], [1], [2, 3]),
        (ids[1], masks[1], [1, 3], [2]),
    ]
    got = _alps_margins(w, head, _fulltext_frame(*map(list, zip(*docs))))
    branch = {  # kind -> (chem, dis, other) code
        "chem_dis": lambda cc, dc: (cc[0], dc[0], -1),
        "other_dis": lambda cc, dc: (-1, dc[0], cc[1]),
        "other_chem": lambda cc, dc: (cc[0], -1, dc[1]),
    }
    assert sorted(zip(got["url"], got["kind"])) == [
        ("d0", "chem_dis"), ("d1", "chem_dis"), ("d1", "other_chem"),
        ("d2", "chem_dis"), ("d2", "other_dis"),
    ]
    for r in got.itertuples(index=False):
        tid, msk, cc, dc = docs[int(r.url[1:])]
        ref = P.alps_forward_one(
            w, head, tid, [1] * len(tid), msk, *branch[r.kind](cc, dc)
        )
        assert np.isclose(r.margin, ref[1] - ref[0], atol=1e-4), (r.url, r.kind)


def test_score_fulltext_spark_matches_local_twin(spark, fixtures, mesh):
    """Distributed is_full_sample scoring == the same kernel
    (scorer._fullsample_margins) run locally one document at a time:
    one row per real pair, margins equal to the single-doc forward
    (padding differences bounded by float32 GEMM noise)."""
    from relation_extraction_cdr_spark.plans.pipeline import (
        _mesh_artifacts,
        extracted_docs,
        with_gold_pairs,
    )
    from relation_extraction_cdr_spark.scoring.scorer import (
        _fullsample_margins,
        document_fulltext,
        score_fulltext,
    )

    import pandas as pd

    cfg = E.ElectraConfig(
        vocab_size=30524, embedding_size=32, hidden_size=32,
        num_hidden_layers=2, num_attention_heads=2, intermediate_size=64,
        max_position_embeddings=512,
    )
    pages, _, gold = fixtures
    gd, max_words = _mesh_artifacts(mesh, "type")
    ft = document_fulltext(
        with_gold_pairs(extracted_docs(pages.limit(10)), gold), gd, max_words
    )
    local_rows = ft.collect()
    assert local_rows

    w = E.ElectraWeights.seeded(cfg, seed=6)
    expect: dict[tuple, tuple] = {}
    for r in local_rows:
        one = _fullsample_margins(w, pd.DataFrame([r.asDict()]))
        assert len(one) == len(r["labels"])
        for x in one.itertuples(index=False):
            expect[(x.url, x.chem_mesh, x.dis_mesh)] = (int(x.label), float(x.margin))

    got = score_fulltext(ft.repartition(4), config=cfg, seed=6).collect()
    assert len(got) == len(expect) > 0
    for row in got:
        lab, margin = expect[(row["url"], row["chem_mesh"], row["dis_mesh"])]
        assert row["label"] == lab
        assert abs(row["margin"] - margin) < 5e-5, (row["url"], row["chem_mesh"])

    # the margins are BIT-EQUAL to the single-doc kernel under any
    # partition layout — the determinism contract the gate's micro-unit
    # quantization needs
    for parts in (2, 5):
        exact = score_fulltext(ft.repartition(parts), config=cfg, seed=6).collect()
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


import os as _os  # noqa: E402
import re as _re  # noqa: E402

import pytest as _pytest  # noqa: E402


@_pytest.mark.skipif(
    not _os.path.isdir("/root/reference"), reason="reference tree absent"
)
def test_cls_pool_dead_in_reference():
    """Why the CLS-pool head is not ported (the J9-style pin):
    ElectraModelSentenceClassification (electra_model.py:414-529) is
    IMPORTED by the trainers but never CONSTRUCTED anywhere in the
    reference — neither a direct call nor a from_pretrained on the
    class — so no reference entry point reaches its forward."""
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


def test_encoder_batching_bit_exact_at_default_config():
    """The same contract at the engine's own shape (DEFAULT_CONFIG, the
    12-layer encoder electra.encoded runs), up to the 512-token window
    and the ENCODER_BATCH width, under whichever OpenBLAS kernel this
    process loaded: the partition invariance of electra.encoded rests on
    it."""
    import numpy as np

    from relation_extraction_cdr_spark.scoring.electra import (
        DEFAULT_CONFIG,
        ENCODER_BATCH,
        encoder_forward,
        resolve_weights,
    )

    w = resolve_weights(DEFAULT_CONFIG, 0)
    rng = np.random.default_rng(11)
    for T in (29, 149, 512):
        ids = rng.integers(1, 30000, size=(ENCODER_BATCH, T)).astype(np.int64)
        att = np.ones((ENCODER_BATCH, T), np.float32)
        solo = [encoder_forward(w, ids[b : b + 1], att[b : b + 1])[0]
                for b in range(ENCODER_BATCH)]
        for B in (2, ENCODER_BATCH):
            batch = encoder_forward(w, ids[:B], att[:B])
            for b in range(B):
                assert (solo[b] == batch[b]).all(), f"T={T} B={B} row {b} not bit-identical"


def test_score_fulltext_batched_bit_identical(spark, fixtures, mesh):
    """score_fulltext / score_alps_3way emit BIT-IDENTICAL values on one
    partition and under different partitionings — the q87/q89
    hash-stability contract for the equal-length-grouped batching
    path."""
    from relation_extraction_cdr_spark.plans.pipeline import (
        _mesh_artifacts,
        extracted_docs,
        with_gold_pairs,
    )
    from relation_extraction_cdr_spark.scoring.electra import ElectraConfig
    from relation_extraction_cdr_spark.scoring.scorer import (
        document_fulltext,
        score_alps_3way,
        score_fulltext,
    )

    pages, _, _ = fixtures
    gd, max_words = _mesh_artifacts(mesh, "type")
    ft = document_fulltext(
        with_gold_pairs(extracted_docs(pages), None), gd, max_words
    ).persist()
    cfg = ElectraConfig(
        vocab_size=30524, embedding_size=32, hidden_size=32,
        num_hidden_layers=2, num_attention_heads=2, intermediate_size=64,
    )

    def k87(x):
        return (x["url"], x["chem_mesh"], x["dis_mesh"])

    ref = {k87(x): (x["logit_neg"], x["logit_pos"], x["margin"])
           for x in score_fulltext(ft.coalesce(1), config=cfg, seed=3).collect()}
    assert len(ref) > 5
    got = {k87(x): (x["logit_neg"], x["logit_pos"], x["margin"])
           for x in score_fulltext(ft.repartition(7), config=cfg, seed=3).collect()}
    assert got == ref, "repartition(7) not bit-identical"

    def k89(x):
        return (x["url"], x["kind"], x["e1"], x["e2"])

    ref_a = {k89(x): x["margin"]
             for x in score_alps_3way(ft.coalesce(1), config=cfg, seed=3, head_seed=5).collect()}
    got_a = {k89(x): x["margin"]
             for x in score_alps_3way(ft.repartition(5), config=cfg, seed=3, head_seed=5).collect()}
    assert got_a == ref_a and len(ref_a) > 5
    ft.unpersist()


def test_encoder_batch_size_never_changes_an_output(monkeypatch):
    """Every consumer of the one encoder loop (electra.encoded) emits
    bit-identical rows at ENCODER_BATCH 1, 3 and 8: fullsample margins,
    ALPS pooling + head, NER gather + head and first-token pooling, over
    mixed-length documents whose largest equal-length group (11) exceeds
    every batch size.  No SparkSession."""
    import pandas as pd

    from relation_extraction_cdr_spark.operators.ner import _ner_margins
    from relation_extraction_cdr_spark.scoring.scorer import (
        _alps_margins,
        _fullsample_margins,
    )
    from relation_extraction_cdr_spark.scoring.train import _first_token_features

    rng = np.random.default_rng(21)
    lengths = [12] * 11 + [17] * 4 + [9, 23, 30, 17]
    docs = []
    for b, n in enumerate(lengths):
        ids = [101, *rng.integers(1000, 30000, n - 2).tolist(), 102]
        mask = [0] * n
        for code, lo in ((1, 1), (2, 4), (3, 6), (1, 8)):  # code 1: two runs
            mask[lo] = code
        ccs, dcs = ([1, 3], [2]) if b % 2 else ([1], [2, 3])
        docs.append(dict(url=f"d{b}", token_ids=ids, entity_mask=mask,
                         chem_codes=ccs, dis_codes=dcs))
    ft = pd.DataFrame([
        {**d, "labels": [b % 2] * (len(d["chem_codes"]) * len(d["dis_codes"])),
         "chem_meshes": [f"C{c}" for c in d["chem_codes"]],
         "dis_meshes": [f"D{c}" for c in d["dis_codes"]]}
        for b, d in enumerate(docs)
    ])
    ner = pd.DataFrame([
        {"url": d["url"], "token_ids": d["token_ids"],
         "entity_token_idx": [1, 4, 6, 8], "labels": [0, 1, 1, 0]}
        for d in docs
    ])
    feats = pd.DataFrame([
        {"url": d["url"], "chem_mesh": "C", "dis_mesh": "D", "label": b % 2,
         "evidence_type": "intra", "token_ids": d["token_ids"],
         "entity_mask": d["entity_mask"], "chem_code": 1,
         "dis_code": 2 if b % 5 else 9}  # every 5th row is degenerate
        for b, d in enumerate(docs)
    ])
    w = E.ElectraWeights.seeded(CONSISTENT, seed=18)
    alps_head = E.AlpsHead.seeded(CONSISTENT, seed=19)
    ner_head = E.NerHead.seeded(CONSISTENT, seed=20)

    def canon(df):
        return [
            tuple(v.tobytes() if isinstance(v, np.ndarray) else v for v in row)
            for row in df.itertuples(index=False)
        ]

    forward = E.encoder_forward
    rows_per_call: list[int] = []

    def counting_forward(w_, ids, att):
        rows_per_call.append(len(ids))
        return forward(w_, ids, att)

    monkeypatch.setattr(E, "encoder_forward", counting_forward)
    outs = {}
    for batch in (1, 3, 8):
        monkeypatch.setattr(E, "ENCODER_BATCH", batch)
        rows_per_call.clear()
        outs[batch] = [
            canon(_fullsample_margins(w, ft)),
            canon(_alps_margins(w, alps_head, ft)),
            canon(_ner_margins(w, ner_head, ner)),
            canon(_first_token_features(w, feats)),
        ]
        assert max(rows_per_call) == batch
    assert len(outs[8][2]) == 4 * len(docs) and len(outs[8][3]) == len(docs)
    assert outs[1] == outs[3] == outs[8]
