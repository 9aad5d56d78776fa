"""Distributed pair-head training (SURVEY §2.9 M4/M5): exact parity
with the single-process literal twin, parallelism invariance, and the
reference optimizer/loss quirks (optim.py, cdr_trainer.py:91,148-158).
"""

from __future__ import annotations

import numpy as np
import pytest

from relation_extraction_cdr_spark.plans.pipeline import training_features
from relation_extraction_cdr_spark.scoring.train import (
    AdamWRef,
    BertAdamRef,
    HeadParams,
    POOLED_SCHEMA,
    Q_FEAT,
    Q_GRAD,
    head_grad_ints,
    pool_features,
    train_pair_head,
    train_pair_head_local,
)


def _synth(n=240, two_e=16, seed=11):
    rng = np.random.default_rng(seed)
    # separable-ish: label correlates with the first feature direction
    feat = rng.normal(0, 1, (n, two_e)).astype(np.float32)
    labels = (feat[:, 0] + 0.3 * rng.normal(size=n) > 0).astype(np.int64)
    return feat, labels


def _pooled_df(spark, feat, labels, partitions=5):
    rows = [
        (f"u{i}", "C1", "D1", int(labels[i]), [float(x) for x in feat[i]])
        for i in range(len(labels))
    ]
    return spark.createDataFrame(rows, POOLED_SCHEMA).repartition(partitions)


def _params_equal(a: HeadParams, b: HeadParams) -> bool:
    return all(
        np.array_equal(pa, pb)
        for (_, pa), (_, pb) in zip(a.tensors(), b.tensors())
    )


class TestSparkVsLiteral:
    def test_adamw_exact_parity(self, spark):
        feat, labels = _synth()
        df = _pooled_df(spark, feat, labels, partitions=5)
        res_s = train_pair_head(df, epochs=3, optimizer="adamw", ignore_index=None, seed=4)
        res_l = train_pair_head_local(feat, labels, epochs=3, optimizer="adamw", ignore_index=None, seed=4)
        assert _params_equal(res_s.params, res_l.params)
        assert res_s.losses == res_l.losses
        assert res_s.steps == res_l.steps == 3

    def test_bertadam_exact_parity(self, spark):
        feat, labels = _synth(seed=12)
        df = _pooled_df(spark, feat, labels, partitions=3)
        res_s = train_pair_head(df, epochs=3, optimizer="bertadam", ignore_index=None, seed=4)
        res_l = train_pair_head_local(feat, labels, epochs=3, optimizer="bertadam", ignore_index=None, seed=4)
        assert _params_equal(res_s.params, res_l.params)
        assert res_s.losses == res_l.losses

    def test_parallelism_invariance(self, spark):
        """The north-rule N-vs-4N criterion at the training job: the
        SAME input at different partitionings yields bit-identical
        weights (integer gradient reductions are order-invariant)."""
        feat, labels = _synth(seed=13)
        r1 = train_pair_head(
            _pooled_df(spark, feat, labels, partitions=2),
            epochs=2, ignore_index=None, seed=0,
        )
        r2 = train_pair_head(
            _pooled_df(spark, feat, labels, partitions=13),
            epochs=2, ignore_index=None, seed=0,
        )
        assert _params_equal(r1.params, r2.params)
        assert r1.losses == r2.losses

    def test_loss_decreases(self, spark):
        feat, labels = _synth(n=400, seed=14)
        res = train_pair_head_local(
            feat, labels, epochs=250, optimizer="adamw", ignore_index=None, seed=1
        )
        assert res.losses[-1] < res.losses[0]
        # the separable synthetic task should become better than chance
        # (measured: acc 0.81 at 250 full-batch epochs, lr 5e-4)
        hp = res.params
        z1 = feat @ hp.w1 + hp.b1
        from relation_extraction_cdr_spark.scoring.electra import gelu

        z2 = gelu(z1) @ hp.w2 + hp.b2
        acc = ((z2[:, 1] > z2[:, 0]).astype(int) == labels).mean()
        assert acc > 0.7


class TestPlan:
    def test_grad_allreduce_single_exchange(self, spark):
        """The gradient fold is allreduce-as-aggregation: ONE exchange
        keyed on chunk (shuffle volume n_partitions × n_chunks rows,
        independent of corpus size), no joins, and the per-partition
        kernel is a single Arrow python stage."""
        from relation_extraction_cdr_spark.plans.audit import plan_facts
        from relation_extraction_cdr_spark.scoring.train import (
            grad_agg_frame,
            head_grad_rows,
        )

        feat, labels = _synth(n=64, seed=19)
        rows = [
            (f"u{i}", "C1", "D1", int(labels[i]), [float(x) for x in feat[i]])
            for i in range(len(labels))
        ]
        df = spark.createDataFrame(rows, POOLED_SCHEMA)  # no input repartition
        hp = HeadParams.seeded(feat.shape[1], seed=0)
        facts = plan_facts(grad_agg_frame(head_grad_rows(df, hp, None)))
        assert facts.exchanges == 1
        assert facts.broadcast_hash_joins == 0
        assert facts.sort_merge_joins == 0
        assert facts.cartesian_products == 0


class TestKernel:
    def test_split_additivity(self):
        """kernel(A) + kernel(B) == kernel(A ++ B) — the property that
        makes any partitioning produce the same global sums."""
        feat, labels = _synth(n=100, seed=15)
        hp = HeadParams.seeded(feat.shape[1], seed=2)
        fa, la, va = head_grad_ints(feat[:37], labels[:37], hp, None)
        fb, lb, vb = head_grad_ints(feat[37:], labels[37:], hp, None)
        fw, lw, vw = head_grad_ints(feat, labels, hp, None)
        assert np.array_equal(fa + fb, fw)
        assert la + lb == lw and va + vb == vw

    def test_matches_float64_backprop(self):
        """Quantized-integer gradient ≈ unquantized float64 backprop
        (bounds the quantization error, proving the kernel computes the
        right derivative, not just a self-consistent one)."""
        from relation_extraction_cdr_spark.scoring.electra import gelu
        from relation_extraction_cdr_spark.scoring.train import _gelu_prime

        feat, labels = _synth(n=256, seed=16)
        n, two_e = feat.shape
        hp = HeadParams.seeded(two_e, seed=3)
        flat, loss_q, nv = head_grad_ints(feat, labels, hp, None)
        g = flat / (Q_FEAT * Q_GRAD) / nv

        f = feat.astype(np.float64)
        w1, w2 = hp.w1.astype(np.float64), hp.w2.astype(np.float64)
        z1 = f @ w1 + hp.b1
        a = gelu(z1)
        z2 = a @ w2 + hp.b2
        ez = np.exp(z2 - z2.max(1, keepdims=True))
        p = ez / ez.sum(1, keepdims=True)
        g2 = p.copy()
        g2[np.arange(n), labels] -= 1
        dz1 = (g2 @ w2.T) * _gelu_prime(z1)
        ref = np.concatenate(
            [(f.T @ dz1).ravel(), dz1.sum(0), (a.T @ g2).ravel(), g2.sum(0)]
        ) / n
        assert np.abs(g - ref).max() < 1e-4
        loss64 = -np.log(p[np.arange(n), labels]).mean()
        assert abs(loss_q / (1 << 16) / nv - loss64) < 1e-4

    def test_ignore_index_reference_quirk(self):
        """CrossEntropyLoss(ignore_index=pad_token_id) with pad id 0
        (cdr_trainer.py:91): label-0 rows contribute NOTHING — the
        gradient over a mixed batch equals the gradient over only its
        positive rows."""
        feat, labels = _synth(n=120, seed=17)
        hp = HeadParams.seeded(feat.shape[1], seed=5)
        f_ign, l_ign, v_ign = head_grad_ints(feat, labels, hp, 0)
        pos = labels == 1
        f_pos, l_pos, v_pos = head_grad_ints(feat[pos], labels[pos], hp, None)
        assert np.array_equal(f_ign, f_pos)
        assert l_ign == l_pos and v_ign == v_pos == int(pos.sum())

    def test_all_ignored_skips_step(self):
        feat, _ = _synth(n=50, seed=18)
        labels = np.zeros(50, np.int64)
        res = train_pair_head_local(feat, labels, epochs=2, ignore_index=0, seed=6)
        assert res.steps == 0
        assert all(np.isnan(v) for v in res.losses)
        assert _params_equal(res.params, HeadParams.seeded(feat.shape[1], seed=6))


class TestOptimizers:
    def test_adamw_first_step_closed_form(self):
        """transformers-2.11 AdamW, step 1: m=(1-b1)g, v=(1-b2)g²,
        bias-corrected step_size => update = lr * g/(|g|+eps') with the
        sqrt(1-b2)/(1-b1) correction."""
        hp = HeadParams(
            np.ones((2, 2), np.float32), np.zeros(2, np.float32),
            np.ones((2, 2), np.float32), np.zeros(2, np.float32),
        )
        g = {"w1": np.full((2, 2), 0.5, np.float32), "b1": np.zeros(2, np.float32),
             "w2": np.zeros((2, 2), np.float32), "b2": np.zeros(2, np.float32)}
        opt = AdamWRef()
        opt.step(hp, g)
        import math

        m = 0.1 * 0.5
        v = 0.001 * 0.25
        step_size = 5e-4 * math.sqrt(1 - 0.999) / (1 - 0.9)
        expected = 1.0 - step_size * m / (math.sqrt(v) + 1e-8)
        assert np.allclose(hp.w1, expected, atol=1e-6)
        assert np.array_equal(hp.w2, np.ones((2, 2), np.float32))  # zero grad + wd 0

    def test_bertadam_step0_zero_lr(self):
        """optim.py:134-141: state['step'] starts at 0 and is used in
        the schedule BEFORE increment — warmup_linear(0)=0, so the
        first step moves no weight but DOES update the moments."""
        hp = HeadParams.seeded(4, seed=7)
        w1_before = hp.w1.copy()
        opt = BertAdamRef()
        g = {n: np.full_like(p, 0.25) for n, p in hp.tensors()}
        opt.step(hp, g)
        assert np.array_equal(hp.w1, w1_before)
        assert opt.state["w1"]["m"].max() > 0  # moments updated
        opt.step(hp, g)
        assert not np.array_equal(hp.w1, w1_before)  # step 1 moves

    def test_bertadam_weight_decay_all_params(self):
        """optim4GPU's no_decay test is full-string equality — every
        real param decays at 0.01, including biases (optim.py:157-160).
        With zero gradient and steps past warmup, the only movement is
        -lr_sched * 0.01 * p."""
        hp = HeadParams(
            np.zeros((2, 2), np.float32), np.full(2, 2.0, np.float32),
            np.zeros((2, 2), np.float32), np.zeros(2, np.float32),
        )
        opt = BertAdamRef()
        for st in opt.state.values():
            pass
        zero = {n: np.zeros_like(p) for n, p in hp.tensors()}
        opt.step(hp, zero)  # step 0: lr 0, nothing happens
        assert hp.b1[0] == 2.0
        opt.step(hp, zero)  # step 1: lr = 5e-4 * (1/800)/0.1
        lr1 = 5e-4 * ((1 / 800) / 0.1)
        assert np.allclose(hp.b1, 2.0 - lr1 * 0.01 * 2.0, atol=1e-9)

    def test_bertadam_per_tensor_clip(self):
        """clip_grad_norm_(p, 1.0) inside step (optim.py:113-114):
        a gradient of 2-norm 10 is scaled by ~1/10 before the moment
        update; a small gradient is untouched."""
        hp = HeadParams.seeded(4, seed=8)
        opt = BertAdamRef()
        big = np.zeros((4, 4), np.float32)
        big[0, 0] = 10.0
        g = {"w1": big, "b1": np.zeros(4, np.float32),
             "w2": np.zeros((4, 2), np.float32), "b2": np.zeros(2, np.float32)}
        opt.step(hp, g)
        clipped = 10.0 * (1.0 / (10.0 + 1e-6))
        assert np.isclose(opt.state["w1"]["m"][0, 0], 0.1 * clipped, atol=1e-6)
        small = {k: v * 0.001 for k, v in g.items()}
        opt2 = BertAdamRef()
        opt2.step(HeadParams.seeded(4, seed=8), small)
        assert np.isclose(opt2.state["w1"]["m"][0, 0], 0.1 * 0.01, atol=1e-8)


class TestSchedules:
    """reference optim.py:15-34: all three lr schedules with the
    literal x >= warmup branch quirks."""

    def test_schedule_values_pinned(self):
        import math

        from relation_extraction_cdr_spark.scoring.train import (
            SCHEDULES,
            warmup_constant,
            warmup_cosine,
            warmup_linear,
        )

        assert set(SCHEDULES) == {"warmup_cosine", "warmup_constant", "warmup_linear"}
        # shared warmup ramp: x/warmup below the knee, 0 at x=0
        for f in (warmup_linear, warmup_cosine, warmup_constant):
            assert f(0.0, 0.1) == 0.0
            assert f(0.05, 0.1) == 0.5
        # linear: 1-x past warmup (goes NEGATIVE past x=1, quirk kept)
        assert warmup_linear(0.5, 0.1) == 0.5
        assert warmup_linear(1.25, 0.1) == -0.25
        # constant: exactly 1.0 from the knee on
        assert warmup_constant(0.1, 0.1) == 1.0
        assert warmup_constant(0.9, 0.1) == 1.0
        # cosine: 0.5*(1+cos(pi*x)) from the knee — DISCONTINUOUS at the
        # knee (ramp tends to 1.0, curve starts at cos(pi*warmup) level)
        assert warmup_cosine(0.1, 0.1) == 0.5 * (1.0 + math.cos(math.pi * 0.1))
        assert abs(warmup_cosine(0.5, 0.1) - 0.5) < 1e-12
        assert warmup_cosine(1.0, 0.1) == 0.5 * (1.0 + math.cos(math.pi))

    def test_bertadam_schedule_option(self):
        """BertAdamRef(schedule=...) drives the lr through the chosen
        schedule: with zero grads + weight decay the movement at step 1
        is exactly -lr*sched(1/t_total)*0.01*p for each schedule."""
        from relation_extraction_cdr_spark.scoring.train import SCHEDULES

        for name, fn in SCHEDULES.items():
            hp = HeadParams(
                np.zeros((2, 2), np.float32), np.full(2, 2.0, np.float32),
                np.zeros((2, 2), np.float32), np.zeros(2, np.float32),
            )
            opt = BertAdamRef(schedule=name)
            zero = {n: np.zeros_like(p) for n, p in hp.tensors()}
            opt.step(hp, zero)  # step 0: sched(0)=0, no movement
            assert hp.b1[0] == 2.0, name
            opt.step(hp, zero)
            lr1 = 5e-4 * fn(1 / 800, 0.1)
            assert np.allclose(hp.b1, 2.0 - lr1 * 0.01 * 2.0, atol=1e-9), name


class TestPoolFeatures:
    @pytest.fixture(scope="class")
    def tiny_cfg(self):
        from relation_extraction_cdr_spark.scoring.electra import ElectraConfig

        return ElectraConfig(
            vocab_size=30524, embedding_size=32, hidden_size=32,
            num_hidden_layers=2, num_attention_heads=2, intermediate_size=64,
        )

    def test_pooled_matches_direct_numpy(self, spark, fixtures, mesh, tiny_cfg):
        """pool_features (mapInPandas) == encoder+first_token_pool run
        directly on the collected feature rows."""
        from relation_extraction_cdr_spark.scoring.electra import (
            ElectraWeights,
            encoder_forward,
            first_token_pool,
        )

        pages, _, gold = fixtures
        feats = training_features(pages.limit(12), mesh, gold)
        pooled = pool_features(feats, config=tiny_cfg, seed=9).collect()
        assert len(pooled) > 0

        w = ElectraWeights.seeded(tiny_cfg, seed=9)
        hs = tiny_cfg.hidden_size
        raw = {
            (r["url"], r["chem_mesh"], r["dis_mesh"]): r
            for r in feats.collect()
        }
        for row in pooled:
            src = raw[(row["url"], row["chem_mesh"], row["dis_mesh"])]
            ids = np.array([src["token_ids"]], np.int64)
            att = np.ones_like(ids, np.float32)
            hidden = encoder_forward(w, ids, att)[0]
            msk = np.array(src["entity_mask"], np.int64)
            c = first_token_pool(hidden, msk, int(src["chem_code"]))
            d = first_token_pool(hidden, msk, int(src["dis_code"]))
            # degenerate rows (either code absent) pool to an all-zero
            # concat, in pool_features and here alike
            expect = np.zeros(2 * hs, np.float32)
            if c is not None and d is not None:
                expect[:hs] = c
                expect[hs:] = d
            got = np.array(row["feat"], np.float32)
            assert np.allclose(got, expect, atol=2e-5), (row["url"], src["chem_mesh"])

    def test_doc_level_pooling_matches_kernel_and_trains(
        self, spark, fixtures, mesh, tiny_cfg
    ):
        """The levi trainer's document granularity
        (cdr_trainer_levi.py:316-390): pool_fulltext_features ==
        scorer.fullsample_pooled run locally one document at a time
        (bit-equal), and a head trained on the
        doc-level rows is bit-identical across parallelism — the same
        allreduce contract as the sentence-level path."""
        import pandas as pd

        from relation_extraction_cdr_spark.plans.pipeline import (
            _mesh_artifacts,
            extracted_docs,
            with_gold_pairs,
        )
        from relation_extraction_cdr_spark.scoring.electra import ElectraWeights
        from relation_extraction_cdr_spark.scoring.scorer import (
            document_fulltext,
            fullsample_pooled,
        )
        from relation_extraction_cdr_spark.scoring.train import (
            pool_fulltext_features,
        )

        pages, _, gold = fixtures
        gd, max_words = _mesh_artifacts(mesh, "type")
        ft = document_fulltext(
            with_gold_pairs(extracted_docs(pages.limit(10)), gold), gd, max_words
        )
        local = ft.collect()
        assert local

        w = ElectraWeights.seeded(tiny_cfg, seed=7)
        expect: dict[tuple, tuple] = {}
        for r in local:
            ((keys, pooled),) = fullsample_pooled(w, pd.DataFrame([r.asDict()]))
            assert len(keys) == len(r["labels"])
            for k, x in enumerate(keys.itertuples(index=False)):
                expect[(x.url, x.chem_mesh, x.dis_mesh)] = (int(x.label), pooled[k].copy())

        got = pool_fulltext_features(ft.repartition(3), config=tiny_cfg, seed=7).collect()
        assert len(got) == len(expect) > 0
        for row in got:
            lab, feat = expect[(row["url"], row["chem_mesh"], row["dis_mesh"])]
            assert row["label"] == lab
            assert np.array_equal(np.array(row["feat"], np.float32), feat)

        pooled_df = pool_fulltext_features(ft, config=tiny_cfg, seed=7).cache()
        try:
            r2 = train_pair_head(pooled_df.repartition(2), epochs=2, seed=5)
            r5 = train_pair_head(pooled_df.repartition(5), epochs=2, seed=5)
            for (n1, t1), (n2, t2) in zip(r2.params.tensors(), r5.params.tensors()):
                assert n1 == n2 and np.array_equal(t1, t2)
        finally:
            pooled_df.unpersist()

    def test_pooling_layout_independent(self, spark, fixtures, mesh, tiny_cfg):
        """Equal-length-grouped encoding (electra.encoded) makes BOTH
        training pooling paths layout-independent: every pooled feature
        is bit-identical to its single-partition result at any
        partitioning or Arrow-chunk layout.  This is the property that lets the q93
        lifecycle oracle pin exact integers regardless of how the
        driver partitions the features frame."""
        from relation_extraction_cdr_spark.plans.pipeline import (
            _mesh_artifacts,
            extracted_docs,
            with_gold_pairs,
        )
        from relation_extraction_cdr_spark.scoring.scorer import document_fulltext
        from relation_extraction_cdr_spark.scoring.train import (
            pool_fulltext_features,
        )

        pages, _, gold = fixtures
        feats = training_features(pages.limit(10), mesh, gold)

        def as_map(rows):
            return {
                (r["url"], r["chem_mesh"], r["dis_mesh"]): (
                    r["label"],
                    np.array(r["feat"], np.float32),
                )
            for r in rows}

        base = as_map(
            pool_features(feats.coalesce(1), config=tiny_cfg, seed=9).collect()
        )
        assert base
        for layout in (
            pool_features(feats.repartition(7), config=tiny_cfg, seed=9),
            pool_features(feats.repartition(2), config=tiny_cfg, seed=9),
        ):
            got = as_map(layout.collect())
            assert got.keys() == base.keys()
            for k, (lab, feat) in got.items():
                assert lab == base[k][0]
                assert np.array_equal(feat, base[k][1]), k

        gd, max_words = _mesh_artifacts(mesh, "type")
        ft = document_fulltext(
            with_gold_pairs(extracted_docs(pages.limit(10)), gold), gd, max_words
        )
        base_ft = as_map(
            pool_fulltext_features(ft.coalesce(1), config=tiny_cfg, seed=7).collect()
        )
        assert base_ft
        got_ft = as_map(
            pool_fulltext_features(ft.repartition(5), config=tiny_cfg, seed=7).collect()
        )
        assert got_ft.keys() == base_ft.keys()
        for k, (lab, feat) in got_ft.items():
            assert lab == base_ft[k][0]
            assert np.array_equal(feat, base_ft[k][1]), k

    def test_end_to_end_train_on_cdr_features(self, spark, fixtures, mesh, tiny_cfg):
        """The full M4/M5 path: corpus → features → frozen-encoder
        pooling → distributed head training; standard-CE mode learns
        (loss decreases), and the run is reproducible bit-for-bit."""
        pages, _, gold = fixtures
        feats = training_features(pages.limit(25), mesh, gold)
        pooled = pool_features(feats, config=tiny_cfg, seed=9).cache()
        try:
            n = pooled.count()
            assert n > 4
            res1 = train_pair_head(
                pooled, epochs=4, optimizer="adamw", ignore_index=None, seed=2,
                persist=False,
            )
            assert res1.steps == 4
            assert res1.losses[-1] < res1.losses[0] * 1.05  # moves, doesn't blow up
            res2 = train_pair_head(
                pooled.repartition(7), epochs=4, optimizer="adamw",
                ignore_index=None, seed=2, persist=False,
            )
            assert _params_equal(res1.params, res2.params)
            assert res1.losses == res2.losses
        finally:
            pooled.unpersist()


class TestLifecycle:
    """train -> per-epoch evaluate -> best-F1 checkpoint -> serve from
    the reloaded npz (the q93 gate's machinery, in isolation)."""

    def test_with_head_roundtrips_and_keeps_encoder(self, tmp_path):
        from relation_extraction_cdr_spark.scoring.checkpoint import (
            load_checkpoint,
            save_checkpoint,
            with_head,
        )
        from relation_extraction_cdr_spark.scoring.electra import (
            DEFAULT_CONFIG,
            ElectraWeights,
        )

        base = ElectraWeights.seeded(DEFAULT_CONFIG, seed=4)
        hp = HeadParams.seeded(2 * DEFAULT_CONFIG.embedding_size, seed=7)
        w = with_head(base, hp)
        # encoder untouched, head replaced
        for k in base.p:
            if not k.startswith("head."):
                assert np.array_equal(w.p[k], base.p[k])
        back = HeadParams.from_weights(w)
        assert _params_equal(back, hp)
        # npz roundtrip is bit-exact
        path = tmp_path / "w.npz"
        save_checkpoint(w, path)
        again = HeadParams.from_weights(load_checkpoint(path, DEFAULT_CONFIG))
        assert _params_equal(again, hp)

    def test_on_epoch_hook_and_best_tracking(self, spark, tmp_path):
        from relation_extraction_cdr_spark.scoring.checkpoint import (
            BestCheckpoint,
            load_checkpoint,
            with_head,
        )
        from relation_extraction_cdr_spark.scoring.electra import (
            DEFAULT_CONFIG,
            ElectraWeights,
        )
        from relation_extraction_cdr_spark.scoring.train import head_predict

        feat, labels = _synth(n=120, two_e=16)
        df = _pooled_df(spark, feat, labels, partitions=4)
        base = ElectraWeights.seeded(
            DEFAULT_CONFIG, seed=4
        )  # head shape mismatch vs two_e=16 is irrelevant: with_head replaces it
        best = BestCheckpoint(tmp_path / "best.npz")
        seen = []

        def f1(hp):
            p = head_predict(feat, hp)
            tp = int(((p == 1) & (labels == 1)).sum())
            fp = int(((p == 1) & (labels == 0)).sum())
            fn = int(((p == 0) & (labels == 1)).sum())
            d = 2 * tp + fp + fn
            return (2 * tp / d) if d else 0.0

        def hook(ep, hp):
            seen.append(ep)
            best.update(ep, {"f1-score": f1(hp)}, with_head(base, hp))

        res = train_pair_head(
            df, epochs=6, optimizer="adamw", ignore_index=None, seed=3,
            lr=5e-3, on_epoch=hook,
        )
        assert seen == list(range(6))
        assert best.best_epoch is not None
        # the checkpointed head reproduces the tracked best F1 exactly
        hp_best = HeadParams.from_weights(
            load_checkpoint(best.path, DEFAULT_CONFIG)
        )
        assert f1(hp_best) == best.best_results["f1-score"]
        # and training actually moved the weights
        assert not _params_equal(hp_best, HeadParams.seeded(16, seed=3)) or res.steps == 0

    def test_score_pooled_matches_head_predict(self, spark):
        from relation_extraction_cdr_spark.scoring.train import (
            head_predict,
            score_pooled,
        )

        feat, labels = _synth(n=90, two_e=16, seed=5)
        hp = HeadParams.seeded(16, seed=1)
        df = _pooled_df(spark, feat, labels, partitions=7)
        got = {
            r["url"]: r["pred"] for r in score_pooled(df, hp).collect()
        }
        want = head_predict(feat, hp)
        assert len(got) == len(labels)
        for i in range(len(labels)):
            assert got[f"u{i}"] == int(want[i])

    def test_lr_override_parity_with_local_twin(self, spark):
        feat, labels = _synth(n=100, two_e=16, seed=8)
        df = _pooled_df(spark, feat, labels, partitions=3)
        dist = train_pair_head(
            df, epochs=4, optimizer="adamw", ignore_index=None, seed=6, lr=2e-3
        )
        loc = train_pair_head_local(
            feat, labels, epochs=4, optimizer="adamw", ignore_index=None,
            seed=6, lr=2e-3,
        )
        assert _params_equal(dist.params, loc.params)
        assert dist.losses == loc.losses
