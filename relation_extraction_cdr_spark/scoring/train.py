"""Distributed entity-pair-head training (SURVEY §2.9 M4/M5, closed).

The reference trains the whole ELECTRA + pair head single-process
(reference cdr_trainer.py:95-168): per shuffled batch of 8, forward,
``CrossEntropyLoss(ignore_index=tokenizer.pad_token_id)``, backward,
``AdamW(lr=5e-4, eps=1e-8)`` step.  Its alternative optimizer is the
BertAdam of reference optim.py:35-148 (``optim4GPU`` :152-164).

Round 1/2 declared M4/M5 out of scope (no shipped weights).  This
module closes them the way a Spark engine should: **data-parallel
full-batch training of the pair head over frozen encoder features**,
with the reference's exact update rules, made *bitwise deterministic
across parallelism levels* — the property the north rule's two-cluster
criterion actually needs (same job, N and 4N cores, identical weights).

Design (and why it scales to 10^12 docs / 1000 executors):

1. ``pool_features``: one distributed pass over FEATURES_SCHEMA rows
   runs the frozen numpy ELECTRA encoder (scoring/electra.py) and
   first-token span pooling (reference electra_model.py:618-624) inside
   ``mapInPandas`` — the expensive O(corpus) stage, embarrassingly
   parallel, executed once and persisted.  Output: one ``[2H]`` float
   feature row per candidate pair.  Pooling batches are EQUAL-LENGTH-
   GROUPED (electra.length_grouped_batches), so every pooled feature
   is bit-identical to its batch_size=1 result at any batch size,
   partitioning, or Arrow-chunk layout — the invariance guarantee
   below therefore holds END-TO-END from raw features, not merely
   downstream of a fixed pooling layout.
2. ``head_grad_rows`` + ``aggregate_grads``: per epoch, head params are
   broadcast (plan literals via closure → task binary), each partition
   computes its gradient contribution and the driver applies the
   optimizer step.  The gradient reduce is the canonical
   "allreduce-as-aggregation" shape: per-partition partial sums →
   fixed-size chunk rows → one ``groupBy(chunk)`` fold — shuffle volume
   is ``num_partitions × P`` longs (P = head param count), independent
   of corpus size.
3. **Exactness**: per-row activations/gradients are quantized to
   fixed-point int64 *before any cross-row reduction*; all reductions
   are integer matmuls / integer sums (associative + commutative →
   partition- and order-invariant), and the cross-partition fold runs
   in ``decimal(38,0)`` so Spark's sum cannot overflow.  The same
   kernel run single-process on the concatenated rows produces the
   *identical* integers — pytest proves Spark == literal loop, and
   local[8] == local[32] bit-for-bit.

   Overflow budget: per-partition int64 accumulation of
   ``Q_FEAT × Q_GRAD`` products bounds at ``|feat|·|dz| · 2^(14+16)``
   ≈ 2^40 per row pair-product (|feat|≲2^7, |dz|≲4), so a single
   partition holds ≈ 2^22 ≈ 4M rows within 2^63 headroom — size
   executor partitions ≤ ~1M rows (they are: Arrow batches are 4096 and
   partitions target ≤ 128 MB); the cross-partition sum is
   decimal(38,0) (10^38 ≈ 2^126), safe past 10^12 rows.

   Why even the FORWARD matmuls are integer: float32 GEMM is not
   bit-stable across matrix shapes (BLAS dispatches different kernels /
   K-blockings for different N — a 1-row partition and a 4096-row
   partition could round the same row differently), so the head forward
   quantizes the weights once per step (Q_W) and runs the row×weight
   products as int64 matmuls too; only per-element (row-local) ops stay
   float.  numpy integer matmul bypasses BLAS and is exact, making the
   whole gradient bit-independent of batching.  This is
   quantization-aware training with documented quanta (~6e-5), applied
   identically in the single-process literal twin — the optimizer's
   master weights remain float32 with the reference's exact update
   rules.

Deliberate, documented divergences from the reference loop:
- **Full-batch steps** instead of shuffled minibatches of 8: the
  reference's ``DataLoader(shuffle=True)`` order is unseeded and thus
  unreproducible even against itself; full-batch is the only
  partition-invariant schedule.  The *update rules* are literal.
- The encoder is frozen (features precomputed).  The reference
  fine-tunes end-to-end; backprop through 12 transformer layers is a
  model-parallel problem outside this engine's charter (inference +
  curation), but the head — the part the reference actually *adds* to
  ELECTRA — trains here with exact reference semantics.

Reference quirks faithfully reproduced (each pytest-pinned):
- ``CrossEntropyLoss(ignore_index=pad_token_id)`` with pad id 0
  (functions/wordpiece.py:71, same as the reference's ELECTRA vocab):
  label-0 (no-relation) rows are EXCLUDED from loss and gradient — the
  reference trains the RE head on positive pairs only
  (cdr_trainer.py:91).  ``ignore_index=None`` gives standard CE.
- AdamW groups per cdr_trainer.py:148-158: the no_decay split sets
  ``weight_decay=0.0`` in BOTH groups — decay is off everywhere.
- BertAdam (optim.py): ``warmup_linear(0)=0`` → the FIRST step updates
  the moments but moves no weight (state['step'] starts at 0,
  optim.py:134-141); no bias correction (optim.py:143-146); per-tensor
  ``clip_grad_norm_(p, 1.0)`` INSIDE step (optim.py:113-114, torch
  semantics: scale by ``max_norm/(norm+1e-6)`` only when norm exceeds);
  ``optim4GPU``'s no_decay test is full-string equality against
  ['bias','gamma','beta'] so NO real parameter name matches → every
  param gets weight_decay_rate=0.01 (optim.py:157-160).
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .electra import (
    DEFAULT_CONFIG,
    ElectraConfig,
    ElectraWeights,
    _erf,
    encoder_forward,
    gelu,
    length_grouped_batches,
    pad_stack,
    resolve_weights,
)
from .scorer import fullsample_pooled

# fixed-point scales: feat/activation lane 2^14 (quantum 6e-5 on values
# |x| ≲ 128), gradient lane 2^16 (quantum 1.5e-5 on values |dz| ≲ 4),
# weight lane 2^14 (quantum 6e-5 on |w| ≲ 2)
Q_FEAT = 1 << 14
Q_GRAD = 1 << 16
Q_LOSS = 1 << 16
Q_W = 1 << 14
CHUNK = 8192  # flat-gradient chunk length per aggregation row

POOLED_SCHEMA = (
    "url string, chem_mesh string, dis_mesh string, label int, feat array<float>"
)
GRAD_ROW_SCHEMA = "chunk int, g array<long>, loss_q long, n_valid long"


# --------------------------------------------------------------------------
# frozen-encoder feature extraction
# --------------------------------------------------------------------------


def pool_features(
    features: DataFrame,
    config: ElectraConfig = DEFAULT_CONFIG,
    seed: int = 0,
    npz_path: str | None = None,
    batch_size: int = 16,
    pooling: str = "first_token",
) -> DataFrame:
    """FEATURES_SCHEMA rows -> POOLED_SCHEMA rows.

    ``pooling`` selects the reference's span-pooling variant (A3/M3) —
    the head trains identically either way, and every variant keeps the
    bit-determinism contract (see the layout-independence note below):

    - "first_token" (default): hidden state at the FIRST position whose
      mask equals the code — the train_sentence entry point
      (electra_model.py:618-624)
    - "run_mean": sum over ALL matching positions ÷ number of
      contiguous runs (electra_model.py:205-219 / the ALPS pooler
      :360-377)
    - "all_match": mean over ALL matching positions (the is_full_sample
      pooler, electra_model.py:626-641, with its dead first-of-run
      branch pinned)

    Runs the frozen encoder once per EQUAL-LENGTH micro-batch
    (electra.length_grouped_batches — rows of the same exact token
    length share an encoder batch, so pad_stack never pads and every
    GEMM runs at each row's own K/T shape) and the selected span
    pooling per row; the ``[2H]`` concat(chem, dis) is the pair head's
    input (reference electra_model.py:671-675).  Under this shape
    discipline each row's pooled feature is BIT-IDENTICAL to its
    ``batch_size=1`` result at any batch size, partitioning, or
    Arrow-chunk layout (the batch only widens the GEMM row dimension;
    see length_grouped_batches), which makes the ENTIRE training
    pipeline layout-independent: pooled features exact per row, and
    everything downstream already reduces in quantized int64 /
    decimal(38,0).  Rows missing EITHER code in the mask pool to an
    all-zero concat — the same degenerate-row rule as scoring
    (score_candidates: ``has = mc.any & md.any``), so a head trained on
    pooled features sees the identical feature vector at inference (no
    train/serve skew).

    Executor-side weights are reconstructed lazily per process from
    (config, seed) or the .npz plug point — nothing large crosses the
    closure; this is the broadcast-once-per-executor idiom.
    """
    if pooling not in ("first_token", "run_mean", "all_match"):
        raise ValueError(f"unknown pooling {pooling!r}")
    pad_id = 0

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        w = resolve_weights(config, seed, npz_path)
        hs = w.config.hidden_size
        for pdf in batches:
            if pdf.empty:
                yield pd.DataFrame(
                    columns=["url", "chem_mesh", "dis_mesh", "label", "feat"]
                )
                continue
            n = len(pdf)
            toks = pdf["token_ids"].tolist()
            msks = pdf["entity_mask"].tolist()
            ccs = np.asarray(pdf["chem_code"].tolist(), np.int64)
            dcs = np.asarray(pdf["dis_code"].tolist(), np.int64)
            feats = np.zeros((n, 2 * hs), np.float32)
            for sel in length_grouped_batches(
                [len(t) for t in toks], batch_size
            ):
                gi = np.asarray(sel, np.int64)
                b = len(sel)
                # shared pad+stack (reference sequence_padding.py
                # semantics; electra.pad_stack, no per-row python) —
                # a no-op pad here: every row in sel has the same length
                ids, att, mrows = pad_stack(
                    [toks[i] for i in sel], [msks[i] for i in sel], pad_id
                )
                hidden = encoder_forward(w, ids, att)
                # vectorized span pooling (variants of electra.py's
                # first_token_pool / run_counting_mean_pool /
                # all_match_pool); a row missing EITHER code keeps a
                # fully-zero concat — score_candidates' degenerate rule
                rows = np.arange(b)
                mc = mrows == ccs[gi, None]
                md = mrows == dcs[gi, None]
                has = mc.any(axis=1) & md.any(axis=1)

                def pool(m: np.ndarray) -> np.ndarray:
                    if pooling == "first_token":
                        return hidden[rows[has], m.argmax(axis=1)[has]]
                    sums = np.einsum(
                        "bt,bth->bh", m[has].astype(np.float32), hidden[has]
                    )
                    if pooling == "all_match":
                        cnt = m[has].sum(axis=1)
                    else:  # run_mean: contiguous-run count per row
                        starts = m & ~np.concatenate(
                            [np.zeros((b, 1), bool), m[:, :-1]], axis=1
                        )
                        cnt = starts[has].sum(axis=1)
                    return (sums / cnt[:, None].astype(np.float32)).astype(
                        np.float32
                    )

                blk = feats[gi]
                blk[has, :hs] = pool(mc)
                blk[has, hs:] = pool(md)
                feats[gi] = blk
            yield pd.DataFrame(
                {
                    "url": pdf["url"].values,
                    "chem_mesh": pdf["chem_mesh"].values,
                    "dis_mesh": pdf["dis_mesh"].values,
                    "label": pdf["label"].astype("int32").values,
                    "feat": list(feats),
                }
            )

    return features.mapInPandas(run, schema=POOLED_SCHEMA)


def pool_fulltext_features(
    fulltext: DataFrame,
    config: ElectraConfig = DEFAULT_CONFIG,
    seed: int = 0,
    npz_path: str | None = None,
    batch_size: int = 8,
) -> DataFrame:
    """FULLTEXT_SCHEMA rows -> POOLED_SCHEMA rows at the levi trainer's
    DOCUMENT granularity (reference cdr_trainer_levi.py:316-390
    ``train_full_sample`` / ``train_sentence(train_with_full_sample=
    True)``): ONE frozen-encoder pass per document yields the pooled
    [2H] feature for ALL of its (chem, dis) pairs via the is_full_sample
    all-match pooling (the exact pooling of electra_model.py:626-641,
    :711-734).

    Only REAL pairs are emitted.  The reference pads every document's
    pair list to the batch label width and feeds the pad pairs (label
    -1) to CrossEntropyLoss(ignore_index=-1), which zeroes their
    gradient AND excludes them from the loss mean — so dropping them
    here is gradient- and loss-identical to the reference loop, and
    the emitted rows feed the same ``train_pair_head`` allreduce
    unchanged.  label_length is each document's own real pair count —
    pad pairs are never even pooled; real-pair features are identical
    at any width because ``pool_pairs_one`` is a per-pair gather.

    The loop is ``scorer.fullsample_pooled``, the one ``score_fulltext``
    runs: EQUAL-LENGTH-GROUPED encoder batches of up to ``batch_size``,
    then pooling per document at the document's own [C, T] shape.
    Every emitted feature is BIT-IDENTICAL to its ``batch_size=1``
    result at any batch size / partitioning / Arrow-chunk layout, so
    the doc-level training path is layout-independent end-to-end (the
    head's reductions downstream are already exact int64/decimal)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        w = resolve_weights(config, seed, npz_path)
        empty = pd.DataFrame(columns=["url", "chem_mesh", "dis_mesh", "label", "feat"])
        for pdf in batches:
            frames = [
                keys.assign(feat=list(pooled.astype(np.float32)))
                for keys, pooled in fullsample_pooled(w, pdf, batch_size)
            ]
            yield pd.concat(frames, ignore_index=True) if frames else empty

    return fulltext.mapInPandas(run, schema=POOLED_SCHEMA)


# --------------------------------------------------------------------------
# head parameters + exact integer gradient kernel
# --------------------------------------------------------------------------


@dataclass
class HeadParams:
    """The pair head (reference electra_model.py:544-546): dense(2E,2E)
    + gelu + out_proj(2E,2).  Flat layout W1 | b1 | W2 | b2."""

    w1: np.ndarray
    b1: np.ndarray
    w2: np.ndarray
    b2: np.ndarray

    @classmethod
    def seeded(cls, two_e: int, seed: int = 0) -> "HeadParams":
        rng = np.random.default_rng(seed)
        return cls(
            rng.normal(0.0, 0.02, (two_e, two_e)).astype(np.float32),
            np.zeros(two_e, np.float32),
            rng.normal(0.0, 0.02, (two_e, 2)).astype(np.float32),
            np.zeros(2, np.float32),
        )

    @classmethod
    def from_weights(cls, w: ElectraWeights) -> "HeadParams":
        p = w.p
        return cls(
            p["head.dense.w"].copy(), p["head.dense.b"].copy(),
            p["head.out.w"].copy(), p["head.out.b"].copy(),
        )

    def flat_size(self) -> int:
        return self.w1.size + self.b1.size + self.w2.size + self.b2.size

    def tensors(self) -> list[tuple[str, np.ndarray]]:
        return [("w1", self.w1), ("b1", self.b1), ("w2", self.w2), ("b2", self.b2)]

    def copy(self) -> "HeadParams":
        return HeadParams(self.w1.copy(), self.b1.copy(), self.w2.copy(), self.b2.copy())


def _gelu_prime(x: np.ndarray) -> np.ndarray:
    """d/dx [x * Phi(x)] = Phi(x) + x * phi(x), Phi from the same erf
    approximation the forward gelu uses (forward/backward consistent)."""
    big_phi = 0.5 * (1.0 + _erf(x / np.sqrt(2.0)))
    phi = np.exp(-0.5 * x * x) / np.sqrt(2.0 * np.pi)
    return big_phi + x * phi


def _head_forward_quant(
    feat: np.ndarray, hp: HeadParams
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """The quantized pair-head forward shared by training and serving:
    every cross-element reduction is an int64 matmul over quantized
    operands (exact, partitioning-invariant); only per-element math is
    float64.  Returns (feat_q, w2_q, z1, a_q, z2)."""
    w1_q = np.rint(hp.w1.astype(np.float64) * Q_W).astype(np.int64)
    w2_q = np.rint(hp.w2.astype(np.float64) * Q_W).astype(np.int64)
    feat_q = np.rint(feat.astype(np.float64) * Q_FEAT).astype(np.int64)
    z1 = (feat_q @ w1_q) / (float(Q_FEAT) * Q_W) + hp.b1.astype(np.float64)
    a = gelu(z1)
    a_q = np.rint(a * Q_FEAT).astype(np.int64)
    z2 = (a_q @ w2_q) / (float(Q_FEAT) * Q_W) + hp.b2.astype(np.float64)
    return feat_q, w2_q, z1, a_q, z2


def head_predict(feat: np.ndarray, hp: HeadParams) -> np.ndarray:
    """Serving-side class decision for pooled pair features: argmax of
    the SAME quantized forward training sees (no train/serve kernel
    skew; ties break to the lower class index, np.argmax semantics —
    matching torch.max over identical logits)."""
    if len(feat) == 0:
        return np.zeros(0, np.int32)
    *_, z2 = _head_forward_quant(feat, hp)
    return z2.argmax(axis=1).astype(np.int32)


def score_pooled(pooled: DataFrame, hp: HeadParams) -> DataFrame:
    """Distributed head inference over POOLED_SCHEMA rows (the M6 eval
    loop at pair-head granularity): adds an int ``pred`` column.  The
    head is tiny (two_e^2 floats), so it crosses the UDF closure
    directly — the broadcast-small-model idiom; the forward is the
    exact quantized kernel, bit-identical at any partitioning."""
    w1, b1, w2, b2 = hp.w1.copy(), hp.b1.copy(), hp.w2.copy(), hp.b2.copy()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        h = HeadParams(w1, b1, w2, b2)
        for pdf in batches:
            if pdf.empty:
                yield pdf.assign(pred=np.zeros(0, np.int32))
                continue
            feat = np.stack(pdf["feat"].to_numpy()).astype(np.float32)
            yield pdf.assign(pred=head_predict(feat, h))

    return pooled.mapInPandas(run, schema=POOLED_SCHEMA + ", pred int")


def head_grad_ints(
    feat: np.ndarray, labels: np.ndarray, hp: HeadParams, ignore_index: int | None
) -> tuple[np.ndarray, int, int]:
    """Exact-integer gradient contribution of a row block.

    EVERY reduction over an axis -- forward row-times-weight products
    AND backward cross-row sums -- is an int64 matmul/sum over
    per-element quantized operands (numpy integer matmul bypasses BLAS:
    exact, so bit-identical under any row partitioning or batch size).
    Only strictly per-element math (bias add, gelu, softmax, quantize)
    is float, in float64.  Returns (flat int64 grad in units of
    1/(Q_FEAT*Q_GRAD) with sum-reduction, loss_q in units of 1/Q_LOSS,
    n_valid).
    """
    n = len(labels)
    valid = np.ones(n, bool) if ignore_index is None else labels != ignore_index

    feat_q, w2_q, z1, a_q, z2 = _head_forward_quant(feat, hp)

    m = z2.max(axis=1, keepdims=True)
    ez = np.exp(z2 - m)
    p = ez / ez.sum(axis=1, keepdims=True)
    g2 = p.copy()
    g2[np.arange(n), labels] -= 1.0
    g2[~valid] = 0.0
    g2_q = np.rint(g2 * Q_GRAD).astype(np.int64)
    da = (g2_q @ w2_q.T) / (float(Q_GRAD) * Q_W)
    dz1 = da * _gelu_prime(z1)
    dz1_q = np.rint(dz1 * Q_GRAD).astype(np.int64)

    dw1 = feat_q.T @ dz1_q  # [2E,2E] int64, exact
    db1 = dz1_q.sum(axis=0) * Q_FEAT  # unify units to Q_FEAT*Q_GRAD
    dw2 = a_q.T @ g2_q
    db2 = g2_q.sum(axis=0) * Q_FEAT

    with np.errstate(divide="ignore"):
        logp = np.log(p[np.arange(n), labels])
    loss_rows = np.where(valid, -logp, 0.0)
    loss_q = int(np.rint(loss_rows * Q_LOSS).astype(np.int64).sum())
    flat = np.concatenate([dw1.ravel(), db1, dw2.ravel(), db2])
    return flat, loss_q, int(valid.sum())


def head_grad_rows(
    pooled: DataFrame, hp: HeadParams, ignore_index: int | None
) -> DataFrame:
    """One pass: per-PARTITION integer gradient partials, emitted as
    fixed-size chunk rows (GRAD_ROW_SCHEMA).  loss_q/n_valid ride on
    the chunk-0 row of each partition."""
    # plan-literal broadcast of the (small) head params via closure
    w1, b1, w2, b2 = hp.w1, hp.b1, hp.w2, hp.b2
    size = hp.flat_size()
    n_chunks = (size + CHUNK - 1) // CHUNK
    ii = ignore_index

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        hp_local = HeadParams(w1, b1, w2, b2)
        acc = np.zeros(size, np.int64)
        loss_q = 0
        n_valid = 0
        seen = False
        for pdf in batches:
            if pdf.empty:
                continue
            seen = True
            feat = np.asarray(pdf["feat"].tolist(), np.float32)
            labels = pdf["label"].to_numpy(np.int64)
            g, lq, nv = head_grad_ints(feat, labels, hp_local, ii)
            acc += g
            loss_q += lq
            n_valid += nv
        if not seen:
            yield pd.DataFrame(columns=["chunk", "g", "loss_q", "n_valid"])
            return
        padded = np.zeros(n_chunks * CHUNK, np.int64)
        padded[:size] = acc
        yield pd.DataFrame(
            {
                "chunk": np.arange(n_chunks, dtype=np.int32),
                "g": [padded[i * CHUNK : (i + 1) * CHUNK] for i in range(n_chunks)],
                "loss_q": [loss_q] + [0] * (n_chunks - 1),
                "n_valid": [n_valid] + [0] * (n_chunks - 1),
            }
        )

    return pooled.mapInPandas(run, schema=GRAD_ROW_SCHEMA)


def grad_agg_frame(rows: DataFrame) -> DataFrame:
    """The allreduce as a logical plan: groupBy(chunk) fold in
    decimal(38,0).  Exactly ONE exchange, keyed on chunk — shuffle
    volume is n_partitions × n_chunks rows regardless of corpus size
    (plan contract asserted in tests/test_train.py)."""
    zero = F.array_repeat(F.lit(0).cast("decimal(38,0)"), CHUNK)
    return rows.groupBy("chunk").agg(
        F.aggregate(
            F.collect_list("g"),
            zero,
            lambda acc, x: F.zip_with(acc, x, lambda a, b: a + b.cast("decimal(38,0)")),
        ).alias("g"),
        F.sum(F.col("loss_q").cast("decimal(38,0)")).alias("loss_q"),
        F.sum("n_valid").alias("n_valid"),
    )


def aggregate_grads(rows: DataFrame, flat_size: int) -> tuple[np.ndarray, float, int]:
    """Run the fold, collect only n_chunks rows.  Returns (flat int
    sums as float64 array in Q_FEAT*Q_GRAD units, loss_q sum,
    n_valid sum)."""
    out = grad_agg_frame(rows).collect()
    n_chunks = (flat_size + CHUNK - 1) // CHUNK
    flat = np.zeros(n_chunks * CHUNK, np.float64)
    loss_q = 0
    n_valid = 0
    for r in out:
        flat[r["chunk"] * CHUNK : (r["chunk"] + 1) * CHUNK] = [float(v) for v in r["g"]]
        loss_q += int(r["loss_q"])
        n_valid += int(r["n_valid"])
    return flat[:flat_size], float(loss_q), n_valid


# --------------------------------------------------------------------------
# optimizer update rules (driver-side, numpy float32 like torch)
# --------------------------------------------------------------------------


@dataclass
class AdamWRef:
    """transformers-2.11 AdamW exactly as cdr_trainer.py:148-158 builds
    it: lr 5e-4, betas (0.9, 0.999), eps 1e-8, bias correction ON,
    weight_decay 0.0 in BOTH groups (the no_decay split is vacuous)."""

    lr: float = 5e-4
    b1: float = 0.9
    b2: float = 0.999
    eps: float = 1e-8
    weight_decay: float = 0.0
    state: dict = field(default_factory=dict)

    def step(self, hp: HeadParams, grads: dict[str, np.ndarray]) -> None:
        for name, p in hp.tensors():
            g = grads[name].astype(np.float32)
            st = self.state.setdefault(
                name,
                {"step": 0, "m": np.zeros_like(p), "v": np.zeros_like(p)},
            )
            st["step"] += 1
            st["m"] = self.b1 * st["m"] + (1 - self.b1) * g
            st["v"] = self.b2 * st["v"] + (1 - self.b2) * g * g
            denom = np.sqrt(st["v"]) + self.eps
            step_size = (
                self.lr
                * math.sqrt(1 - self.b2 ** st["step"])
                / (1 - self.b1 ** st["step"])
            )
            p -= np.float32(step_size) * st["m"] / denom
            if self.weight_decay > 0:
                p -= np.float32(self.lr * self.weight_decay) * p


def warmup_linear(x: float, warmup: float = 0.002) -> float:
    """reference optim.py:25-28."""
    if x < warmup:
        return x / warmup
    return 1.0 - x


def warmup_cosine(x: float, warmup: float = 0.002) -> float:
    """reference optim.py:15-18: past warmup the lr multiplier follows
    0.5*(1+cos(pi*x)) — NOT rescaled to start at the end of warmup, so
    the multiplier jumps from 1.0 to cos-curve at x == warmup (quirk
    kept; the reference applies torch.cos to a python float, which
    works because math.pi * x is promoted)."""
    if x < warmup:
        return x / warmup
    return 0.5 * (1.0 + math.cos(math.pi * x))


def warmup_constant(x: float, warmup: float = 0.002) -> float:
    """reference optim.py:20-23."""
    if x < warmup:
        return x / warmup
    return 1.0


# reference optim.py:30-34
SCHEDULES = {
    "warmup_cosine": warmup_cosine,
    "warmup_constant": warmup_constant,
    "warmup_linear": warmup_linear,
}


@dataclass
class BertAdamRef:
    """reference optim.py:35-148 via optim4GPU (:152-164): lr 5e-4,
    warmup 0.1, t_total 800, warmup_linear, NO bias correction,
    per-tensor clip_grad_norm_ 1.0 inside step, and — because the
    no_decay membership test is full-string equality that no real
    parameter name satisfies — weight_decay_rate 0.01 on EVERY param."""

    lr: float = 5e-4
    warmup: float = 0.1
    t_total: int = 800
    schedule: str = "warmup_linear"  # any key of SCHEDULES (optim.py:30-34)
    b1: float = 0.9
    b2: float = 0.999
    e: float = 1e-6
    weight_decay_rate: float = 0.01
    max_grad_norm: float = 1.0
    state: dict = field(default_factory=dict)

    def step(self, hp: HeadParams, grads: dict[str, np.ndarray]) -> None:
        sched_fn = SCHEDULES[self.schedule]
        for name, p in hp.tensors():
            grad = grads[name].astype(np.float32)
            st = self.state.setdefault(
                name,
                {"step": 0, "m": np.zeros_like(p), "v": np.zeros_like(p)},
            )
            if self.max_grad_norm > 0:
                # torch clip_grad_norm_(p, max_norm): 2-norm over the
                # single tensor, scale only when it exceeds
                norm = float(np.linalg.norm(grad.astype(np.float64)))
                clip = self.max_grad_norm / (norm + 1e-6)
                if clip < 1:
                    grad = grad * np.float32(clip)
            st["m"] = self.b1 * st["m"] + (1 - self.b1) * grad
            st["v"] = self.b2 * st["v"] + (1 - self.b2) * grad * grad
            update = st["m"] / (np.sqrt(st["v"]) + self.e)
            if self.weight_decay_rate > 0:
                update = update + self.weight_decay_rate * p
            if self.t_total != -1:
                lr_sched = self.lr * sched_fn(
                    st["step"] / self.t_total, self.warmup
                )
            else:
                lr_sched = self.lr
            p -= np.float32(lr_sched) * update
            st["step"] += 1  # AFTER the lr lookup: step 0 moves nothing


# --------------------------------------------------------------------------
# the training loop
# --------------------------------------------------------------------------


@dataclass
class TrainResult:
    params: HeadParams
    losses: list[float]
    n_valid: int
    steps: int


def _unflatten(hp: HeadParams, flat: np.ndarray) -> dict[str, np.ndarray]:
    out = {}
    off = 0
    for name, p in hp.tensors():
        out[name] = flat[off : off + p.size].reshape(p.shape)
        off += p.size
    return out


def train_pair_head(
    pooled: DataFrame,
    epochs: int = 5,
    optimizer: str = "adamw",
    init: HeadParams | None = None,
    two_e: int | None = None,
    ignore_index: int | None = 0,
    seed: int = 0,
    persist: bool = True,
    on_epoch=None,
    lr: float | None = None,
) -> TrainResult:
    """Full-batch data-parallel training of the pair head.

    One aggregate per epoch: partitions emit int64 gradient partials,
    Spark folds them exactly (decimal(38,0)), the driver applies the
    reference update rule.  Deterministic: identical final weights at
    any partitioning / parallelism (the pytest contract).

    ``ignore_index=0`` is the reference default (CE ignores the pad id,
    which equals the negative label — cdr_trainer.py:91); pass None for
    standard 2-class CE.  If an epoch has zero valid rows the step is
    skipped (guard; torch would propagate NaN).

    ``on_epoch(epoch_idx, hp)``, when given, is called after every
    epoch with the CURRENT weights — the reference's per-epoch
    evaluate-and-maybe-checkpoint hook (cdr_trainer.py:441-468); wire
    it to checkpoint.BestCheckpoint for best-F1 tracking.
    """
    if init is None:
        if two_e is None:
            two_e = len(pooled.select("feat").first()["feat"])
        hp = HeadParams.seeded(two_e, seed=seed)
    else:
        hp = init.copy()
    # lr overrides the reference default (5e-4) when a caller needs a
    # different schedule point; the update RULE itself never changes
    opt_cls = AdamWRef if optimizer == "adamw" else BertAdamRef
    opt = opt_cls() if lr is None else opt_cls(lr=lr)
    if persist:
        pooled = pooled.persist()
        pooled.count()
    losses: list[float] = []
    n_valid_last = 0
    steps = 0
    scale = float(Q_FEAT) * float(Q_GRAD)
    try:
        for epoch in range(epochs):
            rows = head_grad_rows(pooled, hp, ignore_index)
            flat_q, loss_q, n_valid = aggregate_grads(rows, hp.flat_size())
            n_valid_last = n_valid
            if n_valid == 0:
                losses.append(float("nan"))
                if on_epoch is not None:
                    on_epoch(epoch, hp)
                continue
            # reduction='mean' over non-ignored rows (torch CE default)
            grads = _unflatten(hp, (flat_q / scale / n_valid).astype(np.float32))
            opt.step(hp, grads)
            steps += 1
            losses.append(loss_q / Q_LOSS / n_valid)
            if on_epoch is not None:
                on_epoch(epoch, hp)
    finally:
        if persist:
            pooled.unpersist()
    return TrainResult(params=hp, losses=losses, n_valid=n_valid_last, steps=steps)


def train_pair_head_local(
    feat: np.ndarray,
    labels: np.ndarray,
    epochs: int = 5,
    optimizer: str = "adamw",
    init: HeadParams | None = None,
    ignore_index: int | None = 0,
    seed: int = 0,
    lr: float | None = None,
) -> TrainResult:
    """Single-process literal twin of train_pair_head: the same
    quantized kernel on the whole array at once, the same update rules.
    The pytest parity oracle — Spark must match this bit-for-bit."""
    hp = HeadParams.seeded(feat.shape[1], seed=seed) if init is None else init.copy()
    opt_cls = AdamWRef if optimizer == "adamw" else BertAdamRef
    opt = opt_cls() if lr is None else opt_cls(lr=lr)
    losses: list[float] = []
    steps = 0
    n_valid_last = 0
    scale = float(Q_FEAT) * float(Q_GRAD)
    for _ in range(epochs):
        flat_q, loss_q, n_valid = head_grad_ints(feat, labels, hp, ignore_index)
        n_valid_last = n_valid
        if n_valid == 0:
            losses.append(float("nan"))
            continue
        grads = _unflatten(hp, (flat_q.astype(np.float64) / scale / n_valid).astype(np.float32))
        opt.step(hp, grads)
        steps += 1
        losses.append(loss_q / Q_LOSS / n_valid)
    return TrainResult(params=hp, losses=losses, n_valid=n_valid_last, steps=steps)
