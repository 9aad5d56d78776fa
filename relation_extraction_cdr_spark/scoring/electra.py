"""Exact ELECTRA entity-pair architecture in numpy (SURVEY §2.9 M1-M3).

This is the REAL scorer architecture of the reference, transcribed layer
by layer from the model the reference's ``train_sentence`` entry point
builds (``ElectraModelEntitySentenceClassification``,
reference electra_model.py:535-553 __init__, :563-690 forward):

- ElectraEmbeddings: word + position + token-type embeddings, LayerNorm
  (eps 1e-12); dropout is identity at inference
  (transformers 2.11 modeling_electra.ElectraEmbeddings)
- embeddings_project: Linear(embedding_size -> hidden_size), present
  only when the two differ (electra_model.py:541-542, :514-515)
- BertEncoder x num_hidden_layers: multi-head self-attention
  (scores/sqrt(head_dim) + additive mask), attention-output dense +
  residual + LayerNorm, intermediate GELU, output dense + residual +
  LayerNorm (transformers 2.11 modeling_bert.BertLayer)
- extended attention mask: (1 - mask) * -10000.0
  (modeling_utils.get_extended_attention_mask)
- span pooling, in the reference's three variants: FIRST-TOKEN, the
  hidden state of the first position whose entity_mask equals the
  entity's code (get_entity_embedding, electra_model.py:618-624;
  ``first_token_pool``); ALL-MATCH, the mean over every matching
  position (get_all_entity_embedding, :626-641, the is_full_sample
  pooler; ``all_match_pool`` / ``pool_pairs_one``); and RUN-COUNTING,
  the sum over matches divided by the number of runs (:205-219, the
  ALPS pooler; ``run_counting_mean_pool``)
- pair head: concat(chem, dis) -> dropout -> dense(embedding_size*2,
  embedding_size*2) -> gelu -> dropout -> out_proj(-> 2)
  (electra_model.py:544-546 init, :676-690 apply; gelu per the inline
  comment "although BERT uses tanh here ... Electra authors used gelu")

Head dimension note (faithfully reproduced): the head is sized
``embedding_size * 2`` while the pooled concat is ``hidden_size * 2``
(electra_model.py:544,:675).  The reference's runnable configuration is
google/electra-base-discriminator (cdr_trainer.py:224) where
embedding_size == hidden_size == 768, so the shapes agree; with the
shipped small-checkpoint config (models_saved/Electra_converted_pytorch/
config.json: embedding 128, hidden 256) the reference forward itself
would raise a shape error.  This module follows the code literally —
construct it with an embedding_size == hidden_size config to run the
full head (DEFAULT_CONFIG below is the small-consistent 256/256 shape),
or any config to run the encoder alone.

Weights: seeded-random by default (truncated-normal-free
normal(0, initializer_range) per transformers 2.11 _init_weights;
LayerNorm weight=1 bias=0), or loaded from an .npz file — the plug
point for converted real checkpoint weights, which are not shipped.

Every consumer reads its hidden states from ONE encoder loop,
``encoded`` (equal-length groups of up to ``ENCODER_BATCH`` documents,
the only caller of ``encoder_forward``), then pools and applies its head
per document: the pair head on is_full_sample pooling in
scorer.fullsample_pooled (the fused electra stage, score_fulltext and
doc-level training), on first-token pooling in train.pool_features;
the ALPS head on ``alps_pooled`` in scorer.score_alps_3way; the NER
head in ner.score_types.  The literal-port parity tests
(tests/test_electra.py) pin those kernels directly.

Float bits are per OpenBLAS kernel: the GEMMs round by the kernel numpy's
bundled OpenBLAS loads, which session.py pins by the CPU's instruction-set
tier (``_blas.pin_kernel``: SkylakeX on AVX-512, Haswell on AVX2+FMA) in
local mode.  Within one kernel, batching equal-length documents is
bit-exact (tests/test_electra.py), so ``encoded``'s outputs do not depend
on partitioning.

GELU: x * 0.5 * (1 + erf(x / sqrt(2))).  numpy has no erf; the engine
uses the Abramowitz-Stegun 7.1.26 rational approximation (|err| <=
1.5e-7, i.e. float32-exact); the pytest literal port uses math.erf, so
the parity test also bounds the approximation error.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from functools import lru_cache
from pathlib import Path
from typing import Iterator

import numpy as np


@dataclass(frozen=True)
class ElectraConfig:
    vocab_size: int = 30524  # 30522 + [e]/[/e] added tokens
    embedding_size: int = 256
    hidden_size: int = 256
    num_hidden_layers: int = 12
    num_attention_heads: int = 4
    intermediate_size: int = 1024
    max_position_embeddings: int = 512
    type_vocab_size: int = 2
    layer_norm_eps: float = 1e-12
    initializer_range: float = 0.02

    @classmethod
    def from_json(cls, path: str | Path) -> "ElectraConfig":
        """Load a transformers-style config.json (e.g. the shipped
        models_saved/Electra_converted_pytorch/config.json)."""
        raw = json.loads(Path(path).read_text())
        keep = {f for f in cls.__dataclass_fields__}
        return cls(**{k: v for k, v in raw.items() if k in keep})


# the shipped checkpoint's encoder shape with the embedding width lifted
# to hidden so the literal head dimensions are consistent (see module
# docstring); FLOPs-representative of the real small model
DEFAULT_CONFIG = ElectraConfig()


def _erf(x: np.ndarray) -> np.ndarray:
    """Vectorized erf, Abramowitz & Stegun 7.1.26 (|err| <= 1.5e-7):
    sign(x) * (1 - poly(t) * exp(-|x|^2)), t = 1 / (1 + p|x|).  The
    float ops and their order are the textbook expression's; each step
    writes into one of four temporaries this function owns."""
    sign = np.sign(x)
    a = np.abs(x)
    t = a * 0.3275911
    t += 1.0
    np.divide(1.0, t, out=t)
    poly = t * 1.061405429
    for c in (-1.453152027, 1.421413741, -0.284496736, 0.254829592):
        poly += c
        poly *= t
    a *= a
    np.negative(a, out=a)  # (-|x|) * |x|: negation is exact
    np.exp(a, out=a)
    poly *= a
    np.subtract(1.0, poly, out=poly)
    poly *= sign
    return poly


def gelu(x: np.ndarray) -> np.ndarray:
    """transformers.activations.gelu: x * 0.5 * (1 + erf(x / sqrt 2))."""
    y = x / np.sqrt(2.0)
    e = _erf(y)
    e += 1.0
    np.multiply(x, 0.5, out=y)
    y *= e
    return y


def layer_norm(x: np.ndarray, w: np.ndarray, b: np.ndarray, eps: float) -> np.ndarray:
    """(x - mean) / sqrt(var + eps) * w + b over the last axis; ``var``
    is numpy's (the mean of the squared centred values), computed from
    the one centred array."""
    d = x - x.mean(axis=-1, keepdims=True)
    var = np.square(d).mean(axis=-1, keepdims=True)
    var += eps
    np.sqrt(var, out=var)
    d /= var
    d *= w
    d += b
    return d


def softmax(x: np.ndarray) -> np.ndarray:
    e = x - x.max(axis=-1, keepdims=True)
    np.exp(e, out=e)
    e /= e.sum(axis=-1, keepdims=True)
    return e


class ElectraWeights:
    """Flat dict of named numpy arrays matching the module layout."""

    def __init__(self, config: ElectraConfig, params: dict[str, np.ndarray]):
        self.config = config
        self.p = params

    @classmethod
    def seeded(cls, config: ElectraConfig = DEFAULT_CONFIG, seed: int = 0) -> "ElectraWeights":
        """normal(0, initializer_range) like _init_weights; LayerNorm
        weight=1/bias=0; all biases 0.  Deterministic per seed."""
        rng = np.random.default_rng(seed)
        c = config
        s = c.initializer_range

        def lin(nin, nout):
            return rng.normal(0.0, s, (nin, nout)).astype(np.float32)

        p: dict[str, np.ndarray] = {
            "emb.word": lin(c.vocab_size, c.embedding_size),
            "emb.pos": lin(c.max_position_embeddings, c.embedding_size),
            "emb.type": lin(c.type_vocab_size, c.embedding_size),
            "emb.ln.w": np.ones(c.embedding_size, np.float32),
            "emb.ln.b": np.zeros(c.embedding_size, np.float32),
        }
        if c.embedding_size != c.hidden_size:
            p["proj.w"] = lin(c.embedding_size, c.hidden_size)
            p["proj.b"] = np.zeros(c.hidden_size, np.float32)
        for i in range(c.num_hidden_layers):
            h = c.hidden_size
            p[f"l{i}.q.w"] = lin(h, h)
            p[f"l{i}.q.b"] = np.zeros(h, np.float32)
            p[f"l{i}.k.w"] = lin(h, h)
            p[f"l{i}.k.b"] = np.zeros(h, np.float32)
            p[f"l{i}.v.w"] = lin(h, h)
            p[f"l{i}.v.b"] = np.zeros(h, np.float32)
            p[f"l{i}.ao.w"] = lin(h, h)
            p[f"l{i}.ao.b"] = np.zeros(h, np.float32)
            p[f"l{i}.aln.w"] = np.ones(h, np.float32)
            p[f"l{i}.aln.b"] = np.zeros(h, np.float32)
            p[f"l{i}.i.w"] = lin(h, c.intermediate_size)
            p[f"l{i}.i.b"] = np.zeros(c.intermediate_size, np.float32)
            p[f"l{i}.o.w"] = lin(c.intermediate_size, h)
            p[f"l{i}.o.b"] = np.zeros(h, np.float32)
            p[f"l{i}.oln.w"] = np.ones(h, np.float32)
            p[f"l{i}.oln.b"] = np.zeros(h, np.float32)
        two_e = c.embedding_size * 2
        p["head.dense.w"] = lin(two_e, two_e)
        p["head.dense.b"] = np.zeros(two_e, np.float32)
        p["head.out.w"] = lin(two_e, 2)
        p["head.out.b"] = np.zeros(2, np.float32)
        return cls(config, p)

    @classmethod
    def load_npz(cls, path: str | Path, config: ElectraConfig) -> "ElectraWeights":
        """Plug point for converted real checkpoint weights (same key
        layout as `.seeded`); np.savez of named arrays."""
        with np.load(path) as z:
            return cls(config, {k: z[k] for k in z.files})


def resolve_weights(
    config: ElectraConfig = DEFAULT_CONFIG,
    seed: int = 0,
    npz_path: str | None = None,
) -> ElectraWeights:
    """The single executor-side weight-sourcing dispatch every forward
    path shares (scorer.score_fulltext / score_alps_3way,
    ner.score_types, train.pool_features): a real converted checkpoint
    from ``npz_path`` when given, else deterministic seeded weights.
    Memoized per process — weights are reconstructed at most once per
    (config, seed, path, file fingerprint), the broadcast-once-per-
    executor idiom.  The fingerprint (mtime_ns + size) keys the cache
    so a long-lived executor that rescans after the checkpoint at
    ``npz_path`` is overwritten in place (save_checkpoint writing a new
    best between training rounds) reloads instead of serving stale
    weights."""
    fingerprint = None
    if npz_path:
        st = os.stat(npz_path)
        fingerprint = (st.st_mtime_ns, st.st_size)
    return _resolve_weights_cached(config, seed, npz_path, fingerprint)


@lru_cache(maxsize=8)
def _resolve_weights_cached(
    config: ElectraConfig,
    seed: int,
    npz_path: str | None,
    _fingerprint: tuple[int, int] | None,
) -> ElectraWeights:
    if npz_path:
        return ElectraWeights.load_npz(npz_path, config)
    return ElectraWeights.seeded(config, seed=seed)


def pad_stack(
    token_ids: list[list[int]],
    entity_masks: list[list[int]] | None = None,
    pad_id: int = 0,
) -> tuple[np.ndarray, np.ndarray, np.ndarray | None]:
    """The ONE ragged pad+stack every forward path uses (reference
    sequence_padding.py:18-44 semantics): ids pad = ``pad_id``,
    attention = 1 on real positions / 0 on pad, entity-mask pad = -1.
    Returns ([B, T] int64 ids, [B, T] float32 attention, [B, T] int64
    mask or None).  Vectorized (no per-row python); the equal-length
    fast path produces bit-identical arrays to the general path."""
    b = len(token_ids)
    lens = np.fromiter((len(x) for x in token_ids), np.int64, b)
    t = int(lens.max()) if b else 0
    if b and int(lens.min()) == t:
        ids = np.asarray(token_ids, np.int64).reshape(b, t)
        att = np.ones((b, t), np.float32)
        msk = (
            np.asarray(entity_masks, np.int64).reshape(b, t)
            if entity_masks is not None
            else None
        )
        return ids, att, msk
    valid = np.arange(t) < lens[:, None]
    ids = np.full((b, t), pad_id, np.int64)
    ids[valid] = np.concatenate([np.asarray(x, np.int64) for x in token_ids])
    att = valid.astype(np.float32)
    msk = None
    if entity_masks is not None:
        msk = np.full((b, t), -1, np.int64)
        msk[valid] = np.concatenate([np.asarray(x, np.int64) for x in entity_masks])
    return ids, att, msk


def encoder_forward(
    w: ElectraWeights, input_ids: np.ndarray, attention_mask: np.ndarray | None = None
) -> np.ndarray:
    """[B, T] int ids (+ [B, T] 0/1 mask) -> [B, T, hidden] float32.

    The M1 operator: ElectraEmbeddings -> embeddings_project ->
    BertEncoder stack, faithful to the transformers-2.11 modules the
    reference instantiates (electra_model.py:509-521 call order)."""
    c = w.config
    p = w.p
    B, T = input_ids.shape
    if attention_mask is None:
        attention_mask = np.ones((B, T), np.float32)

    # bias, residual and scale steps write into the fresh array the
    # gather or GEMM before them returned
    h = p["emb.word"][input_ids]
    h += p["emb.pos"][:T]
    h += p["emb.type"][0]
    h = layer_norm(h, p["emb.ln.w"], p["emb.ln.b"], c.layer_norm_eps)
    if "proj.w" in p:
        h = h @ p["proj.w"]
        h += p["proj.b"]

    # get_extended_attention_mask: (1 - m) * -10000, broadcast over heads
    ext = ((1.0 - attention_mask.astype(np.float32)) * -10000.0)[:, None, None, :]

    nh = c.num_attention_heads
    dh = c.hidden_size // nh

    def dense(x, name, residual=None):  # x @ w + b (+ residual)
        y = x @ p[f"{name}.w"]
        y += p[f"{name}.b"]
        if residual is not None:
            y += residual
        return y

    def split_heads(x):  # [B,T,H] -> [B,nh,T,dh]
        return x.reshape(B, T, nh, dh).transpose(0, 2, 1, 3)

    for i in range(c.num_hidden_layers):
        q = split_heads(dense(h, f"l{i}.q"))
        k = split_heads(dense(h, f"l{i}.k"))
        v = split_heads(dense(h, f"l{i}.v"))
        scores = q @ k.transpose(0, 1, 3, 2)
        scores /= np.sqrt(dh)
        scores += ext
        ctx = softmax(scores) @ v  # [B,nh,T,dh]
        ctx = ctx.transpose(0, 2, 1, 3).reshape(B, T, c.hidden_size)
        attn = layer_norm(
            dense(ctx, f"l{i}.ao", h),
            p[f"l{i}.aln.w"], p[f"l{i}.aln.b"], c.layer_norm_eps,
        )
        inter = gelu(dense(attn, f"l{i}.i"))
        h = layer_norm(
            dense(inter, f"l{i}.o", attn),
            p[f"l{i}.oln.w"], p[f"l{i}.oln.b"], c.layer_norm_eps,
        )
    return h


def first_token_pool(
    hidden: np.ndarray, entity_mask: np.ndarray, code: int
) -> np.ndarray | None:
    """get_entity_embedding (electra_model.py:618-624): the hidden state
    of the FIRST position whose mask equals the code; None if absent."""
    idx = np.flatnonzero(entity_mask == code)
    if len(idx) == 0:
        return None
    return hidden[idx[0]]


def pair_head(w: ElectraWeights, pooled_concat: np.ndarray) -> np.ndarray:
    """[N, 2*E] -> [N, 2] logits: dense -> gelu -> out_proj (dropout is
    identity at inference), electra_model.py:676-690."""
    p = w.p
    x = pooled_concat @ p["head.dense.w"] + p["head.dense.b"]
    x = gelu(x)
    return x @ p["head.out.w"] + p["head.out.b"]


# ---------------------------------------------------------------------------
# pooling variants (A3 closure) — reference electra_model.py:205-219,
# :626-641 — and the is_full_sample pair pooling (:711-734)
# ---------------------------------------------------------------------------


def run_counting_mean_pool(
    hidden: np.ndarray, entity_mask: np.ndarray, code: int
) -> np.ndarray | None:
    """get_entity_embedding of ElectraModelClassification
    (electra_model.py:205-219) and of the ALPS model (:360-377): SUM of
    ALL positions whose mask equals the code, divided by the NUMBER OF
    CONTIGUOUS RUNS of the code (``count`` increments once per run via
    the ``check`` latch; the sum adds every matching position).  None if
    the code is absent (the reference would divide 0/0)."""
    match = entity_mask == code
    if not match.any():
        return None
    # run count = number of positions where a match starts (previous
    # position is a non-match or the sequence start)
    starts = match & ~np.concatenate(([False], match[:-1]))
    return hidden[match].sum(axis=0) / np.float32(starts.sum())


def all_match_pool(
    hidden: np.ndarray, entity_mask: np.ndarray, code: int
) -> np.ndarray:
    """get_all_entity_embedding (electra_model.py:626-641): mean of the
    hidden states at ALL positions whose mask equals the code.

    Faithfully reproduces a reference quirk: the loop's "get first
    embedding" skip (``if i != current_idx-1``) is DEAD CODE — for a
    strictly increasing scan position ``i`` and ``current_idx`` only
    ever set to a previous match index, ``i == current_idx - 1`` can
    never hold, so EVERY matching position is appended, not just the
    first of each run (pinned by the literal-port parity test).  When
    the code is absent the reference means a single zero vector
    (:637-641) — i.e. returns zeros, unlike the other poolers."""
    match = entity_mask == code
    if not match.any():
        return np.zeros(hidden.shape[-1], hidden.dtype)
    return hidden[match].mean(axis=0)


def generate_code_pairs(
    chem_codes: list[int], dis_codes: list[int], label_length: int
) -> tuple[list[int], list[int]]:
    """generate_code_pairs_list (electra_model.py:645-663): ordered
    cross product of the chem codes before the first -1 with the dis
    codes before the first -1 (W7 pair-list generation), padded with
    (-1, -1) pairs up to ``label_length`` (never truncated — if the
    real pair count exceeds label_length the reference returns the
    longer list and the downstream stack would fail; callers size
    label_length to the batch max like the levi trainer does)."""
    ccs: list[int] = []
    dcs: list[int] = []
    for c in chem_codes:
        if c == -1:
            break
        for d in dis_codes:
            if d == -1:
                break
            ccs.append(int(c))
            dcs.append(int(d))
    for _ in range(len(ccs), label_length):
        ccs.append(-1)
        dcs.append(-1)
    return ccs, dcs


def pool_pairs_one(
    hidden_b: np.ndarray,
    msk_b: np.ndarray,
    chem_codes: list[int],
    dis_codes: list[int],
    label_length: int,
) -> np.ndarray:
    """One document's is_full_sample pair pooling (electra_model.py:
    711-734): [T, H] hidden + [T] mask -> [label_length, 2H] concat of
    the all-match chem and dis means of each ``generate_code_pairs``
    pair.  Pad pairs carry code -1 and, faithfully to the reference,
    pool the -1 PADDING positions of the mask.  The per-(code) means
    are one boolean-matrix GEMM ([C, T] @ [T, H]).  Run per document
    by scorer.fullsample_pooled, the one is_full_sample loop."""
    hs = hidden_b.shape[-1]
    ccs, dcs = generate_code_pairs(list(chem_codes), list(dis_codes), label_length)
    if len(ccs) != label_length:
        raise ValueError(f"{len(ccs)} pairs exceed label_length={label_length}")
    codes = np.unique(np.asarray(ccs + dcs, np.int64))
    eq = (msk_b[None, :] == codes[:, None]).astype(np.float32)  # [C, T]
    counts = eq.sum(axis=1)  # [C]
    sums = eq @ hidden_b  # [C, H]
    means = np.where(
        counts[:, None] > 0, sums / np.maximum(counts, 1)[:, None], 0.0
    ).astype(np.float32)
    code_idx = {int(c): j for j, c in enumerate(codes)}
    ci = np.fromiter((code_idx[c] for c in ccs), np.int64, label_length)
    di = np.fromiter((code_idx[d] for d in dcs), np.int64, label_length)
    out = np.zeros((label_length, 2 * hs), np.float32)
    out[:, :hs] = means[ci]
    out[:, hs:] = means[di]
    return out


def length_grouped_batches(lengths: list[int], batch_size: int) -> list[list[int]]:
    """Deterministic equal-length micro-batching: indices grouped by
    EXACT sequence length (ascending; first-seen order within a group),
    each group chunked to at most ``batch_size``.

    This is the batching shape under which the numpy encoder is
    bit-identical to its one-document-at-a-time result: with no length
    padding, every GEMM's reduction (K) dimension is unchanged, only
    the row (M) count grows, and GEMM output rows are independent of
    sibling-row content — verified empirically and pinned by
    tests/test_electra.py::test_encoder_equal_length_batching_bit_exact.
    (Pad-to-bucket batching does NOT have this property: padding the
    attention GEMMs' K dimension perturbs real-position hidden states
    at the ~5e-7 level, which the pair head amplifies past the 1e-6
    output quantum — measured: 96% of q87's micro-unit margins move.)"""
    groups: dict[int, list[int]] = {}
    for i, n in enumerate(lengths):
        groups.setdefault(n, []).append(i)
    out: list[list[int]] = []
    for n in sorted(groups):
        idxs = groups[n]
        for lo in range(0, len(idxs), batch_size):
            out.append(idxs[lo : lo + batch_size])
    return out


# documents per encoder_forward call; any value gives bit-identical
# hidden states (length_grouped_batches), this one bounds the activations
ENCODER_BATCH = 8


def encoded(w: ElectraWeights, token_ids: list) -> Iterator[tuple[int, np.ndarray]]:
    """The one encoder loop: yields ``(i, [T_i, H] hidden)`` for every
    document ``token_ids[i]``, running ``encoder_forward`` once per
    equal-length group of up to ``ENCODER_BATCH`` documents (so
    ``pad_stack`` never pads).  Documents come out in
    ``length_grouped_batches`` order; each hidden state is bit-identical
    to the document's one-at-a-time forward."""
    for sel in length_grouped_batches([len(t) for t in token_ids], ENCODER_BATCH):
        ids, att, _ = pad_stack([token_ids[i] for i in sel])
        hidden = encoder_forward(w, ids, att)
        for j, i in enumerate(sel):
            yield i, hidden[j]


# ---------------------------------------------------------------------------
# NER token-classification head (electra_model.py:736-829) and the ALPS
# 3-way tanh head (:273-411) — M2 variants beyond the train_sentence head
# ---------------------------------------------------------------------------


@dataclass
class NerHead:
    """ElectraModelEntityTokenClassification head (electra_model.py:
    750-752): dense(embedding_size -> embedding_size*2) -> gelu ->
    out_proj(embedding_size*2 -> 2); input is the hidden state gathered
    at each marked span's entity token index (:818-820
    ``sequence_output[i][entity_token_ids[i]]``).  Same E == H shape
    note as the pair head (module docstring)."""

    dense_w: np.ndarray
    dense_b: np.ndarray
    out_w: np.ndarray
    out_b: np.ndarray

    @classmethod
    def seeded(cls, config: ElectraConfig = DEFAULT_CONFIG, seed: int = 0) -> "NerHead":
        rng = np.random.default_rng(seed)
        e, s = config.embedding_size, config.initializer_range
        return cls(
            rng.normal(0.0, s, (e, e * 2)).astype(np.float32),
            np.zeros(e * 2, np.float32),
            rng.normal(0.0, s, (e * 2, 2)).astype(np.float32),
            np.zeros(2, np.float32),
        )

    def apply(self, gathered: np.ndarray) -> np.ndarray:
        """[N, H] gathered hidden states -> [N, 2] type logits."""
        x = gathered @ self.dense_w + self.dense_b
        x = gelu(x)
        return x @ self.out_w + self.out_b


@dataclass
class AlpsHead:
    """ElectraModelClassificationALPS head (electra_model.py:284-287):
    dense(512, 512) -> TANH -> out_proj(512, 2) — the only tanh head in
    the reference ("although BERT uses tanh here..." applies to the
    OTHER models; this one keeps tanh).  512 is hardcoded in the
    reference (= hidden_size*2 with the runnable 256-hidden config);
    here the shape follows hidden_size*2 so any consistent config runs,
    with the literal 512 at the default config."""

    dense_w: np.ndarray
    dense_b: np.ndarray
    out_w: np.ndarray
    out_b: np.ndarray

    @classmethod
    def seeded(cls, config: ElectraConfig = DEFAULT_CONFIG, seed: int = 0) -> "AlpsHead":
        rng = np.random.default_rng(seed)
        two_h, s = config.hidden_size * 2, config.initializer_range
        return cls(
            rng.normal(0.0, s, (two_h, two_h)).astype(np.float32),
            np.zeros(two_h, np.float32),
            rng.normal(0.0, s, (two_h, 2)).astype(np.float32),
            np.zeros(2, np.float32),
        )

    def apply(self, pooled_concat: np.ndarray) -> np.ndarray:
        x = pooled_concat @ self.dense_w + self.dense_b
        x = np.tanh(x)
        return x @ self.out_w + self.out_b


def alps_pooled(
    hidden: np.ndarray,
    entity_mask: np.ndarray,
    chem_code: int,
    dis_code: int,
    other_code: int,
) -> np.ndarray:
    """ALPS 3-way pooling (electra_model.py:306-411) of one row over its
    document's [T, H] hidden states: exactly ONE of (chem, dis, other)
    codes is -1 and the OTHER TWO pool via ``run_counting_mean_pool``;
    concat order follows :385-399 — chem==-1 -> (disease, other);
    dis==-1 -> (chemical, other); other==-1 -> (chemical, disease).
    Returns the [2H] concat that ``AlpsHead.apply`` turns into logits
    (scorer.score_alps_3way applies it per row at M=1)."""
    hs = hidden.shape[-1]
    if chem_code == -1:
        codes = (dis_code, other_code)
    elif dis_code == -1:
        codes = (chem_code, other_code)
    else:  # other_code == -1
        codes = (chem_code, dis_code)
    a, b = (run_counting_mean_pool(hidden, entity_mask, int(c)) for c in codes)
    pooled = np.zeros(2 * hs, np.float32)
    if a is None or b is None:
        # the reference would crash (None / count); degenerate rows
        # keep a zero concat, train.pool_features' rule
        return pooled
    pooled[:hs] = a
    pooled[hs:] = b
    return pooled
