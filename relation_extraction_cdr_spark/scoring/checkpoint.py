"""Model checkpoint sink + encoder-weight transfer (SURVEY §2 S12/J9).

The reference persists its best model with ``net.save_pretrained(
'models_saved/electra_token_model')`` whenever the test f1 improves
(reference cdr_trainer.py:464-468: ``best_test_results == None or
res_test['f1-score'] > best_test_results['f1-score']`` — strict
greater-than, so ties keep the EARLIER epoch), and warm-starts the RE
model from that NER checkpoint (cdr_trainer.py:223-235).

J9 quirk, faithfully reproduced: the reference's name-matching loop is
DEAD CODE.  ``net_ner_pretrained.encoder.named_parameters()`` is a
generator, exhausted by ``dict(...)`` on cdr_trainer.py:228 before the
``for name1, param1 in net_ner_pretrained_encoder_params`` loop at
:230-232 ever runs (zero iterations; and its ``name1 in
net_encoder_params`` membership test compares a string against
(name, tensor) tuples of another generator, so it could never match
anyway).  The effective semantics is line :234 alone:
``net.encoder.load_state_dict(dict_params_ner)`` — a WHOLESALE
replacement of the destination encoder by the source encoder's state
dict, which (torch ``load_state_dict`` default ``strict=True``) raises
on any missing/unexpected key.  ``transfer_encoder_weights`` below is
exactly that: all encoder-scope arrays copied from source, head kept
from destination, strict key check.  tests/test_checkpoint.py pins the
dead-loop reading with a literal generator-semantics port.

These are model-artifact operations, not dataflow (SURVEY §2.1 S12
"model artifact distribution via --py-files/object store; not a data
sink"): driver-side npz files, shipped to executors via the existing
(config, seed, npz_path) plug point in scoring (pool_features /
score_fulltext), never shuffled.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np

from .electra import ElectraConfig, ElectraWeights

# everything that is not the entity-pair head belongs to `net.encoder`
# in the reference module layout (ElectraModel embeddings + layers +
# embedding projection); the head (`head.*` here = classifier dense +
# out_proj, electra_model.py:544-546) stays with the destination model.
_HEAD_PREFIX = "head."


def encoder_keys(w: ElectraWeights) -> set[str]:
    return {k for k in w.p if not k.startswith(_HEAD_PREFIX)}


def transfer_encoder_weights(
    src: ElectraWeights, dst: ElectraWeights
) -> ElectraWeights:
    """J9: warm-start ``dst``'s encoder from ``src`` (NER-pretrained),
    keeping ``dst``'s pair head — the effective semantics of reference
    cdr_trainer.py:223-235 (see module docstring for why the
    name-filter loop there is a no-op).

    Strict like ``load_state_dict``: raises ValueError when the
    encoder key sets differ (different config shapes)."""
    sk, dk = encoder_keys(src), encoder_keys(dst)
    if sk != dk:
        missing = sorted(dk - sk)
        unexpected = sorted(sk - dk)
        raise ValueError(
            f"encoder state dict mismatch: missing={missing} unexpected={unexpected}"
        )
    for k in sk:
        if src.p[k].shape != dst.p[k].shape:
            raise ValueError(
                f"size mismatch for {k}: {src.p[k].shape} vs {dst.p[k].shape}"
            )
    merged = {k: src.p[k].copy() for k in sk}
    merged.update(
        {k: v.copy() for k, v in dst.p.items() if k.startswith(_HEAD_PREFIX)}
    )
    return ElectraWeights(dst.config, merged)


def with_head(base: ElectraWeights, hp) -> ElectraWeights:
    """Inverse of train.HeadParams.from_weights: a full checkpointable
    weight set = ``base``'s (frozen) encoder + the TRAINED pair head —
    what the reference persists after a training run (encoder +
    classifier in one ``save_pretrained`` state dict)."""
    merged = {k: v.copy() for k, v in base.p.items()}
    merged["head.dense.w"] = hp.w1.copy()
    merged["head.dense.b"] = hp.b1.copy()
    merged["head.out.w"] = hp.w2.copy()
    merged["head.out.b"] = hp.b2.copy()
    return ElectraWeights(base.config, merged)


def save_checkpoint(w: ElectraWeights, path: str | Path) -> None:
    """S12: persist named arrays (the ``save_pretrained`` analog;
    reference cdr_trainer.py:467).  Round-trips bit-for-bit through
    ``ElectraWeights.load_npz`` — the executor-side plug point.

    Written through an open file handle so np.savez cannot silently
    append '.npz' to a suffix-less path (which would desync the name
    BestCheckpoint stores from the file actually on disk)."""
    path = Path(path)
    path.parent.mkdir(parents=True, exist_ok=True)
    with open(path, "wb") as f:
        np.savez(f, **w.p)


def load_checkpoint(path: str | Path, config: ElectraConfig) -> ElectraWeights:
    return ElectraWeights.load_npz(path, config)


class BestCheckpoint:
    """A9 + S12: best-over-epochs tracking with the reference's exact
    comparison (cdr_trainer.py:464-468): save when ``best is None or
    f1 > best_f1`` — STRICT, so a tying later epoch does NOT replace
    the earlier best (``best_epoch`` keeps the first maximum)."""

    def __init__(self, path: str | Path, metric: str = "f1-score"):
        self.path = Path(path)
        self.metric = metric
        self.best_results: dict | None = None
        self.best_epoch: int | None = None

    def update(self, epoch: int, results: dict, w: ElectraWeights) -> bool:
        if (
            self.best_results is None
            or results[self.metric] > self.best_results[self.metric]
        ):
            self.best_results = results
            self.best_epoch = epoch
            save_checkpoint(w, self.path)
            return True
        return False
