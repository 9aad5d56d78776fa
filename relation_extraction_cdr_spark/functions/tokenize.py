"""Tokenizer seam used by featurization (real ELECTRA WordPiece).

Round 1 shipped a deterministic md5-hash stand-in behind this seam;
round 2 swaps in the REAL tokenizer: the reference's pickled ELECTRA
WordPiece vocabulary (utils/trainer_utils.py:9-18, 30,522 entries +
``[e]``=30522/``[/e]``=30523 added markers) with the exact
transformers-2.11 tokenize pipeline — see functions/wordpiece.py for the
algorithm and tests/reference_ports/tokenizer_port.py for the literal
port the kernel is golden-tested against.

Seam contract (unchanged from round 1 — the distributed featurization
plan never knew which vocab it ran over):

- ``encode(text) -> list[int]``: full ``tokenizer.encode`` semantics,
  [CLS] ... [SEP] included (the reference featurizes with ``.encode``,
  cdr_dataset.py:124-127; masks treat the specials as 'O' rows).
- ``piece_to_id(piece)``: single-token id lookup (added tokens first,
  then vocab, [UNK] fallback) — cdr_dataset.py:286-287 looks the marker
  ids up through exactly this path.
- ``E_START_ID``/``E_END_ID``/``PAD_ID``: the marker/pad ids downstream
  operators compare against (now 30522/30523/0).
- ``tokenize_pieces(text)``: the token-string stream (tests/debugging).
"""

from __future__ import annotations

from .wordpiece import (  # noqa: F401  (re-exported seam surface)
    ADDED_TOKENS,
    CLS_ID,
    E_END_ID,
    E_START_ID,
    PAD_ID,
    SEP_ID,
    UNK_ID,
    VOCAB,
    encode,
    token_to_id,
    tokenize,
    wordpiece,
)


def piece_to_id(piece: str) -> int:
    """Single token -> id (added tokens, then vocab, else [UNK])."""
    return token_to_id(piece)


def tokenize_pieces(text: str) -> list[str]:
    """text -> WordPiece token strings (no ids, no specials)."""
    return tokenize(text)


def vocab_id(token: str) -> int | None:
    """id if the token is genuinely in the vocabulary/added set, else
    None — use when building token-id match sets so out-of-vocab words
    can never alias to [UNK] and match every unknown token."""
    tid = ADDED_TOKENS.get(token)
    if tid is not None:
        return tid
    return VOCAB.get(token)
