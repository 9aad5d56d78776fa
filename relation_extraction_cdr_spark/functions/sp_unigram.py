"""SentencePiece unigram segmentation (the reference's ALPS/Japanese
tokenizer), the per-word kernel of q61 (operators.features.sp_segments).

The reference tokenizes ALPS (Japanese) text with the wiki-ja
SentencePiece unigram model (``models/tokenization.py:155-194``,
FullTokenizer: lower() → ``sp.EncodeAsPieces`` → ids from the .vocab
TSV line order, unk=0).  No ``sentencepiece`` package is a dependency,
so this module implements the unigram encoding algorithm itself (Kudo
2018, "Subword Regularization"; the ``EncodeAsPieces`` Viterbi path of sentencepiece's public
``unigram_model.cc``) over the piece/score table extracted from the
shipped model protobuf (data/sp_wiki_ja.tsv, produced by
scripts/extract_sp_model.py — which also verifies that model piece
order equals .vocab line order, so model indices ARE the load_vocab
ids).

Algorithm, per whitespace-delimited token (pieces never contain an
internal ``▁`` in this model — verified at extraction — so per-word
lattices are exactly equivalent to the whole-sentence lattice):

1. the caller hands each word in already normalized and ``▁``-prefixed
   (add_dummy_prefix + whitespace escaping);
2. lattice: every vocab piece of type NORMAL matching a substring is a
   node scored by its unigram log-prob; positions not covered by any
   single-character piece get a one-character ``<unk>`` node scored
   ``min_normal_score - 10.0`` (sentencepiece's kUnkPenalty, with the
   has_single_node guard from unigram_model.cc Lattice population);
3. Viterbi: max-total-score segmentation.  Score ties (exactly equal
   float64 sums of different piece sets) are broken deterministically:
   fewer pieces first, then lexicographically smallest ids-CSV string —
   sentencepiece itself resolves such ties by lattice insertion order;
   with real-valued scores ties are measure-zero, and a fixed rule keeps
   this kernel bit-reproducible across engines (the DuckDB oracle
   implements the identical comparator);
4. ids: piece → model index (== .vocab line, == load_vocab id), unknown
   surface → 0 (models/tokenization.py:168: ``unk_info=0``).

Pure deterministic module state loaded once per process; executors need
only this module + the data file. Per-word LRU caching amortizes the
O(L·maxlen) lattice on Zipfian text; runs inside Arrow-batched UDF
stages only.
"""

from __future__ import annotations

import functools
from pathlib import Path

_SP_FILE = "sp_wiki_ja.tsv"
_UNK_PENALTY = 10.0  # sentencepiece unigram kUnkPenalty
UNK_ID = 0  # <unk> is row 0 of the model (type UNKNOWN)


def _load_pieces() -> dict[str, tuple[int, float]]:
    p = Path(__file__).resolve().parent.parent / "data" / _SP_FILE
    if p.is_file():
        text = p.read_text(encoding="utf-8")
    else:  # pragma: no cover - zipimport path
        from importlib import resources

        text = (
            resources.files("relation_extraction_cdr_spark")
            .joinpath(f"data/{_SP_FILE}")
            .read_text(encoding="utf-8")
        )
    pieces: dict[str, tuple[int, float]] = {}
    for idx, line in enumerate(text.splitlines()):
        piece, score, ptype = line.split("\t")
        if int(ptype) == 1:  # NORMAL pieces only enter the lattice
            pieces[piece] = (idx, float(score))
    return pieces


PIECES: dict[str, tuple[int, float]] = _load_pieces()
MAX_PIECE_LEN = max(len(p) for p in PIECES)
MIN_SCORE = min(s for _, s in PIECES.values())
UNK_SCORE = MIN_SCORE - _UNK_PENALTY
_SINGLE_CHARS = frozenset(p for p in PIECES if len(p) == 1)


@functools.lru_cache(maxsize=1 << 17)
def viterbi(word: str) -> tuple[tuple[str, ...], tuple[int, ...], float]:
    """Max-score unigram segmentation of one (already ▁-prefixed) word.

    Returns (piece surfaces, piece ids, total log-prob).  best[j] holds
    the winning (neg_cost, n_pieces, ids_csv, pieces, ids) prefix ending
    at char j; comparison order IS the tie-break contract (step 3 of the
    module docstring) — ids_csv is compared as an ASCII string, matching
    the DuckDB oracle's VARCHAR comparator byte for byte.
    """
    n = len(word)
    # state: (cost=-logprob, n_pieces, ids_csv, pieces, ids)
    best: list[tuple[float, int, str, tuple[str, ...], tuple[int, ...]] | None] = [
        None
    ] * (n + 1)
    best[0] = (0.0, 0, "", (), ())
    for i in range(n):
        cur = best[i]
        if cur is None:  # pragma: no cover - lattice is always connected
            continue
        cost, np_, csv, pcs, ids = cur
        hi = min(n, i + MAX_PIECE_LEN)
        for j in range(i + 1, hi + 1):
            sub = word[i:j]
            hit = PIECES.get(sub)
            if hit is None:
                continue
            pid, score = hit
            cand = (
                cost - score,
                np_ + 1,
                f"{csv},{pid}" if csv else str(pid),
                pcs + (sub,),
                ids + (pid,),
            )
            prev = best[j]
            if prev is None or cand[:3] < prev[:3]:
                best[j] = cand
        if word[i] not in _SINGLE_CHARS:  # has_single_node guard → unk node
            cand = (
                cost - UNK_SCORE,
                np_ + 1,
                f"{csv},{UNK_ID}" if csv else str(UNK_ID),
                pcs + (word[i],),
                ids + (UNK_ID,),
            )
            prev = best[i + 1]
            if prev is None or cand[:3] < prev[:3]:
                best[i + 1] = cand
    cost, _, _, pcs, ids = best[n]  # type: ignore[misc]
    return pcs, ids, -cost
