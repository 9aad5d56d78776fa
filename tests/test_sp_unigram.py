"""SentencePiece unigram kernel tests (functions/sp_unigram.py).

Covers: hand-computed Viterbi goldens on a controlled mini-vocab, the
documented tie-break, the has_single_node <unk> guard and brute-force
equivalence on the REAL wiki-ja model for short words."""

from __future__ import annotations

import itertools
import math

import pytest

from relation_extraction_cdr_spark.functions import sp_unigram as sp


@pytest.fixture
def mini_vocab(monkeypatch):
    """Install a tiny piece table: ids are positions in the real-model id
    space convention (0 = <unk>)."""

    def install(pieces: dict[str, tuple[int, float]]):
        monkeypatch.setattr(sp, "PIECES", pieces)
        monkeypatch.setattr(sp, "MAX_PIECE_LEN", max(len(p) for p in pieces))
        mn = min(s for _, s in pieces.values())
        monkeypatch.setattr(sp, "MIN_SCORE", mn)
        monkeypatch.setattr(sp, "UNK_SCORE", mn - 10.0)
        monkeypatch.setattr(
            sp, "_SINGLE_CHARS", frozenset(p for p in pieces if len(p) == 1)
        )
        sp.viterbi.cache_clear()

    yield install
    sp.viterbi.cache_clear()


def test_viterbi_prefers_higher_total_score(mini_vocab):
    mini_vocab({"▁": (1, -1.0), "a": (2, -2.0), "b": (3, -2.0), "ab": (4, -3.5)})
    pieces, ids, logprob = sp.viterbi("▁ab")
    assert pieces == ("▁", "ab")
    assert ids == (1, 4)
    assert logprob == -4.5  # beats ▁+a+b = -5.0


def test_viterbi_single_piece_wins_when_best(mini_vocab):
    mini_vocab({"▁ab": (5, -3.0), "▁": (1, -1.0), "a": (2, -1.0), "b": (3, -1.0)})
    assert sp.viterbi("▁ab")[0] == ("▁ab",)


def test_tie_break_fewer_pieces(mini_vocab):
    # ▁+ab and ▁+a+b both sum to exactly -5.0 -> fewer pieces wins
    mini_vocab({"▁": (1, -1.0), "a": (2, -2.0), "b": (3, -2.0), "ab": (4, -4.0)})
    pieces, ids, logprob = sp.viterbi("▁ab")
    assert pieces == ("▁", "ab") and logprob == -5.0


def test_unk_node_only_without_single_char_piece(mini_vocab):
    mini_vocab({"▁": (1, -1.0), "a": (2, -2.0)})
    pieces, ids, logprob = sp.viterbi("▁aq")
    assert pieces == ("▁", "a", "q")
    assert ids == (1, 2, 0)  # q -> <unk>=0
    assert logprob == pytest.approx(-1.0 - 2.0 + sp.UNK_SCORE)


def test_unk_never_shadows_existing_single_char(mini_vocab):
    # 'a' covered by a single-char piece: no unk node may compete, even
    # though the unk id (0) would sort lexicographically first on a tie
    mini_vocab({"▁": (1, -1.0), "a": (2, -21.0)})
    assert sp.viterbi("▁a")[1] == (1, 2)


def _brute_force(word: str):
    """All segmentations into vocab pieces / single-char unks, best by
    the documented (cost, n_pieces, ids_csv) comparator."""
    n = len(word)
    best = None
    for cuts in itertools.chain.from_iterable(
        itertools.combinations(range(1, n), k) for k in range(n)
    ):
        bounds = [0, *cuts, n]
        segs = [word[bounds[i] : bounds[i + 1]] for i in range(len(bounds) - 1)]
        cost, ids = 0.0, []
        ok = True
        for s in segs:
            if s in sp.PIECES:
                pid, score = sp.PIECES[s]
                cost, ids = cost - score, ids + [pid]
            elif len(s) == 1 and s not in sp._SINGLE_CHARS:
                cost, ids = cost - sp.UNK_SCORE, ids + [0]
            else:
                ok = False
                break
        if ok:
            key = (cost, len(segs), ",".join(map(str, ids)))
            if best is None or key < best[0]:
                best = (key, tuple(ids))
    return best


def test_brute_force_equivalence_real_model():
    """Viterbi == exhaustive search on the real wiki-ja model for a mix
    of Japanese / Latin / unknown-char words."""
    for w in ["▁日本", "▁です", "▁the", "▁fox", "▁東京都", "▁qzx", "▁a1b", "▁ツチノコ"]:
        key, ids = _brute_force(w)
        pieces, got_ids, logprob = sp.viterbi(w)
        assert got_ids == ids, w
        assert -logprob == pytest.approx(key[0]), w
        assert "".join(pieces) == w, w  # surfaces reconstruct the word


def test_cost_e6_fixed_point_contract():
    # floor(x*1e6 + 0.5) of the exact double — the same arithmetic the
    # SQL oracle runs, so the fixed-point value is engine-exact
    pieces, ids, logprob = sp.viterbi("▁the")
    cost_e6 = int(math.floor(-logprob * 1e6 + 0.5))
    assert cost_e6 > 0
    assert abs(cost_e6 / 1e6 - (-logprob)) <= 5e-7


# --- hypothesis property: Viterbi == exhaustive on the REAL model ----------

from hypothesis import given, settings
from hypothesis import strategies as st

_ALPHABET = "の日本語あいうabcxyz019.▲ツ東京-"


@settings(max_examples=200, deadline=None)
@given(st.text(alphabet=_ALPHABET, min_size=1, max_size=6))
def test_viterbi_equals_bruteforce_property(word):
    w = "▁" + word
    key, ids = _brute_force(w)
    pieces, got_ids, logprob = sp.viterbi(w)
    assert got_ids == ids
    assert -logprob == pytest.approx(key[0])
    assert "".join(pieces) == w
