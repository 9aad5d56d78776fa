"""Real ELECTRA WordPiece tokenizer (the reference's runtime tokenizer).

The reference tokenizes with a pickled ``transformers==2.11``
``ElectraTokenizer`` (utils/trainer_utils.py:9-18) over the public
google/electra-small-discriminator vocabulary (30,522 entries, the
bert-base-uncased WordPiece vocab) with ``[E]``/``[/E]`` added tokens —
stored lowercased ``[e]``=30522 / ``[/e]``=30523 because
do_lower_case=True; candidate featurization looks the marker ids up in
lowercase (cdr_dataset.py:124-127).  The vocab itself ships in this repo
(data/electra_vocab.txt, extracted by scripts/extract_vocab.py).

This module reimplements the exact tokenize pipeline that
``tokenizer.encode(text)`` runs in transformers 2.11 (BertTokenizer
path, itself a faithful port of the reference's in-repo Google BERT
helpers — the char classes below match models/tokenization.py:197-234):

1. lowercase the text, protecting special tokens ([UNK] [SEP] [PAD]
   [CLS] [MASK]) — per-character lower() so context-sensitive mappings
   (final sigma) behave exactly like the regex-driven original;
2. split on added/special tokens (rstrip'ing each fragment) so
   ``[e]``/``[/e]`` survive as atomic tokens;
3. BasicTokenizer per fragment: clean control chars, space-pad CJK
   ideographs, whitespace-split, lower + NFD-strip-accents, split on
   punctuation;
4. WordPiece greedy longest-match-first over the vocab with ``##``
   continuation pieces; words longer than 100 chars or with an
   unmatchable position collapse to [UNK];
5. ids: added tokens first, then vocab, else [UNK]=100; ``encode``
   wraps with [CLS]=101 ... [SEP]=102 (the reference calls
   ``tokenizer.encode`` which adds special tokens).

Everything is pure deterministic Python state loaded once per process —
executors need only this module + the vocab data file (packaged in the
--py-files zip); no pickle, no broadcast.

Scale note: per-word LRU caches make the cost per token O(1) amortized
on Zipfian text; the kernel runs inside Arrow-batched UDF stages only.
"""

from __future__ import annotations

import functools
import re
import unicodedata
from pathlib import Path

# --- vocab -----------------------------------------------------------------

_VOCAB_FILE = "electra_vocab.txt"


def _load_vocab() -> dict[str, int]:
    # plain path first (repo/zip-extracted layout), importlib.resources as
    # the fallback so a zipimported package still resolves its data file
    p = Path(__file__).resolve().parent.parent / "data" / _VOCAB_FILE
    if p.is_file():
        text = p.read_text(encoding="utf-8")
    else:  # pragma: no cover - zipimport path
        from importlib import resources

        text = (
            resources.files("relation_extraction_cdr_spark")
            .joinpath(f"data/{_VOCAB_FILE}")
            .read_text(encoding="utf-8")
        )
    return {tok: i for i, tok in enumerate(text.splitlines())}


VOCAB: dict[str, int] = _load_vocab()

PAD_ID = VOCAB["[PAD]"]  # 0
UNK_ID = VOCAB["[UNK]"]  # 100
CLS_ID = VOCAB["[CLS]"]  # 101
SEP_ID = VOCAB["[SEP]"]  # 102

# added tokens (utils/trainer_utils.py:12: add_tokens(['[E]', '[/E]']);
# transformers lowercases added tokens when do_lower_case=True)
ADDED_TOKENS: dict[str, int] = {"[e]": len(VOCAB), "[/e]": len(VOCAB) + 1}
E_START_ID = ADDED_TOKENS["[e]"]  # 30522
E_END_ID = ADDED_TOKENS["[/e]"]  # 30523

_SPECIAL_TOKENS = ("[UNK]", "[SEP]", "[PAD]", "[CLS]", "[MASK]")
# unique_added_tokens_encoder: specials + added, the split alphabet of
# step 2 (none is a substring of another, so split order is immaterial)
_SPLIT_TOKENS = _SPECIAL_TOKENS + ("[e]", "[/e]")
_SPLIT_SET = frozenset(_SPLIT_TOKENS)
_NEVER_SPLIT = frozenset(_SPECIAL_TOKENS)

_MAX_INPUT_CHARS_PER_WORD = 100

# --- char classes (models/tokenization.py:197-234) --------------------------


def _is_whitespace(ch: str) -> bool:
    if ch in (" ", "\t", "\n", "\r"):
        return True
    return unicodedata.category(ch) == "Zs"


def _is_control(ch: str) -> bool:
    if ch in ("\t", "\n", "\r"):
        return False
    return unicodedata.category(ch).startswith("C")


def _is_punctuation(ch: str) -> bool:
    cp = ord(ch)
    # all non-letter/number ASCII counts as punctuation (incl. ^ $ `)
    if 33 <= cp <= 47 or 58 <= cp <= 64 or 91 <= cp <= 96 or 123 <= cp <= 126:
        return True
    return unicodedata.category(ch).startswith("P")


def _is_cjk(cp: int) -> bool:
    return (
        0x4E00 <= cp <= 0x9FFF
        or 0x3400 <= cp <= 0x4DBF
        or 0x20000 <= cp <= 0x2A6DF
        or 0x2A700 <= cp <= 0x2B73F
        or 0x2B740 <= cp <= 0x2B81F
        or 0x2B820 <= cp <= 0x2CEAF
        or 0xF900 <= cp <= 0xFAFF
        or 0x2F800 <= cp <= 0x2FA1F
    )


# --- step 1: lowercase protecting special tokens -----------------------------

_LOWER_RE = re.compile(
    "(" + "|".join(re.escape(t) for t in _SPECIAL_TOKENS) + r")|(.+?)"
)


def _lowercase_text(text: str) -> str:
    """Per-char lower() outside special tokens (transformers 2.11
    lowercase_text; per-char so 'Σ' never sees final-sigma context)."""
    if text.isascii() and not any(t in text for t in _SPECIAL_TOKENS):
        return text.lower()  # ASCII fast path: identical result
    return _LOWER_RE.sub(lambda m: m.group(1) or m.group(2).lower(), text)


# --- step 2: split on added/special tokens -----------------------------------


def _split_on_token(tok: str, text: str) -> list[str]:
    result: list[str] = []
    parts = text.split(tok)
    for i, sub in enumerate(parts):
        sub = sub.rstrip()
        if i == 0 and not sub:
            result.append(tok)
        elif i == len(parts) - 1:
            if sub:
                result.append(sub)
        else:
            if sub:
                result.append(sub)
            result.append(tok)
    return result


def _split_on_added(text: str) -> list[str]:
    frags = [text]
    for tok in _SPLIT_TOKENS:
        nxt: list[str] = []
        for frag in frags:
            if frag in _SPLIT_SET:
                nxt.append(frag)
            else:
                nxt.extend(_split_on_token(tok, frag))
        frags = nxt
    return frags


# --- step 3: basic tokenization ----------------------------------------------


_ASCII_CLEAN = {
    i: (" " if chr(i) in " \t\n\r" else (None if i < 32 or i == 127 else chr(i)))
    for i in range(128)
}
_ASCII_CLEAN[0] = None  # NUL dropped explicitly like the unicode path


def _clean_text(text: str) -> str:
    if text.isascii():
        return text.translate(_ASCII_CLEAN)
    out = []
    for ch in text:
        cp = ord(ch)
        if cp == 0 or cp == 0xFFFD or _is_control(ch):
            continue
        out.append(" " if _is_whitespace(ch) else ch)
    return "".join(out)


def _pad_cjk(text: str) -> str:
    if text.isascii():
        return text
    out = []
    for ch in text:
        if _is_cjk(ord(ch)):
            out.append(" ")
            out.append(ch)
            out.append(" ")
        else:
            out.append(ch)
    return "".join(out)


def _strip_accents(token: str) -> str:
    if token.isascii():
        return token
    return "".join(
        ch for ch in unicodedata.normalize("NFD", token) if unicodedata.category(ch) != "Mn"
    )


def _split_on_punc(token: str) -> list[str]:
    chunks: list[str] = []
    word: list[str] = []
    for ch in token:
        if _is_punctuation(ch):
            if word:
                chunks.append("".join(word))
                word = []
            chunks.append(ch)
        else:
            word.append(ch)
    if word:
        chunks.append("".join(word))
    return chunks


@functools.lru_cache(maxsize=1 << 17)
def _basic_word(token: str) -> tuple[str, ...]:
    """BasicTokenizer body for one whitespace token (do_lower_case=True,
    never_split = the special tokens)."""
    if token in _NEVER_SPLIT:
        return (token,)
    token = _strip_accents(token.lower())
    return tuple(_split_on_punc(token))


def basic_tokenize(text: str) -> list[str]:
    """BasicTokenizer.tokenize: clean, CJK-pad, whitespace-split,
    lower+strip-accents, punctuation-split."""
    text = _pad_cjk(_clean_text(text))
    out: list[str] = []
    for token in text.split():
        out.extend(_basic_word(token))
    return [t for t in out if t]


# --- step 4: WordPiece -------------------------------------------------------


@functools.lru_cache(maxsize=1 << 17)
def wordpiece(token: str) -> tuple[str, ...]:
    """Greedy longest-match-first WordPiece of one basic token."""
    if len(token) > _MAX_INPUT_CHARS_PER_WORD:
        return ("[UNK]",)
    pieces: list[str] = []
    start = 0
    n = len(token)
    while start < n:
        end = n
        cur = None
        while start < end:
            sub = token[start:end]
            if start > 0:
                sub = "##" + sub
            if sub in VOCAB:
                cur = sub
                break
            end -= 1
        if cur is None:
            return ("[UNK]",)
        pieces.append(cur)
        start = end
    return tuple(pieces)


# --- full pipeline -----------------------------------------------------------


def tokenize(text: str) -> list[str]:
    """text -> WordPiece tokens, exactly ``tokenizer.tokenize(text)`` of
    the reference's pickled ElectraTokenizer (transformers 2.11)."""
    text = _lowercase_text(text)
    if not text.strip():
        return []
    out: list[str] = []
    for frag in _split_on_added(text):
        if frag in _SPLIT_SET:
            out.append(frag)
        else:
            for word in basic_tokenize(frag):
                out.extend(wordpiece(word))
    return out


def token_to_id(token: str) -> int:
    """Single token -> id (added tokens first, then vocab, else [UNK] —
    transformers' _convert_token_to_id_with_added_voc)."""
    tid = ADDED_TOKENS.get(token)
    if tid is not None:
        return tid
    return VOCAB.get(token, UNK_ID)


def vocab_id(token: str) -> int | None:
    """id if the token is genuinely in the vocabulary/added set, else
    None — use when building token-id match sets so out-of-vocab words
    can never alias to [UNK] and match every unknown token."""
    return ADDED_TOKENS.get(token, VOCAB.get(token))


def convert_tokens_to_ids(tokens: list[str]) -> list[int]:
    return [token_to_id(t) for t in tokens]


def encode(text: str) -> list[int]:
    """``tokenizer.encode(text)``: [CLS] + ids + [SEP] (add_special_tokens
    defaults True in transformers 2.11; the reference relies on it,
    cdr_dataset.py:124-127)."""
    return [CLS_ID, *convert_tokens_to_ids(tokenize(text)), SEP_ID]
