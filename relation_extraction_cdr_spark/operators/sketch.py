"""Deterministic Bloom-filter sketch for join pre-filtering.

The 100 TB use: before shuffling a huge fact table into a join, test
each row against a broadcast Bloom filter built from the (much smaller)
key side — rows that cannot match never enter the exchange.  Spark's own
runtime filters do this opportunistically; this operator makes the
technique explicit, tunable, and — because the bit positions come from
md5 — bit-identical in any engine, so the whole pre-filter is
DuckDB-oracle-checkable (unlike engine-native Bloom/HLL sketches, whose
layouts differ across systems).

Layout: m bits in m/32 words of 32 bits each (words stay positive, so
shift/mask semantics are identical across engines — no sign-bit cases);
k hash lanes, lane i of key x = int(md5(f"{i}|{x}")[:4], 16) % m
(16-bit nibble lanes keep the SQL rendering small).  False positives
only, never false negatives.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterable

import pyspark.sql.functions as F

DEFAULT_M = 4096  # bits; 128 32-bit words
DEFAULT_K = 3


def _check_m(m: int) -> None:
    """m must pack into whole 32-bit words AND fit the 16-bit lanes —
    bits above 65535 can never be set, so a larger m silently stops
    improving the fp rate; fail loudly instead."""
    if m % 32 or m > (1 << 16) or m <= 0:
        raise ValueError(f"m={m}: need 0 < m <= 65536 and m % 32 == 0")


def _positions(key: str, m: int, k: int) -> list[int]:
    return [
        int(hashlib.md5(f"{i}|{key}".encode()).hexdigest()[:4], 16) % m
        for i in range(k)
    ]


def build_bloom(keys: Iterable, m: int = DEFAULT_M, k: int = DEFAULT_K) -> list[int]:
    """Driver-side build over the SMALL side's keys -> m/32 words.

    The small side is by definition collectable (it is the side you
    would broadcast); at cluster scale build it with a distributed
    BIT_OR aggregate over lane positions instead (exactly what the SQL
    oracle rendering does), then broadcast the 128-word result.
    """
    _check_m(m)
    words = [0] * (m // 32)
    for key in keys:
        for p in _positions(str(key), m, k):
            words[p // 32] |= 1 << (p % 32)
    return words


def build_bloom_distributed(df, key_col: str, m: int = DEFAULT_M, k: int = DEFAULT_K) -> list[int]:
    """Distributed Bloom build: the 100 TB shape.

    ``build_bloom`` funnels every key through the driver — fine for a
    dimension you would broadcast anyway, fatal when the "small" side of
    a pre-filter is 10^8 keys.  This variant computes the k lane
    positions executor-side (one narrow projection), aggregates the bit
    words with a single m/32-group BIT_OR shuffle, and collects ONLY the
    packed words (<= m/32 rows, e.g. 2048 for m=65536) — the driver never
    sees a key.  Bit-identical to ``build_bloom`` on the same keys."""
    _check_m(m)
    lanes = df.select(
        F.explode(
            F.array(*[_lane_expr(F.col(key_col), i, m) for i in range(k)])
        ).alias("p")
    )
    rows = (
        lanes.select(
            F.floor(F.col("p") / 32).cast("int").alias("wi"),
            # call_function: the DSL shiftleft() only takes a literal shift
            F.call_function(
                "shiftleft", F.lit(1).cast("long"), (F.col("p") % 32).cast("int")
            ).alias("bit"),
        )
        .groupBy("wi")
        .agg(F.bit_or("bit").alias("word"))
        .collect()
    )
    words = [0] * (m // 32)
    for r in rows:
        words[r["wi"]] = int(r["word"])
    return words


def _lane_expr(col, i: int, m: int):
    """Spark column: lane i bit position of the stringified key."""
    hex4 = F.substring(F.md5(F.concat(F.lit(f"{i}|"), col.cast("string"))), 1, 4)
    return F.conv(hex4, 16, 10).cast("long") % m


def _lane_sql(expr: str, i: int, m: int) -> str:
    """SQL rendering of ``_lane_expr`` (DuckDB: nibble-trick hex->int,
    no conv())."""
    nib = (
        lambda pos: f"(STRPOS('0123456789abcdef', "
        f"SUBSTR(MD5('{i}|' || CAST({expr} AS VARCHAR)), {pos}, 1)) - 1)"
    )
    return f"(({nib(1)} * 4096 + {nib(2)} * 256 + {nib(3)} * 16 + {nib(4)}) % {m})"


def with_bloom_pass(
    df,
    key_col: str,
    words: list[int],
    m: int = DEFAULT_M,
    k: int = DEFAULT_K,
    out_col: str = "bloom_pass",
):
    """df + boolean ``out_col``: the hot-path form.  Lane positions are
    bound to projection columns first (the Catalyst bind-before-reuse
    rule), so the k md5 chains run once per row even though each lane
    feeds both the word index and the shift amount."""
    _check_m(m)
    if len(words) != m // 32:
        raise ValueError(f"words has {len(words)} entries, want {m // 32}")
    lane_cols = [f"_bp{i}" for i in range(k)]
    bound = df.select(
        "*", *[_lane_expr(F.col(key_col), i, m).alias(c) for i, c in enumerate(lane_cols)]
    )
    arr = F.array(*[F.lit(w).cast("long") for w in words])
    cond = F.lit(True)
    for c in lane_cols:
        p = F.col(c)
        # floor division explicitly: DuckDB CAST(float AS INT) rounds to
        # nearest while Spark truncates — // on both sides instead
        word = F.element_at(arr, F.floor(p / 32).cast("int") + 1)
        # call_function: the DSL shiftright() only takes a literal shift
        shifted = F.call_function("shiftright", word, (p % 32).cast("int"))
        cond = cond & (shifted.bitwiseAND(F.lit(1)) == 1)
    return bound.withColumn(out_col, cond).drop(*lane_cols)
