"""Gazetteer-based mention detection (SURVEY §2.3 J8 + §2.5 W6).

Reference behavior: convert_alps_to_cdr.py:65-88 scans document text
left-to-right matching the LONGEST gazetteer surface at each offset
(entities sorted by length desc at :65), emitting (start, end, term, id)
mention rows.  The CDR path consumes equivalent mention rows from the
PubTator file (cdr_dataset.py:60-66).

Spark-first design (no per-row Python, one narrow pass + one per-doc
window):

1. tokens with char offsets: posexplode + a running window sum of token
   lengths (punctuation-stripped clean forms) — vectorized, O(n log n)
   per doc; shares its sort with the n-gram lead window below.
2. n-gram candidate surfaces for n=1..max_term_words via window ``lead``
   over (url, token_idx) — max_term_words is derived from the gazetteer
   (a handful), so this is a constant small fan-out.
3. broadcast equi-join candidate surface == gazetteer term (the MeSH
   gazetteer is always broadcast — BASELINE north_star).
4. longest-match-wins overlap resolution: interval scheduling via a
   running ``max(end)`` window ordered by (start asc, length desc)
   — reproduces the reference's greedy left-to-right longest-match scan
   (matches consumed by an earlier kept match are dropped).

Scale: the only shuffle is the hash partition by url for the window —
unavoidable for per-doc ordering and well-distributed (url is unique).
At 100 TB the gazetteer join stays map-side (broadcast); AQE handles any
residual skew from pathologically long documents.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

def detect_mentions(
    pages: DataFrame,
    gazetteer: DataFrame,
    text_col: str = "text",
    key_col: str = "url",
    max_term_words: int | None = None,
) -> DataFrame:
    """mentions(url, mesh_id, mention_text, type, start, end).

    ``gazetteer``: (term, mesh_id, type) — lowercase surfaces; broadcast.

    Offsets are computed with a running window sum over the exploded
    tokens (O(n log n) per doc, vectorized) — NOT an array fold, whose
    array_append accumulator is O(n^2) per document and collapses on
    long web pages.
    """
    if max_term_words is None:
        max_term_words = (
            gazetteer.select(F.max(F.size(F.split("term", " "))).alias("m")).first()["m"]
        ) or 1

    raw = pages.select(
        F.col(key_col).alias("url"),
        F.posexplode(F.split(F.col(text_col), " ")).alias("i", "tok"),
    )
    lead_stripped = F.regexp_replace("tok", r"^[^a-z0-9]+", "")
    w = Window.partitionBy("url").orderBy("i")
    # char offset of token i = sum of (len+1) of tokens 0..i-1
    tok_start = F.coalesce(
        F.sum(F.length("tok") + 1).over(w.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0),
    )
    toks = raw.select(
        "url",
        "i",
        F.regexp_replace(lead_stripped, r"[^a-z0-9]+$", "").alias("clean"),
        (tok_start + (F.length("tok") - F.length(lead_stripped))).cast("int").alias("cstart"),
    ).withColumn("cend", (F.col("cstart") + F.length("clean")).cast("int"))

    # materialize the lead columns first (window exprs are not allowed
    # inside a generator), then assemble n-gram structs from plain columns
    lead_cols = []
    for k in range(1, max_term_words):
        lead_cols.append(F.lead("clean", k).over(w).alias(f"clean_{k}"))
        lead_cols.append(F.lead("cend", k).over(w).alias(f"cend_{k}"))
    toks = toks.select("url", "clean", "cstart", "cend", *lead_cols)

    grams = []
    for n in range(1, max_term_words + 1):
        parts = [F.col("clean")] + [F.col(f"clean_{k}") for k in range(1, n)]
        end_n = F.col("cend") if n == 1 else F.col(f"cend_{n-1}")
        grams.append(
            F.struct(
                F.concat_ws(" ", *parts).alias("surface"),
                F.col("cstart").alias("start"),
                end_n.alias("end"),
            )
        )
    cands = (
        toks.select("url", F.explode(F.array(*grams)).alias("g"))
        .select("url", "g.surface", "g.start", "g.end")
        .where(F.col("end").isNotNull() & (F.col("surface") != ""))
    )

    matched = cands.join(
        F.broadcast(gazetteer), cands.surface == gazetteer.term, "inner"
    ).select(
        "url",
        "mesh_id",
        F.col("surface").alias("mention_text"),
        "type",
        "start",
        "end",
    )

    # longest-match-wins greedy: order by (start, longest first); keep a
    # match iff it starts at/after the furthest end seen so far
    order = Window.partitionBy("url").orderBy(
        F.col("start").asc(), (F.col("end") - F.col("start")).desc(), F.col("mesh_id")
    )
    prev_max_end = F.max("end").over(
        order.rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        matched.withColumn("_pme", prev_max_end)
        .where(F.col("_pme").isNull() | (F.col("start") >= F.col("_pme")))
        .drop("_pme")
    )


def entity_inventory(mentions: DataFrame) -> DataFrame:
    """Per-doc entity inventory (SURVEY §1.2, cdr_dataset.py:54-75):
    positions list + representative surface (LAST mention in document
    order wins — dict-overwrite semantics) + type."""
    # total order for the "last mention" pick: start alone is ambiguous
    # when two mentions of the same (url, mesh_id) share a start offset
    # (identical-span gazetteer entries with different types) — max_by
    # over a bare start would then be nondeterministic across runs.  The
    # struct tiebreak (end, then the value itself) makes the pick stable;
    # the shipped corpora are start-ordered and tie-free so this matches
    # the reference's file-line-order dict overwrite exactly.
    # ONE max_by over the full struct, projected to both fields: two
    # independent max_by calls could take rep_text and type from
    # DIFFERENT mentions on an exact (start, end) tie, emitting a
    # (rep_text, type) combination no input row had
    winner = F.max_by(
        F.struct("mention_text", "type"),
        F.struct("start", "end", "mention_text", "type"),
    )
    return mentions.groupBy("url", "mesh_id").agg(
        F.array_sort(F.collect_list(F.struct("start", "end"))).alias("positions"),
        winner.getField("mention_text").alias("rep_text"),
        # LAST mention's type, like rep_text: the reference's dict entry
        # is overwritten per mention (cdr_dataset.py:72-75), and
        # F.first over an unordered groupBy is nondeterministic anyway
        winner.getField("type").alias("type"),
    )


def gazetteer_dict(gazetteer: DataFrame) -> dict[str, list[tuple[str, str]]]:
    """term -> [(mesh_id, type)] plain dict for in-UDF matching (the
    same payload a broadcast variable carries; ~MBs for 58k MeSH rows)."""
    out: dict[str, list[tuple[str, str]]] = {}
    for r in gazetteer.collect():
        out.setdefault(r["term"], []).append((r["mesh_id"], r["type"]))
    return out


def detect_mentions_py(
    text: str,
    gaz: dict[str, list[tuple[str, str]]],
    max_term_words: int,
) -> list[dict]:
    """Plain-python gazetteer matcher with EXACTLY the semantics of the
    relational ``detect_mentions`` (pytest-verified equal): space-split
    tokens with punctuation-stripped clean forms and char offsets,
    n-gram candidates (n=1..max_term_words), greedy longest-match-wins
    ordered by (start asc, length desc, mesh_id asc) with a running
    max-end cut.  Used inside the doc-level fused UDF so the 100 TB
    pipeline needs NO token explode / window shuffle for mention
    detection — the gazetteer dict rides in the UDF closure/broadcast.
    """
    toks: list[tuple[str, int, int]] = []  # (clean, cstart, cend)
    off = 0
    for tok in text.split(" "):
        # faithful to the relational regexes [^a-z0-9]: strip leading and
        # trailing chars outside the exact ascii-lower+digit class
        alnum = "abcdefghijklmnopqrstuvwxyz0123456789"
        i0 = 0
        while i0 < len(tok) and tok[i0] not in alnum:
            i0 += 1
        i1 = len(tok)
        while i1 > i0 and tok[i1 - 1] not in alnum:
            i1 -= 1
        clean = tok[i0:i1]
        toks.append((clean, off + i0, off + i0 + len(clean)))
        off += len(tok) + 1
    matches: list[tuple[int, int, str, str, str, str]] = []
    n_toks = len(toks)
    for i in range(n_toks):
        # build the n-gram surface incrementally instead of re-joining
        # the slice for every n — this kernel runs once per document at
        # corpus scale, so constant factors matter
        surface = toks[i][0]
        for n in range(1, max_term_words + 1):
            j = i + n - 1
            if j >= n_toks:
                break
            if n > 1:
                surface = surface + " " + toks[j][0]
            if surface:
                for mesh_id, typ in gaz.get(surface, ()):
                    matches.append(
                        (toks[i][1], toks[j][2], mesh_id, surface, typ, surface)
                    )
    matches.sort(key=lambda m: (m[0], -(m[1] - m[0]), m[2]))
    out: list[dict] = []
    max_end = -1
    for start, end, mesh_id, surface, typ, _ in matches:
        if start >= max_end:
            out.append(
                dict(mesh_id=mesh_id, mention_text=surface, type=typ,
                     start=start, end=end)
            )
            max_end = max(max_end, end)
        # dropped matches do not extend max_end (same as the window rule:
        # prev_max_end is the running max over ALL prior candidates)
        else:
            max_end = max(max_end, end)
    return out


def entity_inventory_py(mentions: list[dict]) -> list[dict]:
    """``entity_inventory`` over one document's ``detect_mentions_py``
    output (pytest-verified equal), entities in first-mention order.
    Its starts strictly increase, so the reference's per-mention dict
    overwrite (cdr_dataset.py:72-75) is the last-mention rule."""
    inv: dict[str, dict] = {}
    for m in mentions:
        e = inv.setdefault(m["mesh_id"], {"mesh_id": m["mesh_id"], "positions": []})
        e["positions"].append({"start": m["start"], "end": m["end"]})
        e["rep_text"] = m["mention_text"]
        e["type"] = m["type"]
    return list(inv.values())
