"""The relational restatement of the per-document mention, inventory and
pair kernels, kept as the tests' oracle for them
(operators.mentions.detect_mentions_py / entity_inventory_py and
operators.candidates.candidate_pairs_py):

- ``detect_mentions``: tokens with char offsets from posexplode and a
  running window sum of token lengths; n-gram surfaces (n = 1 ..
  longest term) from window ``lead``; a broadcast equi-join on the
  gazetteer; longest-match-wins as interval scheduling with a running
  ``max(end)`` window ordered by (start asc, length desc, mesh_id).
- ``entity_inventory``: one groupBy per (url, mesh_id), the last
  mention's surface and type.
- ``candidate_pairs`` / ``label_pairs``: the per-document chemical x
  disease equi-join on url and a left join on the gold pairs.

The Levi side of the oracle is tests/test_candidates.py's
``_levi_rejected_oracle``.
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


def candidate_pairs(inventory: DataFrame) -> DataFrame:
    """Per-doc chemical x disease pairs from the entity inventory.

    inventory: (url, mesh_id, positions, rep_text, type).
    Returns (url, chem_mesh, dis_mesh, chem_positions, dis_positions,
    chem_text, dis_text).
    """
    chems = inventory.where(F.col("type") == "Chemical").select(
        "url",
        F.col("mesh_id").alias("chem_mesh"),
        F.col("positions").alias("chem_positions"),
        F.col("rep_text").alias("chem_text"),
    )
    dis = inventory.where(F.col("type") == "Disease").select(
        "url",
        F.col("mesh_id").alias("dis_mesh"),
        F.col("positions").alias("dis_positions"),
        F.col("rep_text").alias("dis_text"),
    )
    # equi-join on url == per-doc cartesian product (J1)
    return chems.join(dis, "url")


def label_pairs(pairs: DataFrame, gold: DataFrame) -> DataFrame:
    """label=1 iff (url, chem, dis) is a gold CID pair (J2).

    gold: (url, chem_mesh, dis_mesh).  Left join + when — broadcast when
    the gold side is small (test/eval mode only; production has no gold).
    """
    g = gold.select("url", "chem_mesh", "dis_mesh", F.lit(1).alias("label"))
    return pairs.join(g, ["url", "chem_mesh", "dis_mesh"], "left").fillna(
        {"label": 0}
    )
