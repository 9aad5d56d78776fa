"""The triple factory: pages -> (chemical, CID:induces, disease) triples.

Lifecycle (SURVEY §3.1 Spark equivalent):

    pages --extract_text(JVM)--> docs(url, text)
          [--left join gold_pairs (eval mode)]
          [--url-hash repartition of heavy docs (salt_partitions)]
          --ONE mapInPandas per doc (scoring.scorer.fused_score_docs):
            mentions -> pairs + Levi filter -> evidence -> features
            -> scorer--> scored
          --groupBy dedup--> triples + adjacency

Shuffle budget (scale analysis, 100 TB target):
  1. heavy-doc salt repartition (only with ``salt_partitions``) — moves
     only the pages longer than HEAVY_DOC_CHARS (~1%), keyed on url
  2. final triple groupBy(chem, dis) — output is tiny relative to input
     (dimension-bounded)
  In eval mode the gold table adds a groupBy(url) and its join to the
  docs.  Everything else is narrow: the gazetteer and tree dimensions
  ride in the UDF closure as plain dicts.
"""

from __future__ import annotations

import functools

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..functions.text import extract_text
from ..scoring.scorer import fused_score_docs
from ..sources.mesh import gazetteer, tree_multimap

# Pages longer than this many characters are "heavy": with
# ``salt_partitions`` set they are spread by url hash before scoring.
HEAVY_DOC_CHARS = 20_000


def extracted_docs(pages: DataFrame, lang: str | None = None) -> DataFrame:
    """docs(url, text): html->text with lowercase normalization —
    byte-identical per url to the reference preprocessing
    (cdr_dataset.py:41-44)."""
    if lang is not None:
        pages = pages.where(F.col("lang") == lang)
    return pages.select(
        "url", extract_text(F.col("html"), F.col("text")).alias("text")
    )


# One static mesh dimension per app in practice: the memo avoids
# re-deriving the gazetteer plan and its 58k-row dict collect once per
# resume bucket or foreachBatch micro-batch.  DataFrame defines no
# __eq__/__hash__, so the key is the mesh_tree object's identity.
@functools.lru_cache(maxsize=1)
def _mesh_artifacts(mesh_tree, mesh_type_col):
    from ..operators.mentions import gazetteer_dict

    gaz = gazetteer(mesh_tree, type_col=mesh_type_col)
    gd = gazetteer_dict(gaz)
    if not gd:
        raise ValueError(
            "empty gazetteer: no mesh rows produced a Chemical/Disease "
            f"type (mesh_type_col={mesh_type_col!r}). Pass "
            "mesh_type_col='type' for fixture-shaped mesh tables, or "
            "None for the real 2017 MeSH tree (D*/C* branch letters)."
        )
    max_words = max(t.count(" ") + 1 for t in gd)
    return gaz, gd, max_words


def score_candidates(
    pages: DataFrame,
    mesh_tree: DataFrame,
    gold: DataFrame | None = None,
    mesh_type_col: str | None = "type",
    use_levi: bool = True,
    scorer_backend: str = "stub",
    salt_partitions: int | None = None,
    sentence_splitter: str = "regex",
) -> DataFrame:
    """pages -> scored pairs (one row per candidate with pred/prob).

    Persists nothing: the returned DataFrame is a plain plan, so any
    number of pipelines can share one driver or outlive a SparkSession
    restart.  A caller that reuses the result across actions caches it
    itself.

    The whole per-document decision runs in ONE narrow python stage,
    ``fused_score_docs``, so the document text crosses the Arrow
    boundary once.

    ``scorer_backend``: "stub" (the trigger-rule decision) or "electra"
    (the same decision, the exact-architecture document-level encoder
    modulating the probability tail).
    """
    allowed = ("stub", "electra")
    if scorer_backend not in allowed:
        raise ValueError(
            f"scorer_backend={scorer_backend!r}: expected one of {allowed}"
        )
    # empty-gazetteer fail-fast lives inside _mesh_artifacts: a silently
    # successful no-op run (zero mentions -> zero triples) is an
    # expensive nothing at corpus scale
    _gaz, gd, max_words = _mesh_artifacts(mesh_tree, mesh_type_col)

    payload = extracted_docs(pages)
    if gold is not None:
        gold_arr = gold.groupBy("url").agg(
            F.collect_list(F.struct("chem_mesh", "dis_mesh")).alias("gold_pairs")
        )
        payload = payload.join(gold_arr, "url", "left")
    else:
        payload = payload.withColumn(
            "gold_pairs",
            F.lit(None).cast("array<struct<chem_mesh:string,dis_mesh:string>>"),
        )
    if salt_partitions:
        # SKEW-AWARE salting: shuffling every page would move the whole
        # corpus (at 100 TB, the whole 100 TB) through the exchange just
        # to protect against a skewed tail.  Instead only documents above
        # HEAVY_DOC_CHARS are redistributed by url-hash (a ~1% shuffle);
        # the light majority flows through narrow.  union of the two
        # branches is itself narrow.  The branches are filter-complements
        # of the same payload, so both scan the pages and run the
        # JVM-side text extraction: persisting the payload would save
        # that only by caching the whole extracted corpus, a cache that
        # outlives the call and that nobody owns.
        heavy = F.length("text") > HEAVY_DOC_CHARS
        payload = payload.where(~heavy).unionByName(
            payload.where(heavy).repartition(salt_partitions, F.xxhash64("url"))
        )
    tm = (
        {r["mesh_id"]: list(r["tree_numbers"]) for r in tree_multimap(mesh_tree).collect()}
        if gold is not None and use_levi
        else None
    )
    return fused_score_docs(
        payload, tree_map=tm, use_levi=use_levi,
        gazetteer=gd, max_term_words=max_words,
        backend=scorer_backend, sentence_splitter=sentence_splitter,
    )


def materialize_triples(scored: DataFrame) -> DataFrame:
    """Deduplicated triple table (SURVEY §7 stage 6).

    support = distinct source documents; score = max over evidences.
    The groupBy key is (chem, dis) — dimension-bounded output, so the
    final shuffle is tiny regardless of input scale.
    """
    return (
        scored.where(F.col("pred") == 1)
        .groupBy("chem_mesh", "dis_mesh")
        .agg(
            F.lit("CID:induces").alias("predicate"),
            F.max("prob").alias("score"),
            F.countDistinct("url").alias("support"),
        )
        .select(
            F.col("chem_mesh").alias("subj"),
            "predicate",
            F.col("dis_mesh").alias("obj"),
            "score",
            "support",
        )
    )


def adjacency(triples: DataFrame) -> DataFrame:
    """Adjacency-list graph: subj -> sorted [(obj, score)] (north_star)."""
    return triples.groupBy("subj").agg(
        F.array_sort(F.collect_list(F.struct("obj", "score"))).alias("edges"),
        F.count("*").alias("degree"),
    )


def pr_metrics(pred_triples: DataFrame, gold: DataFrame) -> dict:
    """Document-level P/R/F1 of emitted (url-free) triples vs gold pairs
    (SURVEY §2.4 A7) — pure SQL full-outer aggregate, no sklearn."""
    p = pred_triples.select(
        F.col("subj").alias("chem_mesh"), F.col("obj").alias("dis_mesh")
    ).distinct()
    g = gold.select("chem_mesh", "dis_mesh").distinct()
    joined = p.withColumn("in_pred", F.lit(1)).join(
        g.withColumn("in_gold", F.lit(1)), ["chem_mesh", "dis_mesh"], "full_outer"
    )
    agg = joined.agg(
        F.sum(F.when(F.col("in_pred").isNotNull() & F.col("in_gold").isNotNull(), 1).otherwise(0)).alias("tp"),
        F.sum(F.when(F.col("in_pred").isNotNull() & F.col("in_gold").isNull(), 1).otherwise(0)).alias("fp"),
        F.sum(F.when(F.col("in_pred").isNull() & F.col("in_gold").isNotNull(), 1).otherwise(0)).alias("fn"),
    ).first()
    tp, fp, fn = agg["tp"] or 0, agg["fp"] or 0, agg["fn"] or 0
    precision = tp / (tp + fp) if tp + fp else 0.0
    recall = tp / (tp + fn) if tp + fn else 0.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
    return {"tp": tp, "fp": fp, "fn": fn, "precision": precision, "recall": recall, "f1": f1}
