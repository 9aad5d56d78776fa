"""The triple factory: pages -> (chemical, CID:induces, disease) triples.

Lifecycle (SURVEY §3.1 Spark equivalent):

    pages --extract_text(JVM)--> docs
          --broadcast gazetteer join--> mentions
          --groupBy inventory / per-doc cross join / Levi anti-join--> pairs
          --mapInPandas--> evidence --mapInPandas--> features
          --salted repartition + mapInPandas scorer--> scored
          --groupBy dedup--> triples + adjacency

Shuffle budget (scale analysis, 100 TB target):
  1. mention window (partition by url)               — unavoidable, keyed
     on the unique url so perfectly spread
  2. inventory groupBy(url, mesh_id)                 — same key family;
     AQE coalesces
  3. pairs equi-join on url                          — co-partitioned with
     (2) so Catalyst reuses the exchange
  4. salted repartition before scoring               — explicit, spreads
     long-doc skew at pair granularity
  5. final triple groupBy(chem, dis)                 — output is tiny
     relative to input (dimension-bounded)
Everything else is narrow.  The gazetteer/tree dimensions are broadcast;
gold joins exist only in eval mode.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..functions.text import extract_text
from ..operators.candidates import candidate_pairs, label_pairs, levi_filter
from ..operators.evidence import select_evidence
from ..operators.features import featurize
from ..operators.mentions import detect_mentions, entity_inventory
from ..scoring.scorer import score_pairs
from ..sources.mesh import gazetteer, tree_multimap


def extracted_docs(pages: DataFrame, lang: str | None = None) -> DataFrame:
    """docs(url, text): html->text with lowercase normalization —
    byte-identical per url to the reference preprocessing
    (cdr_dataset.py:41-44)."""
    if lang is not None:
        pages = pages.where(F.col("lang") == lang)
    return pages.select(
        "url", extract_text(F.col("html"), F.col("text")).alias("text")
    )


# Caches created by score_candidates live for the app unless released:
# each call unpersists the previous call's intermediates (single-pipeline
# lifecycle; concurrent pipelines in one driver should pass
# persist_intermediates=False and manage their own).  The gazetteer memo
# avoids re-deriving the static MeSH artifacts (gazetteer plan, isEmpty
# probe, 58k-row dict collect) once per foreachBatch micro-batch.
_prev_caches: list = []
_gaz_memo: dict = {}


def _mesh_artifacts(mesh_tree, mesh_type_col):
    key = (id(mesh_tree), mesh_type_col)
    hit = _gaz_memo.get(key)
    if hit is not None and hit[0] is mesh_tree:
        return hit[1], hit[2], hit[3]
    from ..operators.mentions import gazetteer_dict

    gaz = gazetteer(mesh_tree, type_col=mesh_type_col)
    if gaz.isEmpty():
        raise ValueError(
            "empty gazetteer: no mesh rows produced a Chemical/Disease "
            f"type (mesh_type_col={mesh_type_col!r}). Pass "
            "mesh_type_col='type' for fixture-shaped mesh tables, or "
            "None for the real 2017 MeSH tree (D*/C* branch letters)."
        )
    gd = gazetteer_dict(gaz)
    max_words = max((t.count(" ") + 1 for t in gd), default=1)
    _gaz_memo.clear()  # one static mesh dimension per app in practice
    _gaz_memo[key] = (mesh_tree, gaz, gd, max_words)
    return gaz, gd, max_words


def score_candidates(
    pages: DataFrame,
    mesh_tree: DataFrame,
    gold: DataFrame | None = None,
    mesh_type_col: str | None = "type",
    use_levi: bool = True,
    scorer_backend: str = "stub",
    salt_partitions: int | None = None,
    heavy_doc_chars: int = 20_000,
    fused: bool = True,
    persist_intermediates: bool = True,
    sentence_splitter: str = "regex",
) -> DataFrame:
    """pages -> scored pairs (one row per candidate with pred/prob).

    ``persist_intermediates``: the entity inventory feeds BOTH sides of
    the per-doc cross join (and, in eval mode, the Levi joins) — without
    persistence every reference re-derives the whole mention-detection
    subtree (window + broadcast join), multiplying the dominant stage.
    MEMORY_AND_DISK: the inventory is orders of magnitude smaller than
    pages, and spills safely at scale.

    ``fused``: evidence+featurize+score in one Arrow round-trip (the
    production path); fused=False runs the three modular stages.

    ``scorer_backend``: "stub" (the trigger-rule decision) or "electra"
    (the same decision, the exact-architecture document-level encoder
    modulating the probability tail).  The modular path is the stub
    oracle only.
    """
    allowed = ("stub", "electra") if fused else ("stub",)
    if scorer_backend not in allowed:
        raise ValueError(
            f"scorer_backend={scorer_backend!r} with fused={fused}: "
            f"expected one of {allowed}"
        )
    docs = extracted_docs(pages)
    # empty-gazetteer fail-fast lives inside _mesh_artifacts: a silently
    # successful no-op run (zero mentions -> zero triples) is an
    # expensive nothing at corpus scale
    gaz, gd, max_words = _mesh_artifacts(mesh_tree, mesh_type_col)
    if persist_intermediates:
        while _prev_caches:
            _prev_caches.pop().unpersist()

    if fused:
        # doc-level fused path: the document text crosses the shuffle and
        # the Arrow boundary ONCE; mention detection (broadcast gazetteer
        # dict, detect_mentions_py — same semantics as the relational
        # operator), pair generation, Levi filter, evidence selection,
        # featurization and scoring all run in a SINGLE narrow python
        # stage per doc (the reference's is_full_sample batching shape,
        # electra_model.py:711-734).  The only exchanges in the whole
        # pipeline are the optional salt repartition and the final
        # dimension-bounded triple groupBy.
        from ..scoring.scorer import fused_score_docs

        payload = docs
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
            # SKEW-AWARE salting: shuffling every page would move the
            # whole corpus (at 100 TB, the whole 100 TB) through the
            # exchange just to protect against a skewed tail.  Instead
            # only documents above the heavy-length threshold are
            # redistributed by url-hash (a ~1% shuffle); the light
            # majority flows through narrow.  union of the two branches
            # is itself narrow.  The branches are filter-complements of
            # the SAME payload: persist it so extraction (and the gold
            # join) fills once instead of once per union child.
            if persist_intermediates:
                from pyspark import StorageLevel

                payload = payload.persist(StorageLevel.MEMORY_AND_DISK)
                _prev_caches.append(payload)
            heavy = F.length("text") > heavy_doc_chars
            payload = payload.where(~heavy).unionByName(
                payload.where(heavy).repartition(
                    salt_partitions, F.xxhash64("url")
                )
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

    mentions = detect_mentions(docs, gaz)
    inventory = entity_inventory(mentions)

    if persist_intermediates:
        from pyspark import StorageLevel

        inventory = inventory.persist(StorageLevel.MEMORY_AND_DISK)
        _prev_caches.append(inventory)
    pairs = candidate_pairs(inventory)
    if gold is not None:
        pairs = label_pairs(pairs, gold)
        if use_levi:
            pairs = levi_filter(pairs, gold, tree_multimap(mesh_tree))
    else:
        pairs = pairs.withColumn("label", F.lit(0))
    with_text = pairs.join(docs, "url")
    if salt_partitions:
        # salted spread of one long document's pairs across executors:
        # the hash key includes the pair so skew splits at pair granularity
        with_text = with_text.repartition(
            salt_partitions, F.xxhash64("url", "chem_mesh", "dis_mesh")
        )
    evidence = select_evidence(with_text, extract_inter=True, splitter=sentence_splitter)
    features = featurize(evidence)
    return score_pairs(features)


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
