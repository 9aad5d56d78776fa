"""The triple factory: pages -> (chemical, CID:induces, disease) triples.

Lifecycle (SURVEY §3.1 Spark equivalent):

    pages --extract_text(JVM)--> docs(url, text)
          [--left join gold_pairs (eval mode)]
          [--url-hash repartition of heavy docs into k partitions]
          --ONE mapInPandas per doc (scoring.scorer.fused_score_docs):
            mentions -> pairs + Levi filter -> evidence -> features
            -> scorer--> scored
          --groupBy dedup--> triples + adjacency

Shuffle budget (scale analysis, 100 TB target):
  1. heavy-doc salt repartition (only with ``salt_partitions``, and only
     when the heavy text pays for its tasks) — moves only the pages
     longer than HEAVY_DOC_CHARS (~1%), keyed on url, into
     k = min(salt_partitions, heavy // CHARS_PER_TASK) partitions, where
     heavy sums ``heavy_chars`` in one eager JVM-only probe (a one-row
     sum; a resume bucket that cannot reach k > 0 skips it, see
     streaming.incremental); k = 0 builds no exchange at all
  2. final triple groupBy(chem, dis) — output is tiny relative to input
     (dimension-bounded)
  In eval mode the gold table adds a groupBy(url) and its join to the
  docs.  Everything else is narrow: the gazetteer and tree dimensions
  ride in the UDF closure as plain dicts.
"""

from __future__ import annotations

import functools

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from ..functions.text import extract_text
from ..operators.mentions import gazetteer_dict, longest_term_words
from ..scoring.scorer import document_features, fused_score_docs
from ..sources.mesh import gazetteer, tree_multimap

# Pages longer than this many characters are "heavy": with
# ``salt_partitions`` set they are spread by url hash before scoring.
HEAVY_DOC_CHARS = 20_000
# Heavy text one extra Python task must carry to pay for itself.  Each
# Python task pays a fixed init: a trivial 4-task mapInPandas job on
# reused workers takes about 0.22 s (4-core host; 0.46 s while every
# task re-read the worker's zip archives, see _zipstamp).  One core
# runs the stub kernel over heavy pages at 0.09 MB/s (entity-dense) to
# 1.6 MB/s (filler-padded), so 1 MB is 0.6-11 s of work, at least
# 2.7x the init it adds.
CHARS_PER_TASK = 1_000_000


def extracted_docs(pages: DataFrame) -> DataFrame:
    """docs(url, text): html->text with lowercase normalization —
    byte-identical per url to the reference preprocessing
    (cdr_dataset.py:41-44)."""
    return pages.select(
        "url", extract_text(F.col("html"), F.col("text")).alias("text")
    )


# One static mesh dimension per app in practice: the memo avoids
# re-deriving the gazetteer plan and its 58k-row dict collect once per
# resume bucket or foreachBatch micro-batch.  DataFrame defines no
# __eq__/__hash__, so the key is the mesh_tree object's identity.
@functools.lru_cache(maxsize=1)
def _mesh_artifacts(mesh_tree, mesh_type_col):
    """(surface-form dict, longest term's word count) of the
    ``mesh_tree`` gazetteer: what the per-document kernel needs."""
    gd = gazetteer_dict(gazetteer(mesh_tree, type_col=mesh_type_col).collect())
    if not gd:
        raise ValueError(
            "empty gazetteer: no mesh rows produced a Chemical/Disease "
            f"type (mesh_type_col={mesh_type_col!r}). Pass "
            "mesh_type_col='type' for fixture-shaped mesh tables, or "
            "None for the real 2017 MeSH tree (D*/C* branch letters)."
        )
    return gd, longest_term_words(gd)


# Memoized like _mesh_artifacts, for the eval-mode runs that pass gold:
# the multimap collect is two eager jobs per call otherwise.
@functools.lru_cache(maxsize=1)
def _tree_map(mesh_tree):
    """mesh_id -> tree numbers of ``mesh_tree``: the Levi filter's
    multimap as the plain dict the per-document kernel reads."""
    return {
        r["mesh_id"]: list(r["tree_numbers"])
        for r in tree_multimap(mesh_tree).collect()
    }


def with_gold_pairs(docs: DataFrame, gold: DataFrame | None) -> DataFrame:
    """docs(url, text) + gold_pairs array<struct<chem_mesh, dis_mesh>>:
    each url's gold relations (NULL for a url without any), or NULL
    throughout when ``gold`` is None.  The document payload of
    scoring.scorer.fused_score_docs and document_features."""
    if gold is None:
        return docs.withColumn(
            "gold_pairs",
            F.lit(None).cast("array<struct<chem_mesh:string,dis_mesh:string>>"),
        )
    gold_arr = gold.groupBy("url").agg(
        F.collect_list(F.struct("chem_mesh", "dis_mesh")).alias("gold_pairs")
    )
    return docs.join(gold_arr, "url", "left")


def training_features(
    pages: DataFrame, mesh_tree: DataFrame, gold: DataFrame
) -> DataFrame:
    """FEATURES_SCHEMA rows of ``pages`` labelled by ``gold`` (a
    fixture-shaped mesh table, ``type`` column), from the fused stage's
    own kernel (scoring.scorer.document_features): the feature source
    of the training queries q86 and q93."""
    gd, max_words = _mesh_artifacts(mesh_tree, "type")
    return document_features(
        with_gold_pairs(extracted_docs(pages), gold), gd, max_words
    )


def heavy_chars(text: Column) -> Column:
    """The length of ``text`` when it is over HEAVY_DOC_CHARS, else
    null: summed, the heavy text the salt exchange is sized by."""
    n = F.length(text)
    return F.when(n > HEAVY_DOC_CHARS, n)


def check_salt_partitions(salt_partitions: int | None) -> None:
    """Reject a negative ``salt_partitions`` before any job runs."""
    if salt_partitions is not None and salt_partitions < 0:
        raise ValueError(
            f"salt_partitions={salt_partitions!r}: expected None or >= 0"
        )


def salt_tasks(salt_partitions: int, heavy: int | None) -> int:
    """Partition count of the heavy-page exchange for ``heavy`` summed
    ``heavy_chars``: ``min(salt_partitions, heavy // CHARS_PER_TASK)``.
    0 means the heavy pages cannot pay for one extra task."""
    return min(salt_partitions, (heavy or 0) // CHARS_PER_TASK)


def heavy_partitions(docs: DataFrame, salt_partitions: int) -> int:
    """``salt_tasks`` of the heavy text of ``docs(url, text)``, summed
    by one eager JVM-only job that returns one row."""
    heavy = docs.agg(F.sum(heavy_chars(F.col("text")))).collect()[0][0]
    return salt_tasks(salt_partitions, heavy)


def score_candidates(
    pages: DataFrame,
    mesh_tree: DataFrame,
    gold: DataFrame | None = None,
    mesh_type_col: str | None = "type",
    scorer_backend: str = "stub",
    salt_partitions: int | None = None,
) -> DataFrame:
    """pages -> scored pairs (one row per candidate with pred/prob).

    Persists nothing: the returned DataFrame is a plain plan, so any
    number of pipelines can share one driver or outlive a SparkSession
    restart.  A caller that reuses the result across actions caches it
    itself.

    The whole per-document decision runs in ONE narrow python stage,
    ``fused_score_docs``, so the document text crosses the Arrow
    boundary once.

    ``salt_partitions``: upper bound on the url-hash partitions the
    pages longer than HEAVY_DOC_CHARS are spread over.  The exchange is
    built only when the heavy text pays for its tasks (one per
    CHARS_PER_TASK characters, see ``heavy_partitions``), which costs
    one eager JVM-only job per call; None or 0 builds no exchange and
    runs no job, and a negative value raises before any job.

    ``scorer_backend``: "stub" (the trigger-rule decision) or "electra"
    (the same decision, the exact-architecture document-level encoder
    modulating the probability tail).
    """
    allowed = ("stub", "electra")
    if scorer_backend not in allowed:
        raise ValueError(
            f"scorer_backend={scorer_backend!r}: expected one of {allowed}"
        )
    check_salt_partitions(salt_partitions)
    # empty-gazetteer fail-fast lives inside _mesh_artifacts: a silently
    # successful no-op run (zero mentions -> zero triples) is an
    # expensive nothing at corpus scale
    gd, max_words = _mesh_artifacts(mesh_tree, mesh_type_col)

    docs = extracted_docs(pages)
    k = heavy_partitions(docs, salt_partitions) if salt_partitions else 0
    payload = with_gold_pairs(docs, gold)
    if k:
        # SKEW-AWARE salting: shuffling every page would move the whole
        # corpus (at 100 TB, the whole 100 TB) through the exchange just
        # to protect against a skewed tail.  Instead only documents above
        # HEAVY_DOC_CHARS are redistributed by url-hash (a ~1% shuffle);
        # the light majority flows through narrow.  union of the two
        # branches is itself narrow.  Each of the k partitions is one
        # more Python task with its fixed init, so k grows with the heavy
        # text (heavy_partitions) and a few heavy pages that cannot pay
        # for one task flow narrow with the rest.  The branches are
        # filter-complements of the same payload, so both scan the pages
        # and run the JVM-side text extraction: persisting the payload
        # would save that only by caching the whole extracted corpus, a
        # cache that outlives the call and that nobody owns.
        heavy = F.length("text") > HEAVY_DOC_CHARS
        payload = payload.where(~heavy).unionByName(
            payload.where(heavy).repartition(k, F.xxhash64("url"))
        )
    return fused_score_docs(
        payload, tree_map=_tree_map(mesh_tree) if gold is not None else {},
        gazetteer=gd, max_term_words=max_words,
        backend=scorer_backend,
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
