"""Skew-handling evidence: on a corpus whose heavy pages (100x longer)
cluster into a few input partitions — the layout a real crawl produces,
since big pages arrive together in segments — compare the fused pipeline
with the skew-aware salting OFF vs ON.

Salting design under test (plans/pipeline.py score_candidates): only
documents above HEAVY_DOC_CHARS are repartitioned by url-hash (a ~1%
shuffle); the light majority never crosses an exchange. OFF = every
partition keeps its input layout, so the heavy cluster becomes a
straggler tail.

Writes BENCH/SKEW.md and prints one JSON line.

Usage: python scripts/skew_bench.py [n_light] [n_heavy]
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

import pyspark.sql.functions as F  # noqa: E402

from relation_extraction_cdr_spark import datagen  # noqa: E402
from relation_extraction_cdr_spark.plans.pipeline import (  # noqa: E402
    materialize_triples,
    score_candidates,
)
from relation_extraction_cdr_spark.session import spark_session  # noqa: E402


def main() -> None:
    n_light = int(sys.argv[1]) if len(sys.argv) > 1 else 20000
    n_heavy = int(sys.argv[2]) if len(sys.argv) > 2 else 200
    parts = 64

    spark = spark_session("skew-bench", master="local[32]", shuffle_partitions=64)
    spark.sparkContext.setLogLevel("ERROR")

    light = datagen.gen_pages_df(spark, n_light, seed=42, doc_scale=8)
    heavy = datagen.gen_pages_df(spark, n_heavy, seed=43, doc_scale=800)
    # crawl-segment layout: order by length so the heavy pages land
    # together in the tail partitions of the input
    corpus = (
        light.unionByName(heavy)
        .withColumn("_len", F.length("text"))
        .orderBy("_len")
        .drop("_len")
        .coalesce(parts)
        .cache()
    )
    n = corpus.count()
    mesh = datagen.mesh_df(spark)

    # stub scorer: the skew lives in the per-document kernels (mentions,
    # evidence, featurize), which scale with page length; the encoder
    # input is capped at 512 tokens, so it would add no heavy-page skew
    def run(salt: int | None) -> float:
        t0 = time.perf_counter()
        materialize_triples(
            score_candidates(
                corpus, mesh, salt_partitions=salt, scorer_backend="stub"
            )
        ).count()
        return round(time.perf_counter() - t0, 3)

    run(parts)  # warm-up (worker pool, broadcasts, codegen)
    unsalted = min(run(None), run(None))
    salted = min(run(parts), run(parts))
    result = {
        "metric": "skew_salting_speedup",
        "value": round(unsalted / salted, 3),
        "unit": "ratio",
        "pages": n,
        "heavy_pages": n_heavy,
        "wall_unsalted_sec": unsalted,
        "wall_salted_sec": salted,
    }
    print(json.dumps(result))

    (REPO / "BENCH" / "SKEW.md").write_text(
        f"""# BENCH/SKEW.md — skew-aware salting evidence

Corpus: {n_light} light pages (doc_scale=8) + {n_heavy} heavy pages
(doc_scale=800, ~100x longer), globally length-ordered and coalesced to
{parts} partitions so the heavy pages cluster in the tail partitions —
the layout a real crawl segment produces. About half the total compute
lives in the {n_heavy} heavy pages. local[32], stub scorer, best of 2
runs each, warm-up excluded.

| variant | wall (s) |
|---|---|
| salting OFF (input layout kept) | {unsalted} |
| salting ON (heavy-only url-hash repartition) | {salted} |

speedup from salting: **{unsalted / salted:.2f}x**

The salting path shuffles ONLY documents longer than HEAVY_DOC_CHARS
(~{n_heavy}/{n} of rows here, ~1%): the light majority stays narrow, so
the exchange moves a tiny fraction of the corpus while the straggler
tail is spread across all executors. At 100 TB the same threshold rule
moves ~1 TB instead of re-shuffling the full corpus.
"""
    )


if __name__ == "__main__":
    main()
