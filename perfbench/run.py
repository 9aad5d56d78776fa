"""pages -> triples benchmark.

    python3 perfbench/run.py --workload batch_stub --seed 1 --seconds 20 --trace 0

Runs one workload (see WORKLOADS and perfbench/README.md) through the
public pipeline API at ``local[nproc]``: ``score_candidates`` followed by
``materialize_triples`` (batch workloads) or
``streaming.incremental.run_resumable`` (resumable_buckets).  Every
emitted triple table is checked against the generator's gold.

The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the END_TO_END ones, with ``--trace 1`` the PER_LAYER ones.
The line before it records the host reference, the raw walls and, when
traced, the top stage.  Everything the run writes goes under
``.perfbench-work/`` of the checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass
from datetime import datetime
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench-work"
NPROC = len(os.sched_getaffinity(0))
SALT_PARTITIONS = 2 * NPROC  # the same fixed function of nproc on every commit
# input slices, one per core: every Spark task pays about 1 s of Python
# init (the UDF closure carries the gazetteer), and with twice as many
# slices operations were 20-35% slower and twice as variable
PARTITIONS = NPROC
SETUPS = 3  # setup_s is the median of this many set-ups
WARM_PAGES = 12  # pages of a set-up's warm run
DRIVER_MEM = "2g"  # the JVM's heap
# a window runs at least this many operations.  The first operation on a
# new input is slower than the rest; the median of three leaves it out
MIN_RUNS = 3
PROFILER = "spark.sql.pyspark.udf.profiler"


@dataclass(frozen=True)
class Workload:
    pages: int
    scales: tuple[int, ...]  # sentence-plan repeats per page (page length)
    backend: str  # scorer_backend
    heavy_share: tuple[float, float] = (0.0, 0.0)
    buckets: int = 0  # > 0: run_resumable with this many buckets


WORKLOADS = {
    # web-length pages, ~1% heavy: the per-document Python kernels
    "batch_stub": Workload(800, (8,), "stub", heavy_share=(0.008, 0.012)),
    # short pages of mixed length, several buckets: per-job costs of the
    # resumable path, plus the 12-layer encoder
    "resumable_buckets": Workload(32, (1, 2, 3), "electra", buckets=2),
    # the encoder alone; not in BENCHMARK.json (see README.md)
    "batch_electra": Workload(72, (1, 2, 3), "electra"),
}

END_TO_END = {
    "pages_per_s": "pages/s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "ok_frac": "ratio",
    "triple_precision": "ratio",
    "triple_recall": "ratio",
}

PER_LAYER = {
    "session.start_s": "s",
    "pipeline.plan_s": "s",
    "pipeline.python_total_s": "s",
    "pipeline.python_init_s": "s",
    "pipeline.python_boot_s": "s",
    "pipeline.arrow_sent_bytes": "bytes",
    "pipeline.arrow_recv_bytes": "bytes",
    "pipeline.scored_rows": "count",
    "pipeline.exchange_bytes": "bytes",
    "pipeline.shuffle_write_s": "s",
    "pipeline.agg_s": "s",
    "pipeline.heavy_docs": "count",
    "pipeline.positive_rows": "count",
    "pipeline.triples": "count",
    "pipeline.positive_ratio": "ratio",
    "pipeline.udf_self_s": "s",
    "mentions.detect_s": "s",
    "mentions.docs": "count",
    "evidence.split_s": "s",
    "evidence.select_s": "s",
    "evidence.pairs": "count",
    "evidence.hit_ratio": "ratio",
    "features.featurize_s": "s",
    "features.encode_s": "s",
    "features.fulltext_s": "s",
    "features.keep_ratio": "ratio",
    "scorer.stub_s": "s",
    "electra.forward_s": "s",
    "electra.encoder_s": "s",
    "electra.head_s": "s",
    "electra.weights_s": "s",
    "incremental.bucket_s_median": "s",
    "incremental.bucket_s_max": "s",
    "incremental.jobs_per_bucket": "count",
    "incremental.lineage_probe_s": "s",
    "incremental.output_bytes": "bytes",
    "incremental.output_files": "count",
    "incremental.lineage_rows": "count",
    "trace.stage_sum_s": "s",
    "trace.coverage": "ratio",
    "trace.overhead_s": "s",
}

# bench.py's pinned-BLAS GEMM reference, unchanged so windows compare
HOST_REF_CHILD = r"""
import os
for v in ("OMP_NUM_THREADS","OPENBLAS_NUM_THREADS","MKL_NUM_THREADS","NUMEXPR_NUM_THREADS"):
    os.environ[v] = "1"
import json, time
from multiprocessing import Pool

def work(seed):
    import numpy as np
    rng = np.random.default_rng(seed)
    a = rng.standard_normal((256, 256)).astype(np.float32)
    b = rng.standard_normal((256, 256)).astype(np.float32)
    s = 0.0
    for _ in range(150):
        s += float((a @ b).sum()); a += 1e-6
    return s

if __name__ == "__main__":
    t0 = time.perf_counter(); work(0); t1 = time.perf_counter() - t0
    with Pool(8) as p:
        p.map(work, range(8))
        t0 = time.perf_counter(); p.map(work, range(16)); t8 = time.perf_counter() - t0
    print(json.dumps({"gemm_1w_sec": t1, "gemm_8w_sec": t8}))
"""


def host_reference() -> dict:
    """Context for comparing hosts, never a gated metric."""
    out = subprocess.run(
        [sys.executable, "-c", HOST_REF_CHILD], capture_output=True, text=True,
        check=True, timeout=120, cwd=WORK,
    )
    return json.loads(out.stdout.splitlines()[-1])


def prepare_env() -> None:
    """Python workers import the package from this checkout whatever the
    working directory; Spark's scratch files stay inside the checkout."""
    (WORK / "tmp").mkdir(parents=True, exist_ok=True)
    sys.path.insert(0, str(ROOT))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = str(WORK / "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(NPROC)
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = str(WORK / "spark-local")
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")  # overrides spark.local.dir when set
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM


def median(values: list[float] | None) -> float:
    return statistics.median(values) if values else 0.0


class Bench:
    """One workload in one driver: set-ups, timed windows, checks."""

    def __init__(self, name: str, seed: int, trace: bool):
        from gen import Check, gen_corpus

        self.w = WORKLOADS[name]
        self.trace = trace
        self.corpus = gen_corpus(seed, self.w.pages, self.w.scales, self.w.heavy_share)
        self.warm_corpus = gen_corpus(
            seed + 7919, WARM_PAGES, self.w.scales, self.w.heavy_share
        )
        self.spark = None
        self.mesh = None
        self.attempted = 0
        self.failed = 0
        self.check = Check()
        self.layer: dict[str, list[float]] = {}  # per-layer samples of the set-ups
        # (timed corpus?, buckets) -> bucket -> urls, for the checks
        self.members: dict[tuple[bool, int], dict[int, list[str]]] = {}

    def record(self, metrics: dict[str, float]) -> None:
        for k, v in metrics.items():
            self.layer.setdefault(k, []).append(v)

    # -- session life cycle -------------------------------------------------

    def start_session(self) -> float:
        from relation_extraction_cdr_spark.session import spark_session

        t0 = time.perf_counter()
        self.spark = spark_session(
            "perfbench",
            master=f"local[{NPROC}]",
            extra_conf={
                # the whole heap is committed and touched at launch: left
                # to grow, it doubled in some runs only and peak_rss_mb
                # read 2.7 or 4.2 GB on the same input
                "spark.driver.extraJavaOptions": (
                    f"-Djava.io.tmpdir={WORK / 'tmp'} -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"
                ),
                "spark.sql.warehouse.dir": str(WORK / "warehouse"),
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - t0

    def stop(self, jvm: bool = True) -> None:
        """Stop the session and, with ``jvm``, the JVM, waiting until it
        has exited.  Caches are released first: the pipeline unpersists
        the previous call's intermediates on its next call, and after a
        restart that call must find nothing left to release."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.catalog.clearCache()
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if jvm and gw is not None and getattr(gw, "proc", None) is not None:
            gw.shutdown()
            gw.proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                gw.proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                gw.proc.kill()
                gw.proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None

    def cached_pages(self):
        from gen import pages_df

        df = pages_df(self.spark, self.corpus, PARTITIONS).cache()
        df.count()
        return df

    # -- one operation ------------------------------------------------------

    def batch_run(self, pages, corpus, tag: str):
        """Wall from the cached pages to the collected triple table."""
        from gen import check_triples
        from layers import pipeline_metrics, plan_nodes
        from relation_extraction_cdr_spark.plans.pipeline import (
            materialize_triples,
            score_candidates,
        )

        t0 = time.perf_counter()
        scored = score_candidates(
            pages, self.mesh, scorer_backend=self.w.backend,
            salt_partitions=SALT_PARTITIONS,
        )
        plan_s = time.perf_counter() - t0
        triples = materialize_triples(scored)
        rows = triples.collect()
        wall = time.perf_counter() - t0
        samples = {"pipeline.plan_s": plan_s}
        if self.trace:
            samples.update(pipeline_metrics(plan_nodes(triples)))
        return wall, [check_triples(rows, corpus.expected())], samples

    def resumable_run(self, pages, corpus, tag: str, n_buckets: int):
        """Wall from the cached pages to the last lineage row; one check
        per bucket."""
        from gen import check_triples
        from layers import call_walls
        from relation_extraction_cdr_spark.plans import pipeline
        from relation_extraction_cdr_spark.streaming.incremental import (
            bucketed,
            completed_buckets,
            run_resumable,
        )

        spark, sc = self.spark, self.spark.sparkContext
        out_dir, lineage_dir = WORK / "out" / tag, WORK / "lineage" / tag
        sc.setJobGroup(tag, tag)
        # run_resumable calls score_candidates once per bucket
        plan_walls: list[float] = []
        with call_walls(pipeline, "score_candidates", plan_walls) if self.trace else nullcontext():
            started = datetime.now()  # the clock lineage rows are stamped with
            t0 = time.perf_counter()
            run_resumable(
                spark, pages, self.mesh, str(out_dir), str(lineage_dir), run_id=tag,
                n_buckets=n_buckets, scorer_backend=self.w.backend,
                salt_partitions=SALT_PARTITIONS,
            )
            wall = time.perf_counter() - t0
        jobs = len(sc.statusTracker().getJobIdsForGroup(tag))
        sc.setJobGroup("perfbench-checks", "checks")
        samples = {}
        if self.trace:
            t1 = time.perf_counter()
            completed_buckets(spark, str(lineage_dir), tag, "score")
            probe_s = time.perf_counter() - t1
            lineage = spark.read.parquet(str(lineage_dir)).orderBy("written_at").collect()
            stamps = [started] + [r["written_at"] for r in lineage]
            # a bucket's time is the gap to the previous bucket's lineage
            # row (the first bucket's, to the start of run_resumable)
            gaps = [(b - a).total_seconds() for a, b in zip(stamps, stamps[1:])]
            files = [p for p in out_dir.rglob("*") if p.is_file()]
            samples = {
                "pipeline.plan_s": statistics.median(plan_walls),
                "pipeline.scored_rows": sum(r["row_count"] for r in lineage),
                "incremental.bucket_s_median": statistics.median(gaps),
                "incremental.bucket_s_max": max(gaps),
                "incremental.jobs_per_bucket": jobs / n_buckets,
                "incremental.lineage_probe_s": probe_s,
                "incremental.output_bytes": sum(p.stat().st_size for p in files),
                "incremental.output_files": sum(p.name.startswith("part-") for p in files),
                "incremental.lineage_rows": len(lineage),
            }
        key = (corpus is self.corpus, n_buckets)
        if key not in self.members:
            members: dict[int, list[str]] = {}
            for r in bucketed(pages.select("url"), n_buckets).collect():
                members.setdefault(r["bucket"], []).append(r["url"])
            self.members[key] = members
        members = self.members[key]
        checks = []
        for b in range(n_buckets):
            part = spark.read.parquet(str(out_dir / f"bucket={b}"))
            rows = pipeline.materialize_triples(part).collect()
            checks.append(check_triples(rows, corpus.expected(members.get(b, []))))
        shutil.rmtree(out_dir, ignore_errors=True)
        shutil.rmtree(lineage_dir, ignore_errors=True)
        return wall, checks, samples

    def operation(self, pages, corpus, tag: str, warm: bool = False):
        """-> (wall seconds, checks, per-layer samples).  A warm resumable
        operation runs a single bucket."""
        if self.w.buckets:
            return self.resumable_run(pages, corpus, tag, 1 if warm else self.w.buckets)
        return self.batch_run(pages, corpus, tag)

    # -- phases ---------------------------------------------------------------

    def setup(self, k: int) -> float:
        """Session start plus the first (warm) run, which pays the mesh
        artifacts, Python worker start and, for electra, the per-worker
        weight build.  The warm run reads a small uncached warm-up corpus."""
        from gen import pages_df
        from relation_extraction_cdr_spark import datagen

        start_s = self.start_session()
        self.record({"session.start_s": start_s})
        if self.trace:
            self.spark.conf.set(PROFILER, "perf")
        t0 = time.perf_counter()
        warm = pages_df(self.spark, self.warm_corpus)
        self.mesh = datagen.mesh_df(self.spark)
        prep_s = time.perf_counter() - t0
        # the wall leaves out the triple check that follows the run
        wall, checks, _ = self.operation(warm, self.warm_corpus, f"warm{k}", warm=True)
        setup_s = start_s + prep_s + wall
        if not all(c.ok for c in checks):
            raise RuntimeError(f"warm-up run {k} emitted wrong triples")
        if self.trace:
            from layers import profile_totals

            prof_dir = WORK / "prof" / f"setup{k}"
            self.spark.profile.dump(str(prof_dir), type="perf")
            self.spark.profile.clear(type="perf")
            self.spark.conf.unset(PROFILER)
            self.record({"electra.weights_s": profile_totals(str(prof_dir))["weights"][0]})
        return setup_s

    def window(self, pages, seconds: float, label: str, min_runs: int, rss=None):
        """Closed loop of operations for ``seconds`` (at least
        ``min_runs``).  Returns the walls of those that did not raise and
        their per-layer samples."""
        walls: list[float] = []
        layer: dict[str, list[float]] = {}
        t_end = time.perf_counter() + seconds
        runs = 0
        while runs < min_runs or time.perf_counter() < t_end:
            tag = f"{label}{runs}"
            runs += 1
            n_ops = self.w.buckets or 1
            self.attempted += n_ops
            if rss is not None:
                rss.active.set()
            try:
                wall, checks, samples = self.operation(pages, self.corpus, tag)
            except Exception:  # a raising operation counts as failed
                traceback.print_exc()
                self.failed += n_ops
                continue
            finally:
                if rss is not None:
                    rss.active.clear()
            walls.append(wall)
            for c in checks:
                self.check.add(c)
                self.failed += not c.ok
            for k, v in samples.items():
                layer.setdefault(k, []).append(v)
        return walls, layer


def run(name: str, seed: int, seconds: float, trace: bool) -> dict:
    from layers import PeakRss, profile_metrics, profile_totals, top_stage

    t0 = time.perf_counter()
    phases: dict[str, float] = {}  # where the run's own time went

    def mark(phase: str) -> None:
        phases[phase] = time.perf_counter() - t0 - sum(phases.values())

    bench = Bench(name, seed, trace)
    mark("generate")
    context = {"workload": name, "seed": seed, "nproc": NPROC, "host_ref": host_reference()}
    mark("host_ref")
    try:
        setups = []
        for k in range(SETUPS):
            if k:
                bench.stop(jvm=False)
            setups.append(bench.setup(k))
        mark("setups")
        pages = bench.cached_pages()
        mark("cache")
        context.update(heavy_pages=bench.corpus.heavy, setup_s=setups, phase_s=phases)
        if not trace:
            with PeakRss() as rss:
                walls, _ = bench.window(pages, seconds, "run", MIN_RUNS, rss)
            context["walls"] = walls
            metrics = {
                "pages_per_s": bench.w.pages / median(walls) if walls else 0.0,
                "setup_s": median(setups),
                "peak_rss_mb": rss.peak_mb,
                "ok_frac": 1 - bench.failed / bench.attempted,
                "triple_precision": bench.check.precision,
                "triple_recall": bench.check.recall,
            }
            units = END_TO_END
        else:
            # untraced then traced windows: the plan metrics come from the
            # untraced runs, the profiler's stage times from the traced ones
            plain, plain_layer = bench.window(pages, seconds / 2, "plain", MIN_RUNS)
            bench.spark.conf.set(PROFILER, "perf")
            traced, _ = bench.window(pages, seconds / 2, "traced", 2)
            prof_dir = WORK / "prof" / "traced"
            bench.spark.profile.dump(str(prof_dir), type="perf")
            bench.spark.conf.unset(PROFILER)
            context["walls"] = {"plain": plain, "traced": traced}
            layer = {**bench.layer, **plain_layer}  # set-ups, untraced window
            metrics = {k: median(layer.get(k)) for k in PER_LAYER}
            metrics.update(profile_metrics(
                profile_totals(str(prof_dir)), max(len(traced), 1),
                metrics["pipeline.scored_rows"],
            ))
            total = metrics["pipeline.python_total_s"]
            metrics["trace.coverage"] = metrics["trace.stage_sum_s"] / total if total else 0.0
            metrics["trace.overhead_s"] = median(traced) - median(plain)
            context["top_stage"] = top_stage(metrics)
            units = PER_LAYER
        mark("measure")
    finally:
        bench.stop()
    mark("stop")
    print(json.dumps(context))
    return {
        "correct": bench.failed == 0 and bench.check.ok,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="pages -> triples benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    shutil.rmtree(WORK, ignore_errors=True)
    prepare_env()
    try:
        import relation_extraction_cdr_spark  # noqa: F401  fail fast outside a checkout

        result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
