"""Per-layer readings taken from outside the program: walls of calls
into a module, SQL metrics of an executed plan, the Python UDF
profiler's pstats dumps, and ``/proc``."""

from __future__ import annotations

import glob
import os
import pstats
import threading
import time
from contextlib import contextmanager


@contextmanager
def call_walls(module, name: str, walls: list[float]):
    """Within the block, every call of ``module.name`` appends its wall to
    ``walls``.  Callers that look the name up at call time see the
    wrapper; the module's code is not changed."""
    orig = getattr(module, name)

    def timed(*args, **kwargs):
        t0 = time.perf_counter()
        try:
            return orig(*args, **kwargs)
        finally:
            walls.append(time.perf_counter() - t0)

    setattr(module, name, timed)
    try:
        yield
    finally:
        setattr(module, name, orig)


# ---------------------------------------------------------------------------
# SQL metrics of the executed (AQE final) plan
# ---------------------------------------------------------------------------

_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}  # -> seconds; others are counts/bytes


def _children(node) -> list:
    name = node.nodeName()
    if name.startswith("AdaptiveSparkPlan"):
        return [node.executedPlan()]
    if "QueryStage" in name:
        return [node.plan()]
    seq = node.children()
    return [seq.apply(i) for i in range(seq.size())]


def _metrics(node) -> dict[str, float]:
    out = {}
    m = node.metrics()
    it = m.keysIterator()
    while it.hasNext():
        k = it.next()
        metric = m.apply(k)
        out[k] = metric.value() * _SCALE.get(metric.metricType(), 1)
    return out


def plan_nodes(df) -> list[tuple[str, bool, dict[str, float]]]:
    """Pre-order (node name, below the MapInPandas node, metrics) of the
    plan the last action on ``df`` executed."""
    out: list[tuple[str, bool, dict[str, float]]] = []

    def walk(node, below_udf: bool) -> None:
        name = node.nodeName()
        out.append((name, below_udf, _metrics(node)))
        below = below_udf or name == "MapInPandas"
        for child in _children(node):
            walk(child, below)

    walk(df._jdf.queryExecution().executedPlan(), False)
    return out


def pipeline_metrics(nodes) -> dict[str, float]:
    """The plans.pipeline layer metrics of one pages->triples plan."""
    udf = next(m for name, _, m in nodes if name == "MapInPandas")
    exchanges = [(below, m) for name, below, m in nodes if name == "Exchange"]
    # the pred == 1 filter is the only Filter above the Python stage
    at_filter = next(
        i for i, (name, below, _) in enumerate(nodes) if name == "Filter" and not below
    )
    pos_filter = nodes[at_filter][2]
    aggs = [(i, m) for i, (name, _, m) in enumerate(nodes) if name == "HashAggregate"]
    # the partial aggregate right above the filter shares a codegen stage
    # with the Python runner's output, so its aggTime counts that stage too
    partial = max(i for i, _ in aggs if i < at_filter)
    aggs_after_shuffle = [m for i, m in aggs if i != partial]
    scored = udf.get("pythonNumRowsReceived", 0.0)
    positive = pos_filter.get("numOutputRows", 0.0)
    return {
        "pipeline.python_total_s": udf.get("pythonTotalTime", 0.0),
        "pipeline.python_init_s": udf.get("pythonInitTime", 0.0),
        "pipeline.python_boot_s": udf.get("pythonBootTime", 0.0),
        "pipeline.arrow_sent_bytes": udf.get("pythonDataSent", 0.0),
        "pipeline.arrow_recv_bytes": udf.get("pythonDataReceived", 0.0),
        "pipeline.scored_rows": scored,
        "pipeline.exchange_bytes": sum(m.get("shuffleBytesWritten", 0.0) for _, m in exchanges),
        "pipeline.shuffle_write_s": sum(m.get("shuffleWriteTime", 0.0) for _, m in exchanges),
        "pipeline.agg_s": sum(m.get("aggTime", 0.0) for m in aggs_after_shuffle),
        "pipeline.heavy_docs": sum(
            m.get("shuffleRecordsWritten", 0.0) for below, m in exchanges if below
        ),
        "pipeline.positive_rows": positive,
        "pipeline.triples": aggs[0][1].get("numOutputRows", 0.0),
        "pipeline.positive_ratio": positive / scored if scored else 0.0,
    }


# ---------------------------------------------------------------------------
# Python UDF profiler (spark.sql.pyspark.udf.profiler=perf)
# ---------------------------------------------------------------------------

# (metric stem, module file, function name): the dumps name files by
# basename; cumulative time and call count of each profiled function
FUNCS = [
    ("udf", "scorer.py", "run"),
    ("mentions", "mentions.py", "detect_mentions_py"),
    ("split", "text.py", "split_sentences_py"),
    ("select", "evidence.py", "select_evidence_py"),
    ("featurize", "features.py", "featurize_py"),
    ("encode", "wordpiece.py", "encode"),
    ("fulltext", "features.py", "fulltext_featurize_py"),
    ("margins", "scorer.py", "_fullsample_margins"),
    ("stub", "scorer.py", "_score_rows"),
    ("encoder", "electra.py", "encoder_forward"),
    ("pool", "electra.py", "pool_pairs_one"),
    ("head", "electra.py", "pair_head"),
    ("weights", "electra.py", "seeded"),
]
# the disjoint top-level stages inside the fused UDF body
STAGES = {
    "mentions.detect_s": "mentions",
    "evidence.split_s": "split",
    "evidence.select_s": "select",
    "features.featurize_s": "featurize",
    "features.fulltext_s": "fulltext",
    "electra.forward_s": "margins",
    "scorer.stub_s": "stub",
}


def profile_totals(dump_dir: str) -> dict[str, tuple[float, int]]:
    """stem -> (cumulative seconds, calls) summed over every UDF dump."""
    files = glob.glob(os.path.join(dump_dir, "*.pstats"))
    out = {stem: (0.0, 0) for stem, _, _ in FUNCS}
    if not files:
        return out
    stats = pstats.Stats(*files).stats
    for (path, _line, func), (_cc, nc, _tt, ct, _callers) in stats.items():
        for stem, suffix, name in FUNCS:
            if func == name and path.endswith(suffix):
                t, n = out[stem]
                out[stem] = (t + ct, n + nc)
    return out


def profile_metrics(prof: dict[str, tuple[float, int]], runs: int, scored_rows: float) -> dict[str, float]:
    """Per-run module metrics from ``runs`` profiled runs."""
    t = {stem: ct / runs for stem, (ct, _) in prof.items()}
    n = {stem: nc / runs for stem, (_, nc) in prof.items()}
    out = {metric: t[stem] for metric, stem in STAGES.items()}
    stage_sum = sum(out.values())
    out.update({
        "mentions.docs": n["mentions"],
        "evidence.pairs": n["select"],
        "evidence.hit_ratio": n["featurize"] / n["select"] if n["select"] else 0.0,
        "features.encode_s": t["encode"],
        "features.keep_ratio": scored_rows / n["featurize"] if n["featurize"] else 0.0,
        "electra.encoder_s": t["encoder"],
        "electra.head_s": t["pool"] + t["head"],
        "pipeline.udf_self_s": max(t["udf"] - stage_sum, 0.0),
        "trace.stage_sum_s": max(t["udf"], stage_sum),
    })
    return out


def top_stage(metrics: dict[str, float]) -> str:
    return max(list(STAGES) + ["pipeline.udf_self_s"], key=lambda k: metrics.get(k, 0.0))


# ---------------------------------------------------------------------------
# /proc: resident memory of this process and all its descendants
# ---------------------------------------------------------------------------


def _tree_rss_bytes(root: int) -> int:
    parent: dict[int, int] = {}
    rss: dict[int, int] = {}
    page = os.sysconf("SC_PAGE_SIZE")
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
            with open(f"/proc/{d}/statm") as f:
                resident = int(f.read().split()[1])
        except OSError:  # the process ended between listdir and open
            continue
        fields = stat[stat.rindex(")") + 2 :].split()
        parent[int(d)] = int(fields[1])
        rss[int(d)] = resident * page
    total = 0
    for pid, r in rss.items():
        p = pid
        while p and p != root:
            p = parent.get(p, 0)
        if p == root:
            total += r
    return total


class PeakRss:
    """Samples the process tree's resident memory every ``interval`` s
    while ``active`` is set; ``peak_mb`` is the largest sample."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self.active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            if self.active.is_set():
                self.peak = max(self.peak, _tree_rss_bytes(os.getpid()))

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20
