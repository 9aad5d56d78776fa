"""Self-test of the benchmark's generator, triple check and metric parsing.

    python3 -m pytest perfbench -q

Needs no Spark session.
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE), str(HERE.parent)]

import gen  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402


def test_corpus_is_a_function_of_the_seed():
    a = gen.gen_corpus(3, 300, (8,), (0.008, 0.012))
    assert a == gen.gen_corpus(3, 300, (8,), (0.008, 0.012))
    b = gen.gen_corpus(4, 300, (8,), (0.008, 0.012))
    assert [r[3] for r in a.rows] != [r[3] for r in b.rows]
    assert a.heavy >= 1 and b.heavy >= 1
    heavy = [r for r in a.rows if len(r[3]) > gen.HEAVY_CHARS]
    assert len(heavy) == a.heavy
    assert all(len(r[3]) <= 1.5 * gen.HEAVY_CHARS + 100 for r in heavy)


def test_gold_follows_the_rotated_plan():
    # variant 0 of _doc_plan: "{C} induced severe {D} ..." is the gold
    # sentence; repeat 1 rotates both entity indices by one
    text, gold = gen.page_text(0, 2)
    assert "lithium induced severe tremor" in text
    assert ("D910001", "D010001") in gold
    assert all(c.startswith("D91") and d.startswith("D01") for c, d in gold)
    padded, same = gen.page_text(0, 2, min_chars=gen.HEAVY_CHARS)
    assert len(padded) > gen.HEAVY_CHARS and same == gold and padded.startswith(text)
    # plan id 99 is one of _doc_plan's 150-filler skew docs: cut to its base plan
    assert gen.page_text(99, 1)[0].count(".") <= gen.PLAN_MAX


def test_expected_counts_support_per_pair():
    corpus = gen.gen_corpus(1, 50)
    exp = corpus.expected()
    assert sum(exp.values()) == sum(len(p) for p in corpus.gold.values())
    some = list(corpus.gold)[:10]
    assert sum(corpus.expected(some).values()) == sum(len(corpus.gold[u]) for u in some)


def _row(s, o, support, predicate=gen.PREDICATE):
    return {"subj": s, "obj": o, "support": support, "predicate": predicate, "score": 0.9}


def test_check_triples():
    exp = {("c1", "d1"): 2, ("c2", "d2"): 1}
    good = [_row("c1", "d1", 2), _row("c2", "d2", 1)]
    c = gen.check_triples(good, exp)
    assert c.ok and (c.tp, c.fp, c.fn) == (2, 0, 0)
    c = gen.check_triples([_row("c1", "d1", 2), _row("c3", "d3", 1)], exp)
    assert not c.ok and (c.tp, c.fp, c.fn) == (1, 1, 1)
    assert c.precision == 0.5 and c.recall == 0.5
    assert not gen.check_triples([_row("c1", "d1", 1), _row("c2", "d2", 1)], exp).ok
    assert not gen.check_triples(good + [_row("c1", "d1", 2)], exp).ok
    assert not gen.check_triples([_row("c1", "d1", 2, "x"), _row("c2", "d2", 1)], exp).ok
    total = gen.Check()
    total.add(gen.check_triples(good, exp))
    total.add(gen.check_triples([], exp))
    assert not total.ok and total.recall == 0.5 and total.precision == 1.0


# the node list of a pages -> triples plan as plan_nodes reads it
# (pre-order; the flag marks nodes below the MapInPandas node)
PLAN = [
    ("AdaptiveSparkPlan", False, {}),
    ("HashAggregate", False, {"numOutputRows": 24}),
    ("Exchange", False, {"shuffleBytesWritten": 1593, "shuffleWriteTime": 0.002}),
    ("HashAggregate", False, {"aggTime": 0.018, "numOutputRows": 24}),
    ("HashAggregate", False, {"aggTime": 0.01, "numOutputRows": 934}),
    ("Exchange", False, {"shuffleBytesWritten": 36232, "shuffleWriteTime": 0.05}),
    ("HashAggregate", False, {"aggTime": 5.1, "numOutputRows": 934}),
    ("Filter", False, {"numOutputRows": 934}),
    ("MapInPandas", False, {
        "pythonTotalTime": 5.4, "pythonInitTime": 8.7, "pythonBootTime": 0.2,
        "pythonDataSent": 835920, "pythonDataReceived": 313160,
        "pythonNumRowsReceived": 3235,
    }),
    ("Union", True, {}),
    ("Filter", True, {"numOutputRows": 396}),
    ("Exchange", True, {"shuffleRecordsWritten": 4, "shuffleBytesWritten": 2690,
                        "shuffleWriteTime": 0.002}),
    ("Filter", True, {"numOutputRows": 4}),
]


def test_pipeline_metrics():
    m = layers.pipeline_metrics(PLAN)
    assert m["pipeline.python_total_s"] == 5.4
    assert m["pipeline.scored_rows"] == 3235
    assert m["pipeline.positive_rows"] == 934
    assert m["pipeline.triples"] == 24
    assert m["pipeline.heavy_docs"] == 4
    assert m["pipeline.exchange_bytes"] == 1593 + 36232 + 2690
    # the partial aggregate fed by the Python stage is left out of agg_s
    assert abs(m["pipeline.agg_s"] - 0.028) < 1e-9
    assert abs(m["pipeline.positive_ratio"] - 934 / 3235) < 1e-12


def test_profile_metrics():
    prof = {stem: (0.0, 0) for stem, _, _ in layers.FUNCS}
    prof.update(
        udf=(10.0, 40), mentions=(2.0, 800), split=(1.0, 800), select=(1.5, 4000),
        featurize=(4.0, 3600), encode=(2.5, 3600), stub=(0.5, 8),
    )
    m = layers.profile_metrics(prof, runs=2, scored_rows=3500)
    assert m["mentions.detect_s"] == 1.0 and m["mentions.docs"] == 400
    assert m["evidence.pairs"] == 2000 and m["evidence.hit_ratio"] == 0.9
    assert abs(m["features.keep_ratio"] - 3500 / 1800) < 1e-12
    assert m["trace.stage_sum_s"] == 5.0
    assert abs(m["pipeline.udf_self_s"] - 0.5) < 1e-12
    assert layers.top_stage(m) == "features.featurize_s"


def test_profile_totals_reads_pstats_dumps(tmp_path, monkeypatch):
    import cProfile

    def detect_mentions_py():
        return sum(range(1000))

    prof = cProfile.Profile()
    prof.runcall(detect_mentions_py)
    prof.dump_stats(str(tmp_path / "udf_1_perf.pstats"))
    # this test file stands in for mentions.py
    monkeypatch.setattr(layers, "FUNCS", [("mentions", "test_perfbench.py", "detect_mentions_py")])
    assert layers.profile_totals(str(tmp_path))["mentions"][1] == 1


def test_call_walls_times_each_call_and_restores():
    import types

    mod = types.SimpleNamespace(f=lambda x: x + 1)
    orig, walls = mod.f, []
    with layers.call_walls(mod, "f", walls):
        assert mod.f(1) == 2 and mod.f(2) == 3
    assert mod.f is orig and len(walls) == 2 and all(w >= 0 for w in walls)


def test_tree_rss_counts_this_process():
    assert layers._tree_rss_bytes(os.getpid()) > 10 * 2**20


def test_benchmark_json_matches_the_script():
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])
