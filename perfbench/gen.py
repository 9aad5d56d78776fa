"""Seeded page generator and rule-derived gold for the benchmark.

Built on the public templates of ``relation_extraction_cdr_spark.datagen``
(``CHEMICALS``, ``DISEASES``, ``FILLER`` and the per-doc sentence plan
``_doc_plan``).  Unlike ``datagen.gen_pages_df``, whose text depends on
``doc_id`` alone, the seed here picks the doc-id range, each page's
length (sentence-plan repeats) and the share and placement of the heavy
pages, so a held-out seed gives a different document mix.  Each plan is
cut to its base sentences (``PLAN_MAX``), so only the heavy pages are
long.

The gold is the generator's own rule: every gold template of a page's
plan, with the ``(ci + rep, di + rep)`` rotation ``gen_pages_df`` uses,
names one ``(chemical, disease)`` pair of that page.  A triple table is
correct iff it holds exactly these pairs, each with ``support`` equal to
the number of pages that carry it.
"""

from __future__ import annotations

import random
from datetime import datetime, timezone
from dataclasses import dataclass

import pandas as pd

from relation_extraction_cdr_spark.datagen import (
    CHEMICALS,
    DISEASES,
    FILLER,
    PAGES_SCHEMA,
    _doc_plan,
)

PREDICATE = "CID:induces"
# score_candidates' default heavy_doc_chars: longer pages take the salted
# exchange branch
HEAVY_CHARS = 20_000
# sentences of the longest base plan.  _doc_plan appends 150 filler
# sentences to every 100th plan id; cutting them keeps page length, and
# with it the encoder's cost, out of the seed's hands: ``heavy_share``
# alone makes long pages
PLAN_MAX = 6
WARC_TS = datetime(2024, 1, 1, tzinfo=timezone.utc)


def page_text(doc_id: int, scale: int, min_chars: int = 0) -> tuple[str, set[tuple[str, str]]]:
    """One page: ``scale`` rotated repeats of the doc's sentence plan, then
    filler sentences until the text is longer than ``min_chars``.
    Returns (text, gold (chem_mesh, dis_mesh) pairs)."""
    parts: list[str] = []
    gold: set[tuple[str, str]] = set()
    for rep in range(scale):
        plan = _doc_plan((doc_id + rep * 7919) % (1 << 31))[:PLAN_MAX]
        for tpl, ci, di, is_gold in plan:
            chem = CHEMICALS[(ci + rep) % len(CHEMICALS)]
            dis = DISEASES[(di + rep) % len(DISEASES)]
            parts.append(tpl.replace("{C}", chem[1]).replace("{D}", dis[1]))
            if is_gold:
                gold.add((chem[0], dis[0]))
    text = " ".join(parts)
    if len(text) <= min_chars:
        n_fill = (min_chars - len(text)) // (len(FILLER) + 1) + 1
        text = " ".join([text] + [FILLER] * n_fill)
    return text, gold


@dataclass(frozen=True)
class Corpus:
    rows: list[tuple]  # PAGES_SCHEMA rows
    gold: dict[str, frozenset[tuple[str, str]]]  # url -> gold pairs
    heavy: int  # pages longer than HEAVY_CHARS

    def expected(self, urls=None) -> dict[tuple[str, str], int]:
        """(subj, obj) -> support over ``urls`` (all pages when None)."""
        out: dict[tuple[str, str], int] = {}
        for url in self.gold if urls is None else urls:
            for pair in self.gold[url]:
                out[pair] = out.get(pair, 0) + 1
        return out


def gen_corpus(
    seed: int,
    n_pages: int,
    scales: tuple[int, ...] = (1,),
    heavy_share: tuple[float, float] = (0.0, 0.0),
) -> Corpus:
    """``n_pages`` pages whose mix is a function of ``seed``.

    ``scales``: each page repeats its sentence plan one of these many
    times; each value goes to an equal share of the pages.  ``heavy_share``: the share of heavy pages is drawn
    uniformly from this range and the heavy pages are placed at seeded
    positions; each is padded with filler to 1.0-1.5x ``HEAVY_CHARS``.
    """
    rng = random.Random(seed)
    base = rng.randrange(1 << 30)
    share = rng.uniform(*heavy_share)
    heavy_at = set(rng.sample(range(n_pages), round(share * n_pages)))
    # every length gets an equal share of the pages, at seeded positions,
    # so the total work of a corpus hardly depends on the seed
    page_scales = [scales[i % len(scales)] for i in range(n_pages)]
    rng.shuffle(page_scales)
    rows: list[tuple] = []
    gold: dict[str, frozenset[tuple[str, str]]] = {}
    for i, scale in enumerate(page_scales):
        doc_id = base + i
        min_chars = int(HEAVY_CHARS * rng.uniform(1.0, 1.5)) if i in heavy_at else 0
        text, pairs = page_text(doc_id, scale, min_chars)
        url = f"https://bench{seed}.example.org/doc/{doc_id}"
        html = b"<html><body><p>" + text.encode() + b"</p></body></html>"
        rows.append((url, WARC_TS, html, text, "en"))
        gold[url] = frozenset(pairs)
    heavy = sum(len(r[3]) > HEAVY_CHARS for r in rows)
    return Corpus(rows, gold, heavy)


def pages_df(spark, corpus: Corpus, partitions: int | None = None):
    """The corpus as a DataFrame, shipped to the JVM as Arrow batches (no
    Python worker involved); ``partitions`` re-slices it."""
    cols = [c.split(" ")[0] for c in PAGES_SCHEMA.split(", ")]
    df = spark.createDataFrame(pd.DataFrame(corpus.rows, columns=cols), PAGES_SCHEMA)
    return df.repartition(partitions) if partitions else df


@dataclass
class Check:
    """Counts of one triple-table comparison against the gold."""

    tp: int = 0
    fp: int = 0
    fn: int = 0
    ok: bool = True

    def add(self, other: "Check") -> None:
        self.tp += other.tp
        self.fp += other.fp
        self.fn += other.fn
        self.ok = self.ok and other.ok

    @property
    def precision(self) -> float:
        return self.tp / (self.tp + self.fp) if self.tp + self.fp else 0.0

    @property
    def recall(self) -> float:
        return self.tp / (self.tp + self.fn) if self.tp + self.fn else 0.0


def check_triples(rows, expected: dict[tuple[str, str], int]) -> Check:
    """Compare emitted triple rows (subj, predicate, obj, score, support)
    with the expected ``(subj, obj) -> support``.  ``ok`` needs the exact
    pair set, equal supports, the one predicate and no duplicate pair."""
    got: dict[tuple[str, str], int] = {}
    ok = True
    for r in rows:
        key = (r["subj"], r["obj"])
        ok = ok and key not in got and r["predicate"] == PREDICATE
        got[key] = r["support"]
    tp = len(got.keys() & expected.keys())
    return Check(
        tp=tp,
        fp=len(got) - tp,
        fn=len(expected) - tp,
        ok=ok and got == expected,
    )
