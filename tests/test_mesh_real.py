"""Golden-input parity on the REAL 2017 MeSH tree the reference ships
(data_loaders/2017MeshTree.txt, 57,840 TSV rows) — the dimension table
the whole design broadcasts. Verifies scan fidelity, the id->tree
multimap aggregation (A2, cdr_dataset.py:22-34), and that the
per-document mention detector works on the real-size gazetteer dict
with genuine multi-word medical terms."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from relation_extraction_cdr_spark.operators.mentions import (
    detect_mentions_py,
    gazetteer_dict,
    longest_term_words,
)
from relation_extraction_cdr_spark.sources.mesh import (
    gazetteer,
    read_mesh_tree,
    tree_multimap,
)

MESH_PATH = "/root/reference/data_loaders/2017MeshTree.txt"

pytestmark = pytest.mark.skipif(
    not os.path.exists(MESH_PATH), reason="reference data not present"
)


@pytest.fixture(scope="module")
def mesh_real(spark):
    return read_mesh_tree(spark, MESH_PATH).cache()


def _py_multimap():
    out: dict[str, list[str]] = {}
    with open(MESH_PATH, encoding="utf-8") as f:
        next(f)  # header
        for line in f:
            fields = line.rstrip("\n").split("\t")
            if len(fields) >= 3:
                out.setdefault(fields[1], []).append(fields[0])
    return out

def test_real_mesh_scan_and_multimap(spark, mesh_real):
    expect = _py_multimap()
    assert mesh_real.count() == sum(len(v) for v in expect.values())
    got = {
        r["mesh_id"]: sorted(r["tree_numbers"])
        for r in tree_multimap(mesh_real).collect()
    }
    assert got == {k: sorted(v) for k, v in expect.items()}
    # the hierarchy is genuinely prefix-structured (Levi filter substrate)
    some = expect["D001829"]  # Body Regions
    assert any(t == "A01" for t in some)


def test_real_mesh_gazetteer_detection(spark, mesh_real):
    """Detect real MeSH terms (incl. multi-word, longest-match shadowing)
    in a composed abstract using the full 58k-row gazetteer.
    Only C* (disease) and D* (chemical) branches are linkable — anatomy
    (A*) terms like 'body regions' must NOT produce mentions."""
    text = (
        "exposure to aspirin induced erythema chronicum migrans and "
        "migraine disorders while body regions showed edema."
    ).lower()
    gd = gazetteer_dict(gazetteer(mesh_real).collect())
    got = {
        (m["mention_text"], m["mesh_id"], m["type"])
        for m in detect_mentions_py(text, gd, longest_term_words(gd))
    }
    surfaces = {s for s, _, _ in got}
    # multi-word disease terms match whole
    assert "erythema chronicum migrans" in surfaces
    assert "migraine disorders" in surfaces
    assert "aspirin" in surfaces and "edema" in surfaces
    # longest-match-wins: the shadowed single-word prefix 'erythema'
    # (itself a C-branch term) must not also fire inside the span
    assert "erythema" not in surfaces
    # A-branch (anatomy) terms are not linkable entities
    assert "body regions" not in surfaces
    # types derive from the tree branch
    types = {s: t for s, _, t in got}
    assert types["aspirin"] == "Chemical"
    assert types["migraine disorders"] == "Disease"
