"""Evidence-selection decision procedure (text_utils.py:54-150 semantics)."""

from __future__ import annotations

from relation_extraction_cdr_spark.operators.evidence import select_evidence_py


def _mk(text, chem_surf, dis_surf):
    cs = text.find(chem_surf)
    ds = text.find(dis_surf)
    return dict(
        text=text,
        chem="D910001",
        dis="D010001",
        chem_positions=[(cs, cs + len(chem_surf))],
        dis_positions=[(ds, ds + len(dis_surf))],
        chem_text=chem_surf,
        dis_text=dis_surf,
        label=1,
    )


def test_intra_near():
    k = _mk("lithium induced severe tremor in rats. filler here.", "lithium", "tremor")
    row = select_evidence_py(**k)
    assert row["evidence_type"] == "intra"
    assert row["sentence"] == "lithium induced severe tremor in rats."
    assert row["chem_start"] == 0


def test_far_token_same_sentence():
    # >= 10 space-separated pieces between (mesh-code-length quirk applies)
    text = (
        "lithium administered daily over a very long observation period of many "
        "weeks in the cohort eventually induced tremor."
    )
    row = select_evidence_py(**_mk(text, "lithium", "tremor"))
    assert row["evidence_type"] == "inter_fartoken"


def test_inter_window():
    text = (
        "lithium was administered. the cohort was monitored. "
        "tremor was recorded later."
    )
    row = select_evidence_py(**_mk(text, "lithium", "tremor"))
    assert row["evidence_type"] == "inter_window"
    # window spans from the chem sentence through the dis sentence
    assert row["sentence"].startswith("lithium was administered.")
    assert row["sentence"].endswith("tremor was recorded later.")
    assert row["chem_start"] == 0
    assert row["dis_start"] == text.find("tremor")


def test_too_far_dropped():
    text = (
        "lithium was administered. f one. f two. f three. f four. "
        "tremor was recorded."
    )
    row = select_evidence_py(**_mk(text, "lithium", "tremor"))
    assert row is None


def test_min_distance_tie_first_wins():
    # two intra candidates; reference picks list.index(min) — the FIRST
    text = "lithium caused tremor. lithium induced tremor."
    k = _mk(text, "lithium", "tremor")
    # add second mention positions for both entities (second sentence)
    c2 = text.find("lithium", 10)
    d2 = text.find("tremor", 22)
    k["chem_positions"].append((c2, c2 + 7))
    k["dis_positions"].append((d2, d2 + 6))
    row = select_evidence_py(**k)
    assert row["evidence_type"] == "intra"
    assert row["sent_pos"] == 0  # first sentence wins the tie
