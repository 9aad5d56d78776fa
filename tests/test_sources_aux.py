"""GDA / TACRED auxiliary sources (S6-S8, S11)."""

from __future__ import annotations

import json

from relation_extraction_cdr_spark.sources.gda import (
    read_gda_abstracts,
    read_gda_annotations,
    read_gda_labels,
)
from relation_extraction_cdr_spark.sources.tacred import read_tacred


def test_gda_abstracts(spark, tmp_path):
    p = tmp_path / "abs.txt"
    p.write_text("G1\nFirst Line\nSecond Line\n\nG2\nOther Text\n")
    docs = {r["doc_id"]: r["text"] for r in read_gda_abstracts(spark, str(p)).collect()}
    assert docs == {"G1": "first line second line", "G2": "other text"}


def test_gda_annotations_dupe_resolution(spark, tmp_path):
    p = tmp_path / "anns.tsv"
    p.write_text(
        "G1\t0\t5\tBRCA1\tGene\t672\n"
        "G1\t0\t5\tBRCA1\tDisease\tD999\n"  # type-conflicting duplicate span
        "G1\t10\t16\tcancer\tDisease\tD009\n"
    )
    rows = read_gda_annotations(spark, str(p)).collect()
    spans = {(r["start"], r["end"]): r["type"] for r in rows}
    assert len(rows) == 2
    assert spans[(0, 5)] == "Gene"  # priority wins on conflict


def test_gda_labels(spark, tmp_path):
    p = tmp_path / "labels.csv"
    p.write_text("id,geneId,diseaseId,label\nG1,672,D009,1\nG2,673,D010,0\n")
    rows = read_gda_labels(spark, str(p)).collect()
    assert {(r["doc_id"], r["label"]) for r in rows} == {("G1", 1), ("G2", 0)}


def test_tacred(spark, tmp_path):
    p = tmp_path / "tacred.json"
    p.write_text(json.dumps([
        {"id": "t1", "relation": "per:title", "token": ["John", "is", "CEO"],
         "subj_start": 0, "subj_end": 0, "obj_start": 2, "obj_end": 2,
         "subj_type": "PERSON", "obj_type": "TITLE"},
    ]))
    rows = read_tacred(spark, str(p)).collect()
    assert rows[0]["text"] == "John is CEO"
    assert rows[0]["relation"] == "per:title"


def test_vocab_scan_order_and_duplicates(spark, tmp_path):
    """S5: token = first TSV field stripped, id = 0-based line index,
    duplicate token keeps the LATER id while indices keep advancing
    (tokenization.py:72-85)."""
    from relation_extraction_cdr_spark.sources.vocab import read_vocab, vocab_dict

    p = tmp_path / "vocab.tsv"
    p.write_text("<pad>\t0.0\n<unk>\t-1.5\nhello\t-2.0\nhello\t-3.0\nworld \t-4.0\n")
    df = read_vocab(spark, str(p))
    rows = {(r["token"], r["token_id"]) for r in df.collect()}
    assert rows == {("<pad>", 0), ("<unk>", 1), ("hello", 2), ("hello", 3), ("world", 4)}
    d = vocab_dict(df)
    assert d == {"<pad>": 0, "<unk>": 1, "hello": 3, "world": 4}


def test_gda_to_cdr_end_to_end(spark, tmp_path):
    """The gda_trainer workload: GDA files -> CDR-shaped frames ->
    PubTator round-trip -> candidate generation + gold labeling (Gene
    plays the chemical role).  Includes the reference quirk: a label=0
    row still becomes a CID relation line (write_cdr_file ignores the
    label value, convert_gda_to_cdr.py:112-113)."""
    from relation_extraction_cdr_spark.operators.candidates import candidate_pairs_py
    from relation_extraction_cdr_spark.operators.mentions import entity_inventory_py
    from relation_extraction_cdr_spark.sources.gda import (
        gda_to_cdr,
        read_gda_abstracts,
        read_gda_annotations,
        read_gda_labels,
    )
    from relation_extraction_cdr_spark.sources.pubtator import (
        parse_documents,
        parse_mentions,
        parse_relations,
        read_pubtator,
        write_pubtator,
    )

    (tmp_path / "abs.txt").write_text(
        "doc1\nBRCA1 mutations cause breast cancer.\n\n"
        "doc2\nTP53 relates to sarcoma risk.\n\n"
    )
    (tmp_path / "anns.txt").write_text(
        "doc1\t0\t5\tBRCA1\tGene\tG672\n"
        "doc1\t22\t35\tbreast cancer\tDisease\tD001943\n"
        "doc2\t0\t4\tTP53\tGene\tG7157\n"
        "doc2\t16\t23\tsarcoma\tDisease\tD012509\n"
    )
    (tmp_path / "labels.csv").write_text(
        "id,geneId,diseaseId,label\n"
        "doc1,G672,D001943,1\n"
        "doc2,G7157,D012509,0\n"
    )

    docs, mentions, relations = gda_to_cdr(
        read_gda_abstracts(spark, str(tmp_path / "abs.txt")),
        read_gda_annotations(spark, str(tmp_path / "anns.txt")),
        read_gda_labels(spark, str(tmp_path / "labels.csv")),
    )
    # reference quirk: BOTH label rows become relations
    assert relations.count() == 2

    out = str(tmp_path / "gda_as_cdr.txt")
    write_pubtator(docs, mentions, relations, out)
    blocks = read_pubtator(spark, out)
    rt_docs = parse_documents(blocks)
    rt_mentions = parse_mentions(blocks)
    rt_relations = parse_relations(blocks, rt_mentions)
    assert rt_docs.count() == 2 and rt_mentions.count() == 4
    assert rt_relations.count() == 2

    # the gda_trainer pipeline shape: Gene as the 'Chemical' role, each
    # document's mentions in start order through the per-document
    # inventory and pair steps
    mentions: dict[str, list[dict]] = {}
    for r in sorted(rt_mentions.collect(), key=lambda r: (r["start"], r["end"])):
        m = r.asDict()
        m["type"] = "Chemical" if m["type"] == "Gene" else m["type"]
        mentions.setdefault(r["doc_id"], []).append(m)
    gold: dict[str, list[tuple[str, str]]] = {}
    for r in rt_relations.collect():
        gold.setdefault(r["doc_id"], []).append((r["chem_mesh"], r["dis_mesh"]))
    got = {
        (doc, c["mesh_id"], d["mesh_id"]): label
        for doc, ms in mentions.items()
        for c, d, label in candidate_pairs_py(
            entity_inventory_py(ms), gold.get(doc, []), {}
        )
    }
    assert got == {
        ("doc1", "G672", "D001943"): 1,
        ("doc2", "G7157", "D012509"): 1,  # label=0 row still a CID line
    }
