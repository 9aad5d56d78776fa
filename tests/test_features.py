"""Featurization: marker insertion, masks, label-encode, truncation
(cdr_dataset.py:294-376 semantics)."""

from __future__ import annotations

import random

import numpy as np

from relation_extraction_cdr_spark.functions.wordpiece import (
    E_END_ID,
    E_START_ID,
    encode,
    token_to_id,
    tokenize,
)
from relation_extraction_cdr_spark.operators.features import (
    _encoded_marker_mask,
    featurize_py,
    fulltext_featurize_py,
)
from relation_extraction_cdr_spark.operators.ner import ner_featurize_py


def test_tokenizer_markers():
    pieces = tokenize("x [E] lithium [/E] y")
    assert pieces == ["x", "[e]", "lithium", "[/e]", "y"]
    # encode wraps with [CLS] ... [SEP] like the reference's .encode()
    ids = encode("x [E] lithium [/E] y")
    assert ids[2] == E_START_ID and ids[4] == E_END_ID


def test_marker_insertion_and_mask():
    sent = "lithium induced severe tremor in rats."
    cs, ds = 0, sent.find("tremor")
    feat = featurize_py(sent, 0, "D910001", "D010001", cs, cs + 7, ds, ds + 6)
    ids = feat["token_ids"]
    mask = feat["entity_mask"]
    assert len(ids) == len(mask)
    # marker spans carry entity codes; everything else is 'O'
    # classes sorted lexicographically: D010001 < D910001 < O
    assert feat["dis_code"] == 0 and feat["chem_code"] == 1
    o_code = 2
    assert mask[0] == o_code  # [CLS] is an 'O' row
    # chemical span: [e] lithium [/e] = tokens 1..3 after [CLS]
    assert mask[1] == mask[2] == mask[3] == feat["chem_code"]
    assert mask[4] == o_code
    # disease span carries dis_code
    tremor_pos = ids.index(token_to_id("tremor"))
    assert mask[tremor_pos] == feat["dis_code"]
    assert mask[tremor_pos - 1] == feat["dis_code"]  # [e] marker
    assert mask[tremor_pos + 1] == feat["dis_code"]  # [/e] marker


def test_marker_insertion_disease_first():
    sent = "tremor was not observed after lithium treatment."
    ds, cs = 0, sent.find("lithium")
    feat = featurize_py(sent, 0, "D910001", "D010001", cs, cs + 7, ds, ds + 6)
    ids, mask = feat["token_ids"], feat["entity_mask"]
    # earlier-starting entity (disease) is 'first' in mask-walk order
    # (mask[0] is the [CLS] 'O' row; the disease marker opens at 1)
    assert mask[1] == feat["dis_code"]
    li = ids.index(token_to_id("lithium"))
    assert mask[li] == feat["chem_code"]


def test_sentence_relative_offsets():
    # evidence from mid-document: offsets are sent_pos-relative
    sent = "lithium induced tremor."
    feat = featurize_py(sent, 100, "D910001", "D010001", 100, 107, 116, 122)
    assert feat is not None
    assert feat["token_ids"][1] == E_START_ID  # [0] is [CLS]


def test_overlong_dropped():
    sent = ("word " * 600 + "lithium induced tremor.").strip()
    cs = sent.find("lithium")
    ds = sent.find("tremor")
    assert featurize_py(sent, 0, "C", "D", cs, cs + 7, ds, ds + 6) is None


def test_fulltext_dual_typed_mesh_keeps_labels_aligned():
    """A mesh_id supplied under BOTH entity types (possible only with
    caller-supplied entity lists — the reference inventory is a dict)
    must not desync labels from the chem_meshes × dis_meshes pair order:
    last type wins (the dict-overwrite rule) and every id appears once."""
    text = "aspirin xeno xeno tremor."
    ents = [
        {"mesh_id": "C1", "type": "Chemical",
         "positions": [{"start": 0, "end": 7}]},
        {"mesh_id": "X", "type": "Chemical",
         "positions": [{"start": 8, "end": 12}]},
        {"mesh_id": "X", "type": "Disease",
         "positions": [{"start": 13, "end": 17}]},
        {"mesh_id": "D1", "type": "Disease",
         "positions": [{"start": 18, "end": 24}]},
    ]
    feat = fulltext_featurize_py(text, ents, [("C1", "D1")])
    assert feat is not None
    # X collapsed to its LAST type (Disease): one chem, two diseases
    assert feat["chem_meshes"] == ["C1"]
    assert feat["dis_meshes"] == ["X", "D1"]
    # labels align with the cross order the scorer reconstructs
    assert len(feat["labels"]) == len(feat["chem_meshes"]) * len(feat["dis_meshes"])
    assert feat["labels"] == [0, 1]  # (C1,X) negative, (C1,D1) gold
    assert len(feat["chem_codes"]) == 1 and len(feat["dis_codes"]) == 2


def test_literal_marker_in_text_drops_row():
    """Page text holding the tokenizer's own ``[e]``/``[/e]`` marker
    tokens would add a marker span the featurizer did not insert (a
    mask longer than the ids, or a span with no code): every featurizer
    drops such a row instead of emitting a desynced mask, shifted NER
    labels or raising."""
    for junk in ("[e]", "[/e]", "[E] [/E]"):
        sent = f"lithium induced tremor {junk} in rats."
        ds = sent.find("tremor")
        assert featurize_py(sent, 0, "D910001", "D010001", 0, 7, ds, ds + 6) is None
        ents = [
            {"mesh_id": "D910001", "type": "Chemical",
             "positions": [{"start": 0, "end": 7}]},
            {"mesh_id": "D010001", "type": "Disease",
             "positions": [{"start": ds, "end": ds + 6}]},
        ]
        assert fulltext_featurize_py(sent, ents, []) is None
        ner_ms = [
            {"start": 0, "end": 7, "type": "Chemical"},
            {"start": ds, "end": ds + 6, "type": "Disease"},
        ]
        assert ner_featurize_py(sent, ner_ms) is None
        # the literal marker AFTER the fulltext window's last [/e] still
        # drops the document
        long_text = sent.replace(junk, "word " * 600 + junk)
        assert fulltext_featurize_py(long_text, ents, []) is None
    clean = "lithium induced tremor in rats."
    assert featurize_py(clean, 0, "D910001", "D010001", 0, 7, 16, 22) is not None
    assert fulltext_featurize_py(clean, ents, []) is not None
    assert ner_featurize_py(clean, ner_ms)["labels"] == [0, 1]


def test_label_encoding_matches_np_unique():
    """The mask's codes are the LabelEncoder's: np.unique over the mask
    values as Python objects, on codes that sort around "O" both ways."""
    rng = random.Random(7)
    pool = ["D012345", "C-1", "o", "-1", "Z9", "O1", "D9"]
    for _ in range(200):
        ids, codes = [101], []
        for _ in range(rng.randint(0, 4)):
            ids += [7] * rng.randint(0, 3) + [E_START_ID, 9, E_END_ID]
            codes.append(rng.choice(pool))
        enc, lookup = _encoded_marker_mask(ids, codes or ["O"])
        values = {j: c for c, j in lookup.items()}
        mask = [values[j] for j in enc]
        classes, ref = np.unique(np.array(mask, dtype=object), return_inverse=True)
        assert enc == ref.tolist() and list(lookup) == classes.tolist()
        assert len(enc) == len(ids)
