"""NER-path featurization (SURVEY §3.2; reference extract_ner_sample,
cdr_dataset.py:378-447): the mention-type classifier's input rows.

Semantics reproduced:
- ALL entity mentions of the document are marker-wrapped, sorted by
  start and inserted in REVERSE order so earlier offsets stay valid
  (W1/W2, cdr_dataset.py:395-400)
- tokenize the whole marked document
- truncate to 512 ids, then cut BACK to just after the last ``[/e]``
  marker id inside the window (W5, cdr_dataset.py:407-411) — a
  candidate span must never be half-truncated
  (these three steps: features.marked_document, shared with the
  is_full_sample featurizer)
- one output row per marked span: the position of the span's FIRST
  inner token + the type label Chemical=0 / Disease=1
  (cdr_dataset.py:439-445)

Execution: one narrow mapInPandas over (url, text, mentions array).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..functions.wordpiece import E_START_ID
from .features import marked_document

NER_SCHEMA = (
    "url string, token_ids array<int>, entity_token_idx array<int>, "
    "labels array<int>"
)

TYPE_LABELS = {"Chemical": 0, "Disease": 1}


def ner_featurize_py(text: str, mentions: list[dict]) -> dict | None:
    """mentions: [{'start','end','type'}]; returns token_ids +
    per-marked-span first-token index + type labels, or None when no
    span survives or ``features.marked_document`` drops the text."""
    marked = marked_document(
        text, [(int(m["start"]), int(m["end"]), m["type"]) for m in mentions]
    )
    if marked is None:
        return None
    ids, types = marked
    token_idx: list[int] = []
    labels: list[int] = []
    span = 0
    for i, x in enumerate(ids):
        if x == E_START_ID and i + 1 < len(ids):
            token_idx.append(i + 1)  # first inner token of the span
            labels.append(TYPE_LABELS.get(types[span], -1) if span < len(types) else -1)
            span += 1
    if not token_idx:
        return None
    return dict(token_ids=ids, entity_token_idx=token_idx, labels=labels)


def ner_features(docs_with_mentions: DataFrame) -> DataFrame:
    """Input: (url, text, mentions array<struct<start,end,type>>);
    output: NER_SCHEMA rows."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["url", "token_ids", "entity_token_idx", "labels"]
        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                feat = ner_featurize_py(r.text, r.mentions)
                if feat is not None:
                    out.append({"url": r.url, **feat})
            yield pd.DataFrame(out, columns=cols) if out else pd.DataFrame(columns=cols)

    return docs_with_mentions.mapInPandas(run, schema=NER_SCHEMA)


NER_SCORED_SCHEMA = "url string, span_idx int, label int, pred int, margin double"


def _ner_margins(w, head, feats: pd.DataFrame) -> pd.DataFrame:
    """NER_SCHEMA rows -> NER_SCORED_SCHEMA rows: one encoder pass per
    document (electra.encoded), the hidden states gathered at its
    marked spans' entity-token indices, and the token head per document
    at [n_spans, H], so every margin is bit-identical at any
    partitioning."""
    from ..scoring.electra import encoded

    cols = [c.split(" ")[0] for c in NER_SCORED_SCHEMA.split(", ")]
    eidx = feats["entity_token_idx"].tolist()
    labels = feats["labels"].tolist()
    urls = feats["url"].to_numpy()
    frames: list[pd.DataFrame] = []
    for i, hidden in encoded(w, feats["token_ids"].tolist()):
        lg = head.apply(hidden[np.asarray(eidx[i], np.int64)])  # [n_spans, 2]
        n = lg.shape[0]
        frames.append(
            pd.DataFrame(
                {
                    "url": np.repeat(urls[i], n),
                    "span_idx": np.arange(n, dtype=np.int32),
                    "label": np.asarray(labels[i], np.int32),
                    "pred": lg.argmax(axis=1).astype(np.int32),
                    "margin": (lg[:, 1] - lg[:, 0]).astype(np.float64),
                }
            )
        )
    return pd.concat(frames, ignore_index=True) if frames else pd.DataFrame(columns=cols)


def score_types(
    ner_feats: DataFrame, config=None, seed: int = 0, head_seed: int = 1,
    npz_path: str | None = None,
) -> DataFrame:
    """NER token-classification forward (SURVEY §2.9 M2 variant;
    reference electra_model.py:767-829) via ``_ner_margins``: encoder
    hidden states from the one equal-length-grouped loop, gathered at
    each marked span's entity-token index, dense -> gelu -> out_proj
    type head per document.  One output row per span: gold label,
    argmax pred, positive-class margin.

    Encoder weights come from the shared per-executor dispatch
    (electra.resolve_weights: ``npz_path`` for converted real weights,
    else (config, seed) — the same plug point as pool_features); the
    token head has no converted-checkpoint layout, so it stays seeded.
    Parity vs the literal port is pinned by
    tests/test_electra.py::test_ner_forward_parity."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..scoring.electra import DEFAULT_CONFIG, NerHead, resolve_weights

        cfg = config or DEFAULT_CONFIG
        w = resolve_weights(cfg, seed, npz_path)
        head = NerHead.seeded(cfg, head_seed)
        for pdf in batches:
            yield _ner_margins(w, head, pdf)

    return ner_feats.mapInPandas(run, schema=NER_SCORED_SCHEMA)


def macro_report(scored: DataFrame) -> DataFrame:
    """The A7-style classification report (reference cdr_trainer.py:
    333-370 prints sklearn's classification_report; this is the same
    math as a pure aggregation): per class — precision, recall, f1 in
    integer PPM (exact DECIMAL division, engine-portable) + support,
    plus a 'macro' row averaging the two classes' PPM values.  One
    dimension-bounded groupBy; no python."""
    # each SUM is coalesced to 0 so an empty scored frame (a corpus
    # slice with no detectable mentions) reports all-zero PPMs and
    # supports, not NULLs (SUM over zero rows is NULL in ANSI SQL)
    per = (
        scored.groupBy()
        .agg(
            *[
                F.coalesce(
                    F.sum(
                        ((F.col("pred") == c) & (F.col("label") == c)).cast("long")
                    ),
                    F.lit(0),
                ).alias(f"tp{c}")
                for c in (0, 1)
            ],
            *[
                F.coalesce(
                    F.sum((F.col("pred") == c).cast("long")), F.lit(0)
                ).alias(f"pp{c}")
                for c in (0, 1)
            ],
            *[
                F.coalesce(
                    F.sum((F.col("label") == c).cast("long")), F.lit(0)
                ).alias(f"gp{c}")
                for c in (0, 1)
            ],
        )
    )
    rows = []
    for c, name in ((0, "Chemical"), (1, "Disease")):
        rows.append(
            F.struct(
                F.lit(name).alias("class"),
                F.expr(
                    f"CAST(CAST(tp{c} AS DECIMAL(38,0)) * 1000000 DIV GREATEST(pp{c}, 1) AS BIGINT)"
                ).alias("precision_ppm"),
                F.expr(
                    f"CAST(CAST(tp{c} AS DECIMAL(38,0)) * 1000000 DIV GREATEST(gp{c}, 1) AS BIGINT)"
                ).alias("recall_ppm"),
                F.expr(
                    f"CAST(CAST(tp{c} AS DECIMAL(38,0)) * 2000000 DIV GREATEST(pp{c} + gp{c}, 1) AS BIGINT)"
                ).alias("f1_ppm"),
                F.col(f"gp{c}").alias("support"),
            )
        )
    exploded = per.select(F.explode(F.array(*rows)).alias("r")).select("r.*")
    macro = (
        exploded.groupBy()
        .agg(
            F.expr("CAST(SUM(precision_ppm) DIV 2 AS BIGINT)").alias("precision_ppm"),
            F.expr("CAST(SUM(recall_ppm) DIV 2 AS BIGINT)").alias("recall_ppm"),
            F.expr("CAST(SUM(f1_ppm) DIV 2 AS BIGINT)").alias("f1_ppm"),
            F.sum("support").alias("support"),
        )
        .select(
            F.lit("macro").alias("class"),
            "precision_ppm", "recall_ppm", "f1_ppm", "support",
        )
    )
    return exploded.unionByName(macro)


def docs_with_mentions(docs: DataFrame, mentions: DataFrame) -> DataFrame:
    """Join helper: one row per doc with its mention array."""
    agg = mentions.groupBy("url").agg(
        F.array_sort(F.collect_list(F.struct("start", "end", "type"))).alias("mentions")
    )
    return docs.join(agg, "url")
