"""Gazetteer-based mention detection (SURVEY §2.3 J8 + §2.5 W6).

Reference behavior: convert_alps_to_cdr.py:65-88 scans document text
left-to-right matching the LONGEST gazetteer surface at each offset
(entities sorted by length desc at :65), emitting (start, end, term, id)
mention rows.  The CDR path consumes equivalent mention rows from the
PubTator file (cdr_dataset.py:60-66).

One implementation, per document in plain Python: ``detect_mentions_py``
(space-split tokens with punctuation-stripped offsets, n-gram lookups in
the gazetteer dict, greedy longest-match) and ``entity_inventory_py``
over its output, composed as ``document_inventory``.  The pipeline runs
them inside the fused per-document stage (scoring.scorer.score_document);
scoring.scorer.document_mentions runs the detector as one narrow
mapInPandas for callers that want mention rows (the query catalog).
The gazetteer rides in the UDF closure as a plain dict, so detection
needs no token explode, no n-gram join and no per-document window
shuffle.
"""

from __future__ import annotations

from collections.abc import Iterable


def gazetteer_dict(
    rows: Iterable[tuple[str, str, str]],
) -> dict[str, list[tuple[str, str]]]:
    """term -> [(mesh_id, type)] plain dict of (term, mesh_id, type)
    gazetteer rows, for in-UDF matching (the same payload a broadcast
    variable carries; ~MBs for 58k MeSH rows)."""
    out: dict[str, list[tuple[str, str]]] = {}
    for term, mesh_id, typ in rows:
        out.setdefault(term, []).append((mesh_id, typ))
    return out


def longest_term_words(gaz: dict[str, list[tuple[str, str]]]) -> int:
    """Word count of the gazetteer's longest term: the n-gram length
    ``detect_mentions_py`` looks up."""
    return max(t.count(" ") + 1 for t in gaz)


def detect_mentions_py(
    text: str,
    gaz: dict[str, list[tuple[str, str]]],
    max_term_words: int,
) -> list[dict]:
    """One document's mentions, as dicts (mesh_id, mention_text, type,
    start, end) in start order: space-split tokens with
    punctuation-stripped clean forms and char offsets, n-gram candidates
    (n=1..max_term_words), greedy longest-match-wins ordered by (start
    asc, length desc, mesh_id asc) with a running max-end cut.  Used
    inside the doc-level fused UDF so the 100 TB pipeline needs NO token
    explode / window shuffle for mention detection — the gazetteer dict
    rides in the UDF closure/broadcast.  tests/relational_oracle.py
    restates it relationally as its pytest oracle.
    """
    toks: list[tuple[str, int, int]] = []  # (clean, cstart, cend)
    off = 0
    for tok in text.split(" "):
        # strip leading and trailing chars outside the exact
        # ascii-lower+digit class [^a-z0-9]
        alnum = "abcdefghijklmnopqrstuvwxyz0123456789"
        i0 = 0
        while i0 < len(tok) and tok[i0] not in alnum:
            i0 += 1
        i1 = len(tok)
        while i1 > i0 and tok[i1 - 1] not in alnum:
            i1 -= 1
        clean = tok[i0:i1]
        toks.append((clean, off + i0, off + i0 + len(clean)))
        off += len(tok) + 1
    matches: list[tuple[int, int, str, str, str, str]] = []
    n_toks = len(toks)
    for i in range(n_toks):
        # build the n-gram surface incrementally instead of re-joining
        # the slice for every n — this kernel runs once per document at
        # corpus scale, so constant factors matter
        surface = toks[i][0]
        for n in range(1, max_term_words + 1):
            j = i + n - 1
            if j >= n_toks:
                break
            if n > 1:
                surface = surface + " " + toks[j][0]
            if surface:
                for mesh_id, typ in gaz.get(surface, ()):
                    matches.append(
                        (toks[i][1], toks[j][2], mesh_id, surface, typ, surface)
                    )
    matches.sort(key=lambda m: (m[0], -(m[1] - m[0]), m[2]))
    out: list[dict] = []
    max_end = -1
    for start, end, mesh_id, surface, typ, _ in matches:
        if start >= max_end:
            out.append(
                dict(mesh_id=mesh_id, mention_text=surface, type=typ,
                     start=start, end=end)
            )
        # dropped matches extend max_end too: the cut is the running max
        # end over ALL prior candidates
        max_end = max(max_end, end)
    return out


def entity_inventory_py(mentions: list[dict]) -> list[dict]:
    """Per-document entity inventory (SURVEY §1.2, cdr_dataset.py:54-75)
    of mentions in start order (``detect_mentions_py``'s output): per
    mesh_id its positions list, and the representative surface and type
    of its LAST mention, entities in first-mention order.  The starts
    strictly increase, so the reference's per-mention dict overwrite
    (cdr_dataset.py:72-75) is the last-mention rule."""
    inv: dict[str, dict] = {}
    for m in mentions:
        e = inv.setdefault(m["mesh_id"], {"mesh_id": m["mesh_id"], "positions": []})
        e["positions"].append({"start": m["start"], "end": m["end"]})
        e["rep_text"] = m["mention_text"]
        e["type"] = m["type"]
    return list(inv.values())


def document_inventory(
    text: str,
    gaz: dict[str, list[tuple[str, str]]],
    max_term_words: int,
) -> list[dict]:
    """The inventory step: one document's text -> its entity inventory
    (``entity_inventory_py`` over ``detect_mentions_py``)."""
    return entity_inventory_py(detect_mentions_py(text, gaz, max_term_words))
