"""Reachability lint: the package holds only what the engine runs.

Non-test code is the package itself, ``scripts/``, ``perfbench/``
(without its ``test_*.py``), ``bench.py`` and ``__spark_entry__.py``.

- Every module under ``relation_extraction_cdr_spark/`` is imported by
  non-test code other than itself.
- Every top-level def, class or assignment of a package module is named,
  as a whole word, in non-test code outside its own body: as a Python
  name or inside a string (queries and profilers look kernels up by
  name), not in a comment.  The functions registered in
  ``queries.QUERIES`` are reached through the registry.

A name that only tests reach fails here; delete it, or wire it into the
engine, or (for a documented contract) add it to ``ALLOWED`` with the
reason.  The match is by whole word, not by binding, so it can miss a
dead name that collides with a live one (a dead ``normalize`` stays
hidden while any non-test code says ``normalize``): the lint catches
what is plainly unreached, it does not prove the rest reached.
"""

from __future__ import annotations

import ast
import io
import re
import tokenize
from collections import defaultdict
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = "relation_extraction_cdr_spark"

# module -> why it stays although no non-test code imports it
ALLOWED_MODULES: dict[str, str] = {
    "sources.vocab": "reader of the reference's vocab files (a source reader)",
}

# (module, name) -> why it stays although no non-test code names it
ALLOWED: dict[tuple[str, str], str] = {
    ("sources.pubtator", "read_pubtator"):
        "reader of the reference's PubTator files (a source reader)",
    ("sources.gda", "read_gda_abstracts"):
        "reader of the reference's GDA abstract files (a source reader)",
    ("sources.gda", "read_gda_annotations"):
        "reader of the reference's GDA annotation files (a source reader)",
    ("sources.gda", "read_gda_labels"):
        "reader of the reference's GDA label files (a source reader)",
    ("sources.tacred", "read_tacred"):
        "reader of the reference's TACRED files (a source reader)",
    ("sources.vocab", "read_vocab"):
        "reader of the reference's vocab files (a source reader)",
    ("sources.vocab", "vocab_dict"):
        "token -> id form of read_vocab's table",
    ("plans.pipeline", "pr_metrics"):
        "triple-table precision/recall/F1 against gold, for evaluation callers",
    ("plans.audit", "unrounded_decimal_quotients"):
        "the plan lint for unrounded decimal division",
    ("scoring.train", "train_pair_head_local"):
        "single-process oracle of the distributed pair-head trainer",
    ("functions.wordpiece", "PAD_ID"):
        "special-token id contract next to UNK_ID, CLS_ID and SEP_ID",
    ("operators.multimodal", "MEDIA_SCHEMA"):
        "schema contract of the media rows the decoders read",
}


def _non_test_files() -> list[Path]:
    files = sorted((REPO / PKG).rglob("*.py"))
    files += sorted((REPO / "scripts").rglob("*.py"))
    files += [p for p in sorted((REPO / "perfbench").rglob("*.py"))
              if not p.name.startswith("test_")]
    files += [REPO / "bench.py", REPO / "__spark_entry__.py"]
    return [p for p in files if "__pycache__" not in p.parts]


def _module_name(path: Path) -> str | None:
    rel = path.relative_to(REPO).with_suffix("")
    if rel.parts[0] != PKG:
        return None
    parts = rel.parts[:-1] if rel.name == "__init__" else rel.parts
    return ".".join(parts)


def _imports(path: Path, tree: ast.Module) -> set[str]:
    """Absolute names of the modules ``path`` imports, with every parent
    package (importing a.b.c runs a and a.b too)."""
    mod = _module_name(path)
    package = (mod if path.name == "__init__.py" else mod.rpartition(".")[0]) if mod else ""
    out: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            out.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                anchor = package.split(".")[: len(package.split(".")) - node.level + 1]
                base = ".".join(anchor + ([base] if base else []))
            out.add(base)
            out.update(f"{base}.{a.name}" for a in node.names)
    for name in list(out):
        while "." in name:
            name = name.rpartition(".")[0]
            out.add(name)
    return out


def _words(source: str) -> list[tuple[str, int]]:
    """(word, line) of every name and every word inside a string literal;
    comments are skipped."""
    out = []
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type == tokenize.NAME:
            out.append((tok.string, tok.start[0]))
        elif tok.type == tokenize.STRING:
            out.extend((w, tok.start[0]) for w in re.findall(r"\w+", tok.string))
    return out


def _top_level(tree: ast.Module) -> list[tuple[str, int, int]]:
    """(name, first line, last line) of each top-level def, class and
    assigned name, decorators included in the span."""
    out = []
    for node in tree.body:
        first = min([node.lineno] + [d.lineno for d in getattr(node, "decorator_list", [])])
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            out.append((node.name, first, node.end_lineno))
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                for n in ast.walk(t):
                    if isinstance(n, ast.Name):
                        out.append((n.id, first, node.end_lineno))
    return out


def _scan():
    sources = {p: p.read_text(encoding="utf-8") for p in _non_test_files()}
    trees = {p: ast.parse(s) for p, s in sources.items()}
    words = {p: _words(s) for p, s in sources.items()}
    imported_by: dict[str, set[Path]] = defaultdict(set)
    for p, tree in trees.items():
        for m in _imports(p, tree):
            imported_by[m].add(p)
    return trees, words, imported_by


def _registered_queries() -> set[str]:
    from relation_extraction_cdr_spark.plans.queries import QUERIES

    return {fn.__name__ for fn in QUERIES.values()}


def _unreached_modules() -> list[str]:
    trees, _, imported_by = _scan()
    out = []
    for p in trees:
        mod = _module_name(p)
        if mod is None or mod == PKG:
            continue
        if not imported_by.get(mod, set()) - {p}:
            out.append(mod[len(PKG) + 1:])
    return out


def _unreached_names() -> list[tuple[str, str]]:
    trees, words, _ = _scan()
    everywhere: dict[str, set[Path]] = defaultdict(set)
    for p, ws in words.items():
        for w, _ in ws:
            everywhere[w].add(p)
    registered = _registered_queries()
    out = []
    for p, tree in trees.items():
        mod = _module_name(p)
        if mod is None:
            continue
        short = mod[len(PKG) + 1:]
        for name, first, last in _top_level(tree):
            if name.startswith("__") and name.endswith("__"):
                continue  # module protocol (__all__, __version__)
            if short == "plans.queries" and name in registered:
                continue
            if everywhere[name] - {p}:
                continue
            if any(w == name and not first <= line <= last for w, line in words[p]):
                continue
            out.append((short, name))
    return out


def test_every_package_module_is_imported_by_non_test_code():
    unreached = [m for m in _unreached_modules() if m not in ALLOWED_MODULES]
    assert not unreached, f"modules no non-test code imports: {unreached}"


def test_every_top_level_name_is_named_by_non_test_code():
    unreached = [f"{m}.{n}" for m, n in _unreached_names() if (m, n) not in ALLOWED]
    assert not unreached, f"top-level names only tests reach: {sorted(unreached)}"


def test_allowlists_hold_only_unreached_entries():
    """An allowlist entry that non-test code reaches, or that names
    nothing, excuses nothing and goes."""
    assert set(ALLOWED_MODULES) <= set(_unreached_modules())
    assert set(ALLOWED) <= set(_unreached_names())
