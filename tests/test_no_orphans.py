"""Every library definition has a production caller.

Walks each top-level function and class of ``libosmtools_spark/`` and
fails on any that nothing outside the tests refers to: no loaded name,
attribute or import of it in ``libosmtools_spark/``, ``__spark_entry__.py``,
``bench.py``, ``tools/`` or ``perfbench/`` (a mention in a docstring or a
comment does not count, nor does a reference from inside the definition
itself).  A definition that only tests call is either deleted with its
tests or given a caller.
"""

from __future__ import annotations

import ast
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "libosmtools_spark"

#: definitions kept without a production caller, each a reference or view
#: that tests compare production code against
ALLOWED = {
    "geom/kernels.py::adaptive_covering_cells":
        "one-region view of covering_rows that the covering tests read",
    "geom/kernels.py::clip_edges_for_cell":
        "reference for the clipped edges of each PartialCells[i] entry",
    "sim/ann.py::cosine_topk_brute":
        "exact top-k reference of the ANN recall tests",
    "text/analysis.py::shingles_col":
        "reference for shingle_pos_rows",
}


def _production_files() -> list[Path]:
    files = list(PACKAGE.rglob("*.py")) + [ROOT / "__spark_entry__.py", ROOT / "bench.py"]
    for d in ("tools", "perfbench"):
        files += (ROOT / d).rglob("*.py")
    return sorted(files)


def _references(tree: ast.AST) -> Counter:
    """Loaded names, attribute names and imported names in ``tree``."""
    refs = Counter()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
            refs[node.id] += 1
        elif isinstance(node, ast.Attribute):
            refs[node.attr] += 1
        elif isinstance(node, ast.alias):
            refs[node.name.rsplit(".", 1)[-1]] += 1
    return refs


def orphans() -> list[str]:
    trees = {f: ast.parse(f.read_text(), str(f)) for f in _production_files()}
    everywhere = sum((_references(t) for t in trees.values()), Counter())
    found = []
    for f in sorted(PACKAGE.rglob("*.py")):
        for d in trees[f].body:
            if not isinstance(d, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                continue
            # a reference from inside its own body (recursion) is no caller
            if everywhere[d.name] - _references(d)[d.name] <= 0:
                found.append(f"{f.relative_to(PACKAGE).as_posix()}::{d.name}")
    return found


def test_every_definition_has_a_production_caller():
    got = orphans()
    unexpected = sorted(set(got) - set(ALLOWED))
    assert not unexpected, "definitions only tests call:\n  " + "\n  ".join(unexpected)


def test_allowlist_names_only_orphans():
    """An allowlisted definition that gains a production caller leaves the
    list; one that is deleted leaves it too."""
    assert sorted(set(ALLOWED) - set(orphans())) == []
