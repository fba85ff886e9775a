#!/usr/bin/env python
"""Name-reachability scan: the engine's top-level functions and classes
that no query, API or entry point reaches.

Roots: `__spark_entry__.py`, the public functions of `api.py`, `main.py`,
`bench*.py`, `perfbench/` and `tools/` (this scanner aside), plus every
package module's own top-level statements (they run on import). From the
roots the scan follows every name the reached code mentions -- identifiers,
attribute names, imported names, and identifier-shaped words inside string
literals other than docstrings (`bench_scaling.py` calls
`Q.synthetic_polygon_layer` from a script template) -- to each top-level
definition of that name in the package, and repeats until nothing new is
reached. Tests are not roots.

Matching is by bare name, so a name reached anywhere reaches every
definition of it: the scan errs toward calling code live. A name assembled
at run time from pieces is not seen, so confirm a reported item by hand
before deleting it.

Usage:  python tools/dead_code.py    # prints unreachable names outside
                                     # ALLOWED; exits 1 if there are any
"""

from __future__ import annotations

import ast
import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = "resolve_overlap_and_gap_spark"

# Unreachable on purpose: NumPy reference implementations that
# tests/test_grid.py compares the JVM grid expressions against.
ALLOWED = frozenset({"grid.cell_id_np", "grid.covering_cells_np", "grid.parent_np"})

_WORD = re.compile(r"[A-Za-z_]\w*")
_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _parse(path: Path) -> ast.Module:
    return ast.parse(path.read_text(), filename=str(path))


def _docstrings(tree: ast.AST) -> set[int]:
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, *_DEFS)) and node.body:
            first = node.body[0]
            if (isinstance(first, ast.Expr) and isinstance(first.value, ast.Constant)
                    and isinstance(first.value.value, str)):
                out.add(id(first.value))
    return out


def _names(node: ast.AST, skip: set[int]):
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            yield n.id
        elif isinstance(n, ast.Attribute):
            yield n.attr
        elif isinstance(n, ast.alias):
            yield from n.name.split(".")
        elif (isinstance(n, ast.Constant) and isinstance(n.value, str)
              and id(n) not in skip):
            yield from _WORD.findall(n.value)


def _root_files(repo: Path) -> list[Path]:
    files = [repo / "__spark_entry__.py", repo / "main.py", *sorted(repo.glob("bench*.py"))]
    for d in ("perfbench", "tools"):
        files += sorted((repo / d).rglob("*.py"))
    return [f for f in files if f.exists() and f.resolve() != Path(__file__).resolve()]


def unreachable(repo: Path = REPO) -> set[str]:
    """Qualified names (`module.name`, relative to the package) of the
    package's top-level definitions that no root reaches."""
    defs: dict[str, list[tuple[str, ast.AST, set[int]]]] = {}
    work: list[tuple[ast.AST, set[int]]] = []
    reached: set[str] = set()
    for path in sorted((repo / PKG).rglob("*.py")):
        tree = _parse(path)
        skip = _docstrings(tree)
        mod = ".".join(path.relative_to(repo / PKG).with_suffix("").parts)
        for stmt in tree.body:
            if not isinstance(stmt, _DEFS):
                work.append((stmt, skip))
                continue
            qual = f"{mod}.{stmt.name}"
            defs.setdefault(stmt.name, []).append((qual, stmt, skip))
            if mod == "api" and not stmt.name.startswith("_"):
                reached.add(qual)
                work.append((stmt, skip))
    for path in _root_files(repo):
        tree = _parse(path)
        work.append((tree, _docstrings(tree)))

    seen: set[str] = set()
    while work:
        node, skip = work.pop()
        for name in _names(node, skip):
            if name in seen:
                continue
            seen.add(name)
            for qual, d, dskip in defs.get(name, ()):
                if qual not in reached:
                    reached.add(qual)
                    work.append((d, dskip))
    return {q for ds in defs.values() for q, _, _ in ds} - reached


def main() -> int:
    dead = sorted(unreachable() - ALLOWED)
    for q in dead:
        print(q)
    return 1 if dead else 0


if __name__ == "__main__":
    sys.exit(main())
