"""Every public top-level name in ``tamer_spark/`` has a caller outside
``tests/``.

A public name that only tests call is surface nobody runs: it costs upkeep
and review and shows up in the API as if it were a feature. The scan reads
every top-level ``def``/``class`` whose name does not start with ``_`` in
``tamer_spark/`` (queries.py excepted: its builders are called through the
REGISTRY) and looks for the name in ``tamer_spark/``, ``examples/``,
``perfbench/``, ``scripts/``, ``bench.py`` and ``__spark_entry__.py``. A
reference is an identifier, an imported name, or a word of a string
literal (the registry and the docs name functions in strings). An
``__init__.py`` only re-exports, so it does not count. The scan matches
names, not calls: it can miss an unused name that shares a word with
something else, never the other way round.

No Spark session: the scan parses the sources with ``ast``.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
CALLER_DIRS = ("tamer_spark", "examples", "perfbench", "scripts")
CALLER_FILES = ("bench.py", "__spark_entry__.py")

#: names kept without an outside caller, each with the open work that will
#: call it
KEPT = {
    "rollup_sink": "joins the crash-point matrix of every shipped sink (ROADMAP item 5)",
    "ingest_quality_metrics": "rides the engine pin's observation into the per-epoch progress record (ROADMAP item 3)",
}

_WORD = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def _caller_sources():
    for d in CALLER_DIRS:
        yield from sorted((ROOT / d).rglob("*.py"))
    for f in CALLER_FILES:
        yield ROOT / f


def referenced_names() -> set[str]:
    names: set[str] = set()
    for path in _caller_sources():
        if path.name == "__init__.py":
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Name):
                names.add(node.id)
            elif isinstance(node, ast.Attribute):
                names.add(node.attr)
            elif isinstance(node, ast.alias):
                names.add(node.name.rsplit(".", 1)[-1])
            elif isinstance(node, ast.Constant) and isinstance(node.value, str):
                names.update(_WORD.findall(node.value))
    return names


def public_definitions() -> list[tuple[str, str]]:
    out = []
    for path in sorted((ROOT / "tamer_spark").rglob("*.py")):
        if path.name == "queries.py":
            continue
        for node in ast.parse(path.read_text(), str(path)).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)) and not node.name.startswith("_"):
                out.append((str(path.relative_to(ROOT)), node.name))
    return out


def test_every_public_name_has_an_outside_caller():
    used = referenced_names()
    orphans = [f"{path}:{name}" for path, name in public_definitions() if name not in used and name not in KEPT]
    assert not orphans, f"{len(orphans)} public names only tests call: wire each in or delete it: {orphans}"


def test_kept_names_still_exist_and_still_lack_a_caller():
    """An exception that got a caller, or whose name is gone, is stale."""
    defined = {name for _, name in public_definitions()}
    used = referenced_names()
    assert set(KEPT) <= defined, sorted(set(KEPT) - defined)
    assert not set(KEPT) & used, sorted(set(KEPT) & used)
