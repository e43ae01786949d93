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
``__init__.py`` only re-exports, so it does not count. Neither does a
name's mention of itself: a reference inside the name's own definition
(its body, its docstring, a recursive call), in its module's docstring or
in its module's ``__all__``. The scan matches names, not calls: it can
miss an unused name that shares a word with something else, never the
other way round.

No Spark session: the scan parses the sources with ``ast``.
"""

from __future__ import annotations

import ast
import re
import textwrap
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
CALLER_DIRS = ("tamer_spark", "examples", "perfbench", "scripts")
CALLER_FILES = ("bench.py", "__spark_entry__.py")

#: names kept without an outside caller, each with its reason
KEPT = {
    "rollup_sink": "the continuous-aggregate engine sink; the crash-point matrix runs it (ROADMAP item 5)",
    "ingest_quality_metrics": "rides the engine pin's observation into the per-epoch progress record (ROADMAP item 3)",
    "TransactionalKafkaSink": "the reference's exactly-once Kafka sink (COVERAGE row 6); no broker runs here, the crash-point matrix runs it on a fake",
    "encode_df": "the Kafka sink's Avro value encoder when spark-avro is absent (COVERAGE row 26)",
    "plan_shape": "the plan inspector every plan pin reads; ROADMAP item 1's profiler records it",
    "explain_str": "the plan inspector every text plan pin reads (ROADMAP item 9)",
    "pushed_filters": "the plan inspector every pushdown pin reads",
    "read_schema_columns": "the plan inspector every column-pruning pin reads",
}

_WORD = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
#: regions of a module whose mentions of its own names do not count
_DOC, _ALL = "<module docstring>", "<__all__>"


def _caller_sources(root: Path):
    for d in CALLER_DIRS:
        if (root / d).is_dir():
            yield from sorted((root / d).rglob("*.py"))
    for f in CALLER_FILES:
        if (root / f).is_file():
            yield root / f


def _words(node: ast.AST):
    if isinstance(node, ast.Name):
        yield node.id
    elif isinstance(node, ast.Attribute):
        yield node.attr
    elif isinstance(node, ast.alias):
        yield node.name.rsplit(".", 1)[-1]
    elif isinstance(node, ast.Constant) and isinstance(node.value, str):
        yield from _WORD.findall(node.value)


def _region(i: int, stmt: ast.stmt) -> str | None:
    """The module docstring, ``__all__``, the top-level definition the
    statement is, or None."""
    if i == 0 and isinstance(stmt, ast.Expr) and isinstance(stmt.value, ast.Constant) and isinstance(stmt.value.value, str):
        return _DOC
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return stmt.name
    targets = stmt.targets if isinstance(stmt, ast.Assign) else [getattr(stmt, "target", None)]
    if any(isinstance(t, ast.Name) and t.id == "__all__" for t in targets):
        return _ALL
    return None


def references(root: Path = ROOT) -> dict[str, set[tuple[str, str | None]]]:
    """Every referenced name, with the (file, region) of each reference."""
    refs: dict[str, set[tuple[str, str | None]]] = {}
    for path in _caller_sources(root):
        if path.name == "__init__.py":
            continue
        rel = str(path.relative_to(root))
        for i, stmt in enumerate(ast.parse(path.read_text(), str(path)).body):
            region = _region(i, stmt)
            for node in ast.walk(stmt):
                for word in _words(node):
                    refs.setdefault(word, set()).add((rel, region))
    return refs


def public_definitions(root: Path = ROOT) -> list[tuple[str, str]]:
    out = []
    for path in sorted((root / "tamer_spark").rglob("*.py")):
        if path.name == "queries.py":
            continue
        for node in ast.parse(path.read_text(), str(path)).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)) and not node.name.startswith("_"):
                out.append((str(path.relative_to(root)), node.name))
    return out


def has_caller(refs, path: str, name: str) -> bool:
    """A reference counts unless it is the name's own mention of itself."""
    return any(p != path or region not in (_DOC, _ALL, name) for p, region in refs.get(name, ()))


def orphans(root: Path = ROOT) -> list[str]:
    refs = references(root)
    return [f"{path}:{name}" for path, name in public_definitions(root) if name not in KEPT and not has_caller(refs, path, name)]


def test_every_public_name_has_an_outside_caller():
    found = orphans()
    assert not found, f"{len(found)} public names only tests call: wire each in or delete it: {found}"


def test_kept_names_still_exist_and_still_lack_a_caller():
    """An exception that got a caller, or whose name is gone, is stale."""
    defs = public_definitions()
    refs = references()
    assert set(KEPT) <= {name for _, name in defs}, sorted(set(KEPT) - {name for _, name in defs})
    called = sorted(name for path, name in defs if name in KEPT and has_caller(refs, path, name))
    assert not called, called


def test_scan_ignores_a_names_mentions_of_itself(tmp_path):
    """The rule on a synthetic package: a name mentioned only in its own
    definition, its module docstring or its module's ``__all__`` is
    reported; a name another module calls is not."""
    pkg = tmp_path / "tamer_spark"
    pkg.mkdir()
    (pkg / "__init__.py").write_text("from tamer_spark.mod import only_init\n")
    (pkg / "mod.py").write_text(textwrap.dedent('''\
        """Module docstring naming in_module_doc."""

        __all__ = ["in_all", "called", "only_init"]


        def in_module_doc():
            pass


        def in_all():
            pass


        def self_recursive(n):
            """self_recursive calls itself."""
            return self_recursive(n - 1) if n else 0


        def only_init():
            pass


        def called():
            pass


        def calls_sibling():
            return called_in_module()


        def called_in_module():
            pass


        class Own:
            """Own names itself."""

            def make(self):
                return Own()
        '''))
    (tmp_path / "examples").mkdir()
    (tmp_path / "examples" / "use.py").write_text("from tamer_spark.mod import called, calls_sibling\ncalled()\ncalls_sibling()\n")
    assert sorted(orphans(tmp_path)) == sorted(
        f"tamer_spark/mod.py:{n}" for n in ("in_module_doc", "in_all", "self_recursive", "only_init", "Own")
    )
