"""Every public top-level name in ``tamer_spark/`` has a caller outside
``tests/``.

A public name that only tests call is surface nobody runs: it costs upkeep
and review and shows up in the API as if it were a feature. The scan reads
every top-level ``def``/``class`` whose name does not start with ``_`` in
``tamer_spark/``, queries.py included: a builder registered with ``@q(...)``
is called through the REGISTRY, any other builder needs a caller like any
other name. It looks for the name in ``tamer_spark/``, ``examples/``,
``perfbench/``, ``scripts/``, ``bench.py`` and ``__spark_entry__.py``. A
reference is an identifier, an imported name, or a word of a string
literal (the registry names functions in its doc strings). A docstring is
not a reference: naming a function in prose runs nothing. Nor is an
import that the module never reads: importing a name runs nothing. An
``__init__.py`` only re-exports, so it does not count. Neither does a
name's mention of itself: a reference inside the name's own definition
(its body, a recursive call) or in its module's ``__all__``. The scan
matches names, not calls: it can miss an unused name that shares a word
with something else, never the other way round.

``queries.STANDALONE`` is a reference too, so it must hold only the names
that a non-test caller resolves through ``queries.resolve_query``; the last
test pins that.

No Spark session: the scan parses the sources with ``ast``.
"""

from __future__ import annotations

import ast
import importlib.util
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
    "S3Lister": "the deployment lister examples/README.md swaps in for LocalFSLister; it needs an S3 endpoint, so tests run it on a fake client",
    "oci_s3_compat_endpoint": "the OCI endpoint for S3Lister that examples/README.md's swap names; it needs an OCI tenancy",
    "compare": "the oracle comparator tests/test_oracle_gate.py grades all 50 registry gates with",
}

_WORD = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
#: the region of a module whose mentions of its own names do not count
_ALL = "<__all__>"


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


def _docstrings(tree: ast.Module) -> set[int]:
    """The ids of every module, class and function docstring node."""
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)) and node.body:
            first = node.body[0]
            if isinstance(first, ast.Expr) and isinstance(first.value, ast.Constant) and isinstance(first.value.value, str):
                out.add(id(first.value))
    return out


def _region(stmt: ast.stmt) -> str | None:
    """``__all__``, the top-level definition the statement is, or None."""
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return stmt.name
    targets = stmt.targets if isinstance(stmt, ast.Assign) else [getattr(stmt, "target", None)]
    if any(isinstance(t, ast.Name) and t.id == "__all__" for t in targets):
        return _ALL
    return None


def _read_names(tree: ast.Module) -> set[str]:
    """Every name the module reads: a loaded identifier or an attribute's
    base."""
    return {n.id for n in ast.walk(tree) if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load)}


def references(root: Path = ROOT) -> dict[str, set[tuple[str, str | None]]]:
    """Every referenced name, with the (file, region) of each reference."""
    refs: dict[str, set[tuple[str, str | None]]] = {}
    for path in _caller_sources(root):
        if path.name == "__init__.py":
            continue
        rel = str(path.relative_to(root))
        tree = ast.parse(path.read_text(), str(path))
        docs = _docstrings(tree)
        read = _read_names(tree)
        for stmt in tree.body:
            region = _region(stmt)
            for node in ast.walk(stmt):
                if id(node) in docs:
                    continue
                if isinstance(node, ast.alias) and (node.asname or node.name).split(".")[0] not in read:
                    continue  # an import the module never reads
                for word in _words(node):
                    refs.setdefault(word, set()).add((rel, region))
    return refs


def _registered(node: ast.AST) -> bool:
    """A ``queries.py`` builder under ``@q(...)``: the REGISTRY calls it."""
    return any(
        isinstance(d, ast.Call) and isinstance(d.func, ast.Name) and d.func.id == "q"
        for d in getattr(node, "decorator_list", ())
    )


def public_definitions(root: Path = ROOT) -> list[tuple[str, str]]:
    out = []
    for path in sorted((root / "tamer_spark").rglob("*.py")):
        for node in ast.parse(path.read_text(), str(path)).body:
            if (
                isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
                and not node.name.startswith("_")
                and not _registered(node)
            ):
                out.append((str(path.relative_to(root)), node.name))
    return out


def has_caller(refs, path: str, name: str) -> bool:
    """A reference counts unless it is the name's own mention of itself."""
    return any(p != path or region not in (_ALL, name) for p, region in refs.get(name, ()))


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


def _package(root: Path, modules: dict[str, str], caller: str) -> Path:
    """A synthetic ``tamer_spark/`` with ``modules`` and one example that
    runs ``caller``."""
    pkg = root / "tamer_spark"
    pkg.mkdir()
    for name, src in modules.items():
        (pkg / name).write_text(textwrap.dedent(src))
    (root / "examples").mkdir()
    (root / "examples" / "use.py").write_text(caller)
    return root


def test_scan_ignores_a_names_mentions_of_itself(tmp_path):
    """The rule on a synthetic package: a name mentioned only in its own
    definition, its module docstring or its module's ``__all__`` is
    reported; a name another module calls is not."""
    root = _package(tmp_path, {
        "__init__.py": "from tamer_spark.mod import only_init\n",
        "mod.py": '''\
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
            ''',
    }, "from tamer_spark.mod import called, calls_sibling\ncalled()\ncalls_sibling()\n")
    assert sorted(orphans(root)) == sorted(
        f"tamer_spark/mod.py:{n}" for n in ("in_module_doc", "in_all", "self_recursive", "only_init", "Own")
    )


def test_scan_ignores_docstrings_of_other_modules(tmp_path):
    """A name that another module's module, class or function docstring
    names is reported; one that a string literal outside a docstring names
    is not."""
    root = _package(tmp_path, {
        "mod.py": '''\
            def in_module_doc():
                pass


            def in_class_doc():
                pass


            def in_function_doc():
                pass


            def in_literal():
                pass
            ''',
        "other.py": '''\
            """Pair with in_module_doc."""

            NAMES = ["in_literal"]


            class Host:
                """See in_class_doc."""


            def host():
                """Like in_function_doc."""
            ''',
    }, "from tamer_spark.other import NAMES, Host, host\nHost(); host(); print(NAMES)\n")
    assert sorted(orphans(root)) == [
        f"tamer_spark/mod.py:{n}" for n in ("in_class_doc", "in_function_doc", "in_module_doc")
    ]


def test_scan_ignores_imports_that_are_never_read(tmp_path):
    """A name another module imports but never reads is reported; one it
    imports and calls, or imports under another name and calls, is not."""
    root = _package(tmp_path, {
        "mod.py": '''\
            def imported_only():
                pass


            def imported_and_called():
                pass


            def imported_as():
                pass
            ''',
        "other.py": '''\
            from tamer_spark.mod import imported_and_called, imported_only
            from tamer_spark.mod import imported_as as alias


            def host():
                return imported_and_called(), alias()
            ''',
    }, "from tamer_spark.other import host\nhost()\n")
    assert orphans(root) == ["tamer_spark/mod.py:imported_only"]


def test_scan_reads_unregistered_queries_builders(tmp_path):
    """In queries.py, a builder under ``@q(...)`` has its caller (the
    REGISTRY); an unregistered builder with no caller is reported; one that
    ``STANDALONE`` maps is not."""
    root = _package(tmp_path, {
        "queries.py": '''\
            REGISTRY = {}


            def q(name, oracle, doc=""):
                def deco(fn):
                    REGISTRY[name] = fn
                    return fn

                return deco


            @q("registered", None)
            def registered(spark, sf):
                pass


            def standalone_q(spark, sf):
                pass


            def orphan_q(spark, sf):
                pass


            STANDALONE = {"standalone": standalone_q}


            def resolve_query(name):
                return STANDALONE.get(name) or REGISTRY[name]
            ''',
    }, "from tamer_spark.queries import resolve_query\nresolve_query('standalone')\n")
    assert orphans(root) == ["tamer_spark/queries.py:orphan_q"]


def _load(path: Path, monkeypatch):
    """Import a script by path, with its own directory importable."""
    monkeypatch.syspath_prepend(str(path.parent))
    spec = importlib.util.spec_from_file_location(f"_public_names_{path.stem}", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def resolved_names(monkeypatch) -> set[str]:
    """Every name a non-test caller resolves through ``resolve_query``.

    bench.py, perfbench/batch.py, scripts/scale_probe.py and
    scripts/ab_entry.py each take ``bench.HEADLINE.get(name)`` first and
    resolve the name only when that holds no builder. Their names are the
    HEADLINE entries, the batch workloads' queries and the probe's OPS."""
    monkeypatch.syspath_prepend(str(ROOT))
    import bench

    batch = _load(ROOT / "perfbench" / "batch.py", monkeypatch)
    probe = _load(ROOT / "scripts" / "scale_probe.py", monkeypatch)
    names = set(bench.HEADLINE) | set(probe.OPS)
    for workload in vars(batch).values():
        if isinstance(workload, type) and issubclass(workload, batch.BatchWorkload):
            names |= set(workload.queries)
    return {n for n in names if not bench.HEADLINE.get(n)}


def test_standalone_holds_exactly_the_resolved_names(monkeypatch):
    """Every resolved name has a builder, and STANDALONE holds no key that
    no caller resolves: an unresolved key would keep its builder alive
    for the scan above while nothing runs it."""
    from tamer_spark.queries import REGISTRY, STANDALONE

    names = resolved_names(monkeypatch)
    missing = sorted(names - set(STANDALONE) - set(REGISTRY))
    assert not missing, f"resolved names without a builder: {missing}"
    extra = sorted(set(STANDALONE) - names)
    assert not extra, f"{len(extra)} STANDALONE keys no caller resolves: {extra}"
