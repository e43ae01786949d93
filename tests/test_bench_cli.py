"""bench.py CLI guards — session-free, so they run in milliseconds."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import bench


def test_select_groups_default_is_all():
    assert bench.select_groups(None) == bench.GROUPS
    assert bench.select_groups("") == bench.GROUPS


def test_select_groups_subset_preserves_order():
    names = [g for g, _ in bench.GROUPS]
    pick = {names[0], names[-1]}
    got = bench.select_groups(",".join(sorted(pick, reverse=True)))
    assert [g for g, _ in got] == [g for g in names if g in pick]


def test_select_groups_typo_exits_naming_the_bad_group():
    # a silently-empty run list would emit a plausible but empty bench
    # result — the knob must fail loudly, naming the unknown group
    with pytest.raises(SystemExit, match=r"unknown group\(s\) \['sematic'\]"):
        bench.select_groups("sematic")
    # whitespace-only is a typo too, not "all groups"
    with pytest.raises(SystemExit):
        bench.select_groups(" , ")


def test_load_avg_1m_is_float_or_none():
    v = bench.load_avg_1m()
    assert v is None or (isinstance(v, float) and v >= 0.0)


def test_bench_compare_consumes_r13_attribution_fields(tmp_path, capsys):
    # two synthetic records: the summary JSON must carry shuffle_calib_ratio
    # and both load_avg_1m dicts (the in-record noise-attribution contract)
    import json

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))
    import bench_compare

    old = {
        "value": 2.0, "queries": {"a": 1.0, "b": 1.0}, "host_calib_s": 0.25,
        "shuffle_calib_s": 0.8, "load_avg_1m": {"start": 1.0, "end": 2.0, "max": 2.0},
    }
    new = {
        "value": 2.2, "queries": {"a": 1.1, "b": 1.1}, "host_calib_s": 0.25,
        "shuffle_calib_s": 1.0, "load_avg_1m": {"start": 3.0, "end": 4.0, "max": 4.0},
    }
    po, pn = tmp_path / "o.json", tmp_path / "n.json"
    po.write_text(json.dumps(old))
    pn.write_text(json.dumps(new))
    argv = sys.argv
    try:
        sys.argv = ["bench_compare.py", str(po), str(pn)]
        bench_compare.main()
    finally:
        sys.argv = argv
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["shuffle_calib_ratio"] == 1.25
    assert out["load_avg_1m"]["new"]["max"] == 4.0
    # missing-field records (pre-r13) degrade to null, never crash
    pn.write_text(json.dumps({k: v for k, v in new.items() if "calib" not in k and k != "load_avg_1m"} | {"host_calib_s": 0.25}))
    try:
        sys.argv = ["bench_compare.py", str(po), str(pn)]
        bench_compare.main()
    finally:
        sys.argv = argv
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["shuffle_calib_ratio"] is None


def test_bench_names_and_keywords_resolve():
    """bench.py is frozen, so the package must keep what it uses: every
    ``tamer_spark`` name it imports or reads as ``<module>.<name>``
    resolves, and every call of one binds to its signature (positional
    count and keywords). A rename or a dropped keyword would otherwise
    show only when the bench runs."""
    import ast
    import importlib
    import inspect

    def resolve(module, name):
        mod = importlib.import_module(module)
        if not hasattr(mod, name):
            try:  # a submodule binds itself to its package on import
                importlib.import_module(f"{module}.{name}")
            except ImportError:
                pass
        assert hasattr(mod, name), f"bench.py imports {module}.{name}"
        return getattr(mod, name)

    bound = {}  # name in bench.py -> the package object it is bound to

    def bind(name, obj):
        assert bound.setdefault(name, obj) is obj, f"{name} is bound to two objects"

    tree = ast.parse(Path(bench.__file__).read_text())
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and (node.module or "").split(".")[0] == "tamer_spark":
            for a in node.names:
                bind(a.asname or a.name, resolve(node.module, a.name))
        elif isinstance(node, ast.Import):
            for a in node.names:
                if a.name.split(".")[0] == "tamer_spark":
                    bind(a.asname or a.name, importlib.import_module(a.name))
    modules = {n for n, obj in bound.items() if inspect.ismodule(obj)}
    assert "Q" in modules

    def target(func):
        if isinstance(func, ast.Name):
            return bound.get(func.id)
        if isinstance(func, ast.Attribute) and getattr(func.value, "id", None) in modules:
            return getattr(bound[func.value.id], func.attr)
        return None

    calls = 0
    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute) and getattr(node.value, "id", None) in modules:
            mod = bound[node.value.id]
            assert hasattr(mod, node.attr), f"bench.py:{node.lineno} reads {mod.__name__}.{node.attr}"
        if isinstance(node, ast.Call) and callable(fn := target(node.func)):
            if any(isinstance(a, ast.Starred) for a in node.args) or any(k.arg is None for k in node.keywords):
                continue
            try:
                inspect.signature(fn).bind(*node.args, **{k.arg: k.value for k in node.keywords})
            except TypeError as e:
                raise AssertionError(f"bench.py:{node.lineno} calls {fn.__name__}: {e}") from None
            calls += 1
    assert calls > 50, calls
