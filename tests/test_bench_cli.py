"""bench.py CLI guards — session-free, so they run in milliseconds."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

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


def _frozen_caller_binds(path: Path) -> tuple[dict, int]:
    """Resolve every ``tamer_spark`` name the file at ``path`` imports
    (module level or inside a function) or reads as ``<module>.<name>``,
    and bind every call of one to ``inspect.signature`` (positional count
    and keywords). Returns the bound names and the number of calls bound.
    Runs no session: the file is parsed, not imported."""
    import ast
    import importlib
    import inspect

    where = path.name

    def resolve(module, name):
        mod = importlib.import_module(module)
        if not hasattr(mod, name):
            try:  # a submodule binds itself to its package on import
                importlib.import_module(f"{module}.{name}")
            except ImportError:
                pass
        assert hasattr(mod, name), f"{where} imports {module}.{name}"
        return getattr(mod, name)

    bound = {}  # name in the file -> the package object it is bound to

    def bind(name, obj):
        assert bound.setdefault(name, obj) is obj, f"{where}: {name} is bound to two objects"

    tree = ast.parse(path.read_text())
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and (node.module or "").split(".")[0] == "tamer_spark":
            for a in node.names:
                bind(a.asname or a.name, resolve(node.module, a.name))
        elif isinstance(node, ast.Import):
            for a in node.names:
                if a.name.split(".")[0] == "tamer_spark":
                    bind(a.asname or a.name, importlib.import_module(a.name))
    modules = {n for n, obj in bound.items() if inspect.ismodule(obj)}

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
            assert hasattr(mod, node.attr), f"{where}:{node.lineno} reads {mod.__name__}.{node.attr}"
        if isinstance(node, ast.Call) and callable(fn := target(node.func)):
            if any(isinstance(a, ast.Starred) for a in node.args) or any(k.arg is None for k in node.keywords):
                continue
            try:
                inspect.signature(fn).bind(*node.args, **{k.arg: k.value for k in node.keywords})
            except TypeError as e:
                raise AssertionError(f"{where}:{node.lineno} calls {fn.__name__}: {e}") from None
            calls += 1
    return bound, calls


def test_bench_names_and_keywords_resolve():
    """bench.py is frozen, so the package must keep what it uses. A rename
    or a dropped keyword would otherwise show only when the bench runs."""
    bound, calls = _frozen_caller_binds(Path(bench.__file__))
    assert "Q" in bound
    assert calls > 50, calls


def test_frozen_callers_names_and_keywords_resolve():
    """The query entry point (``__spark_entry__.py``) and the benchmark
    harness (``perfbench/``) are frozen too. perfbench imports inside its
    functions, which the walk covers."""
    names = set()
    for path in [ROOT / "__spark_entry__.py", *sorted((ROOT / "perfbench").glob("*.py"))]:
        names |= set(_frozen_caller_binds(path)[0])
    assert {
        "REGISTRY",
        "all_queries",
        "all_oracles",
        "resolve_query",
        "canonical_rows",
        "dedup_exact_incremental",
        "JdbcTumblingSource",
        "ObjectCursorSource",
        "Pipeline",
    } <= names, names


def test_registry_names_and_order_are_pinned():
    """The correctness gate grades the first 50 registry entries by
    position, so a gate may be rebuilt but never renamed or moved."""
    from tamer_spark.queries import REGISTRY

    assert tuple(REGISTRY) == (
        "q1_pricing_summary",
        "agg_grouping_variants",
        "agg_orders_by_status",
        "q3_top_revenue",
        "q5_region_revenue",
        "join_semi_anti_customers",
        "join_broadcast_enrich",
        "join_range_price_band",
        "asof_joins_events_orders",
        "window_functions",
        "scalar_top_parts",
        "set_ops_custkeys",
        "scalar_date_interval_orders",
        "json_reingest_events",
        "ingest_tumbling_events",
        "streaming_window_aggs",
        "streaming_row_gates",
        "ingest_cursor_user_stats",
        "sessionize_events",
        "dedup_exact",
        "text_profile",
        "dedup_minhash_lsh",
        "dedup_incremental",
        "dedup_ngram_simhash",
        "similarity_knn",
        "ivf_cluster_assign",
        "ann_search",
        "multimodal_binary_stats",
        "dedup_phash_images",
        "agg_pivot_ordered_concat",
        "quality_filter_docs",
        "text_cleaning_docs",
        "dedup_embedding_cosine",
        "term_stats_docs",
        "lexical_retrieval_docs",
        "approx_distinct_users",
        "chunk_documents",
        "join_salted_events_customers",
        "null_and_subquery_semantics",
        "sql_q6_q10",
        "split_sample_docs",
        "mix_pack_sources",
        "pagerank_cust_supp",
        "event_analytics",
        "winnow_docs",
        "decontaminate_docs",
        "corpus_curation",
        "table_maintenance",
        "substring_run_pairs",
        "contamination_score_docs",
    )
