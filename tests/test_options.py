"""Every option in ``tamer_spark/`` is set by some call.

An option is a defaulted parameter of a public function or method (a
constructor's ``__init__`` included) or a defaulted public field of a
dataclass. An option that no call ever passes always takes its default:
it is a constant spelled as a knob, and every reader has to check whether
some caller turns it. The scan looks for a call that passes each option in
``tamer_spark/``, ``examples/``, ``perfbench/``, ``scripts/``, ``tests/``,
``bench.py`` and ``__spark_entry__.py``. A call matches a definition by
name (``f(...)``, ``obj.f(...)``, ``Cls(...)``) and passes an option if it
names it as a keyword or passes at least ``index + 1`` positional arguments.
A ``**spread`` passes the keys of the dicts its function spells (``{"k":
...}``, ``dict(k=...)``); a helper's own ``**kwargs`` passes the keywords
its callers give it beyond its named parameters; a ``*args``, or a spread
whose keys the scan cannot read, passes every option.

A forwarded option, ``f(x=x)`` or ``f(x)`` inside ``g(x=...)``, counts only
while the forwarding option (``g``'s ``x``) is itself set, so the scan runs
to a fixpoint. A parameter the body reassigns is no longer a forwarding.

``OPTIONS_KEPT`` names the only options kept without a call, each with its
reason: a deployment setting, or a setting of the reference connector
(cited by the reference ``file:line`` that COVERAGE.md gives).

Run ``python tests/test_options.py`` for the per-module table. No Spark
session: the scan parses the sources with ``ast``.
"""

from __future__ import annotations

import ast
import textwrap
from collections import Counter
from dataclasses import dataclass
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
CALLER_DIRS = ("tamer_spark", "examples", "perfbench", "scripts", "tests")
CALLER_FILES = ("bench.py", "__spark_entry__.py")

#: options kept without a call that sets them, each with its reason
OPTIONS_KEPT: dict[str, str] = {
    "sources/jdbc.py:JdbcTumblingSource.lag": "reference connector setting: the window's lag behind now (db/package.scala:37-41)",
    "sources/jdbc.py:JdbcTumblingSource.fetchsize": "reference connector setting: the JDBC fetch size (db/config.scala:27; COVERAGE row 9)",
    "sources/objectstore.py:OciObjectStorageSource.object_name": "reference connector setting: the objectName callback (ObjectStorageSetup.scala:69-93)",
    "sources/objectstore.py:OciObjectStorageSource.start_after": "reference connector setting: the startAfter callback (ObjectStorageSetup.scala:69-93)",
    "sources/objectstore.py:OciObjectStorageSource.state_fold": "reference connector setting: the state fold callback (ObjectStorageSetup.scala:69-93)",
    "sources/objectstore.py:S3Lister.endpoint_url": "deployment setting: the S3 or OCI S3-compatible endpoint",
    "sources/rest.py:http_get.timeout": "deployment setting: the network timeout of one request",
    "sources/rest.py:fetch_with_auth_retry.timeout": "deployment setting: the network timeout of each attempt",
    "sinks/kafka.py:TransactionalKafkaSink.marker_topic": "deployment setting: the topic of the epoch markers",
}

#: the number of options in ``tamer_spark/``; a change that adds or folds
#: one updates it
TOTAL_OPTIONS = 304


@dataclass(frozen=True)
class Option:
    path: str  # relative to the root
    owner: str  # ``f``, ``Cls.method`` or ``Cls`` (a dataclass field or ``__init__``)
    name: str
    index: int | None  # positional index, None for keyword-only
    callee: str  # the name a call uses

    @property
    def key(self) -> str:
        return f"{self.path.removeprefix('tamer_spark/')}:{self.owner}.{self.name}"


def _sources(root: Path):
    for d in CALLER_DIRS:
        if (root / d).is_dir():
            yield from sorted((root / d).rglob("*.py"))
    for f in CALLER_FILES:
        if (root / f).is_file():
            yield root / f


def _is_dataclass(cls: ast.ClassDef) -> bool:
    for d in cls.decorator_list:
        d = d.func if isinstance(d, ast.Call) else d
        if (isinstance(d, ast.Name) and d.id == "dataclass") or (isinstance(d, ast.Attribute) and d.attr == "dataclass"):
            return True
    return False


def _field_call(value):
    """The keywords of a ``field(...)`` default, else None."""
    if isinstance(value, ast.Call) and _callee(value) == "field":
        return {k.arg: k.value for k in value.keywords}
    return None


def _dataclass_fields(cls: ast.ClassDef):
    """(name, defaulted) for each ``__init__`` field, in order."""
    for stmt in cls.body:
        if not (isinstance(stmt, ast.AnnAssign) and isinstance(stmt.target, ast.Name)):
            continue
        if "ClassVar" in ast.unparse(stmt.annotation):
            continue
        kw = _field_call(stmt.value)
        if kw is not None:
            init = kw.get("init")
            if isinstance(init, ast.Constant) and init.value is False:
                continue
            yield stmt.target.id, "default" in kw or "default_factory" in kw
        else:
            yield stmt.target.id, stmt.value is not None


def _params(fn: ast.FunctionDef, skip_first: bool):
    """(name, positional index or None, defaulted) for each parameter."""
    a = fn.args
    positional = a.posonlyargs + a.args
    first_default = len(positional) - len(a.defaults)
    offset = 1 if skip_first else 0
    for i, p in enumerate(positional):
        if i >= offset:
            yield p.arg, i - offset, i >= first_default
    for p, d in zip(a.kwonlyargs, a.kw_defaults):
        yield p.arg, None, d is not None


def _parse(root: Path) -> dict[str, ast.Module]:
    """Every scanned file's tree, by its path relative to the root."""
    return {
        str(p.relative_to(root)): ast.parse(p.read_text(), str(p))
        for p in _sources(root)
    }


def definitions(trees: dict[str, ast.Module]) -> list[tuple[Option, ast.AST]]:
    """Every option in ``tamer_spark/``, with the def or class that has it."""
    out = []
    for rel, tree in trees.items():
        if not rel.startswith("tamer_spark/"):
            continue
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)) and not node.name.startswith("_"):
                for name, i, defaulted in _params(node, False):
                    if defaulted:
                        out.append((Option(rel, node.name, name, i, node.name), node))
            elif isinstance(node, ast.ClassDef) and not node.name.startswith("_"):
                if _is_dataclass(node):
                    for i, (name, defaulted) in enumerate(_dataclass_fields(node)):
                        if defaulted and not name.startswith("_"):
                            out.append((Option(rel, node.name, name, i, node.name), node))
                for fn in node.body:
                    if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                        continue
                    if fn.name != "__init__" and fn.name.startswith("_"):
                        continue
                    static = any(getattr(d, "id", None) == "staticmethod" for d in fn.decorator_list)
                    callee = node.name if fn.name == "__init__" else fn.name
                    for name, i, defaulted in _params(fn, not static):
                        if defaulted:
                            out.append((Option(rel, f"{node.name}.{fn.name}", name, i, callee), fn))
    return out


def _callee(call: ast.Call) -> str | None:
    f = call.func
    return f.id if isinstance(f, ast.Name) else f.attr if isinstance(f, ast.Attribute) else None


def _reassigned(fn: ast.AST) -> set[str]:
    return {n.id for n in ast.walk(fn) if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Store)}


def _dict_keys(node: ast.AST) -> set[str]:
    """The keys of every ``{"k": ...}`` and ``dict(k=...)`` under ``node``."""
    keys = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Dict):
            keys |= {k.value for k in n.keys if isinstance(k, ast.Constant) and isinstance(k.value, str)}
        elif isinstance(n, ast.Call) and _callee(n) == "dict":
            keys |= {k.arg for k in n.keywords if k.arg}
    return keys


#: a ``**spread`` whose keys the scan cannot read passes every option
ALL = "<all>"


class _Calls(ast.NodeVisitor):
    """Every call, as (callee, {keyword: forwarding option or None},
    [forwarding option or None per positional argument], spread), where
    ``spread`` is None, ``ALL`` or the (path, name) of the enclosing
    function whose ``**kwargs`` the call passes on."""

    def __init__(self, owners: dict[int, dict[str, Option]]):
        self.owners = owners  # id(def) -> {parameter: its Option}
        self.frames: list[tuple[ast.AST, dict[str, Option | None]]] = []
        self.path = ""
        self.calls = []
        self.kwarg_params: dict[tuple[str, str], set[str]] = {}  # a **kwargs def's named parameters

    def visit_FunctionDef(self, fn):
        a = fn.args
        names = {p.arg for p in a.posonlyargs + a.args + a.kwonlyargs}
        stored = _reassigned(fn)
        options = self.owners.get(id(fn), {})
        self.frames.append((fn, {n: (options.get(n) if n not in stored else None) for n in names}))
        if a.kwarg:
            self.kwarg_params[(self.path, fn.name)] = names
        self.generic_visit(fn)
        self.frames.pop()

    visit_AsyncFunctionDef = visit_FunctionDef

    def _forwarded(self, value) -> Option | None:
        if isinstance(value, ast.Name):
            for _, params in reversed(self.frames):
                if value.id in params:
                    return params[value.id]
        return None

    def _spread(self, value):
        if isinstance(value, ast.Dict):
            keys = _dict_keys(value)
            return keys if len(keys) == len(value.keys) else ALL
        if isinstance(value, ast.Name) and self.frames:
            fn, _ = self.frames[-1]
            if fn.args.kwarg and fn.args.kwarg.arg == value.id:
                return (self.path, fn.name)
            return _dict_keys(fn) or ALL
        return ALL

    def visit_Call(self, call):
        name = _callee(call)
        if name is not None:
            kws = {k.arg: self._forwarded(k.value) for k in call.keywords if k.arg}
            pos = [None if isinstance(a, ast.Starred) else self._forwarded(a) for a in call.args]
            spread = ALL if any(isinstance(a, ast.Starred) for a in call.args) else None
            for k in call.keywords:
                if k.arg is None:
                    got = self._spread(k.value)
                    if isinstance(got, set):
                        kws.update(dict.fromkeys(got - set(kws)))
                    elif spread is None:
                        spread = got
            self.calls.append((name, kws, pos, spread))
        self.generic_visit(call)


def _extra_keywords(calls, kwarg_params):
    """For each ``**kwargs`` def, the keywords its calls pass beyond its
    named parameters (``ALL`` when a call's spread cannot be read)."""
    extra: dict[tuple[str, str], set[str] | str] = {k: set() for k in kwarg_params}
    changed = True
    while changed:
        changed = False
        for name, kws, _, spread in calls:
            for key, named in kwarg_params.items():
                if key[1] != name or extra[key] == ALL:
                    continue
                got = extra.get(spread, set()) if isinstance(spread, tuple) else spread
                new = ALL if got == ALL else extra[key] | (set(kws) - named) | (got or set())
                if new != extra[key]:
                    extra[key], changed = new, True
    return extra


def unset_options(root: Path = ROOT) -> tuple[list[Option], list[Option]]:
    """(every option, the options no call sets), scanned to a fixpoint."""
    trees = _parse(root)
    defs = definitions(trees)
    options = [o for o, _ in defs]
    owners: dict[int, dict[str, Option]] = {}
    for o, node in defs:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            owners.setdefault(id(node), {})[o.name] = o
    by_callee: dict[str, list[Option]] = {}
    for o in options:
        by_callee.setdefault(o.callee, []).append(o)

    visitor = _Calls(owners)
    for rel, tree in trees.items():
        visitor.path = rel
        visitor.visit(tree)
    extra = _extra_keywords(visitor.calls, visitor.kwarg_params)
    # (option, the forwarding option or None) for every call that passes it
    setters: list[tuple[Option, Option | None]] = []
    for name, kws, pos, spread in visitor.calls:
        spread = extra.get(spread, ALL) if isinstance(spread, tuple) else spread
        for o in by_callee.get(name, ()):
            if o.name in kws:
                setters.append((o, kws[o.name]))
            elif o.index is not None and o.index < len(pos):
                setters.append((o, pos[o.index]))
            elif spread == ALL or (spread and o.name in spread):
                setters.append((o, None))

    is_set: set[Option] = set()
    changed = True
    while changed:
        changed = False
        for o, via in setters:
            if o not in is_set and (via is None or via in is_set):
                is_set.add(o)
                changed = True
    return options, [o for o in options if o not in is_set]


def table(options, unset) -> str:
    """Options, unset and kept options per module."""
    total, left = Counter(o.path for o in options), Counter(o.path for o in unset)
    kept = Counter(o.path for o in unset if o.key in OPTIONS_KEPT)
    rows = [f"{'module':<40} {'options':>7} {'unset':>5} {'kept':>4}"]
    for path in sorted(total):
        rows.append(f"{path.removeprefix('tamer_spark/'):<40} {total[path]:>7} {left[path]:>5} {kept[path]:>4}")
    rows.append(f"{'total':<40} {len(options):>7} {len(unset):>5} {sum(kept.values()):>4}")
    return "\n".join(rows)


def test_every_option_is_set_by_a_call():
    options, unset = unset_options()
    print(table(options, unset))
    found = [o.key for o in unset if o.key not in OPTIONS_KEPT]
    assert not found, (
        f"{len(found)} options no call sets: fold each into its default "
        f"(or keep it in OPTIONS_KEPT with its reason): {found}"
    )
    assert len(options) == TOTAL_OPTIONS, (
        f"tamer_spark/ has {len(options)} options, TOTAL_OPTIONS pins {TOTAL_OPTIONS}"
    )


def stale_kept(root: Path = ROOT, kept=OPTIONS_KEPT) -> list[str]:
    """``kept`` entries that a call now sets or that no longer exist."""
    options, unset = unset_options(root)
    keys, unset_keys = {o.key for o in options}, {o.key for o in unset}
    return sorted(k for k in kept if k not in keys or k not in unset_keys)


def test_kept_options_still_exist_and_still_lack_a_call():
    assert not stale_kept(), stale_kept()


# --- the scan rule, on synthetic packages ----------------------------------


def _package(root: Path, module: str, caller: str) -> Path:
    """A synthetic ``tamer_spark/mod.py`` and one example that runs
    ``caller``."""
    (root / "tamer_spark").mkdir(parents=True)
    (root / "tamer_spark" / "mod.py").write_text(textwrap.dedent(module))
    (root / "examples").mkdir()
    (root / "examples" / "use.py").write_text(textwrap.dedent(caller))
    return root


def _unset(root: Path) -> list[str]:
    return sorted(o.key for o in unset_options(root)[1])


def test_scan_counts_keyword_and_positional_calls(tmp_path):
    """A keyword sets its option; ``n`` positional arguments set every
    option below index ``n``; a method's index skips ``self``."""
    root = _package(tmp_path, """\
        def f(df, a=1, b=2, c=3, *, d=4):
            pass


        class Op:
            def run(self, x, y=1, z=2):
                pass
        """, """\
        from tamer_spark.mod import Op, f
        f(None, 1, 2)
        f(None, d=5)
        Op().run(0, 1)
        """)
    assert _unset(root) == ["mod.py:Op.run.z", "mod.py:f.c"]


def test_scan_sets_a_forwarded_option_only_while_its_forwarder_is_set(tmp_path):
    """``inner(x=x)`` and ``inner(df, x)`` inside ``outer(x=...)`` set
    ``inner``'s option only when some call sets ``outer``'s, through any
    depth of forwarding; a reassigned parameter forwards nothing."""
    module = """\
        def inner(df, x=1, y=2):
            pass


        def middle(df, x=1, y=2):
            return inner(df, x=x, y=y)


        def outer(df, x=1, y=2):
            return middle(df, x, y)


        def derived(df, y=2):
            y = y + 1
            return inner(df, y=y)
        """
    root = _package(tmp_path / "a", module, "from tamer_spark.mod import outer\nouter(None)\n")
    assert _unset(root) == [
        "mod.py:derived.y", "mod.py:inner.x", "mod.py:middle.x", "mod.py:middle.y", "mod.py:outer.x", "mod.py:outer.y"
    ]
    root = _package(tmp_path / "b", module, "from tamer_spark.mod import outer\nouter(None, x=3)\n")
    assert _unset(root) == ["mod.py:derived.y", "mod.py:middle.y", "mod.py:outer.y"]


def test_scan_reads_dataclass_fields_and_keyword_spreads(tmp_path):
    """A defaulted dataclass field is an option set by keyword or by
    position; an ``init=False`` field is not an option. A ``**kw`` spread
    passes the keys of the dicts the function spells, or what the calls of
    a forwarding ``**kw`` helper pass."""
    root = _package(tmp_path, """\
        from dataclasses import dataclass, field


        @dataclass
        class Src:
            url: str
            topic: str = "t"
            timeout: float = 1.0
            retries: int = 3
            receipt: list = field(init=False, default_factory=list)


        def score(df, lo=0, hi=1, mid=2):
            pass
        """, """\
        from tamer_spark.mod import Src, score
        Src("u", "t2")
        Src("u", **{"retries": 4})


        def _one(df, **kw):
            return score(df, **kw)


        _one(None, hi=2)
        """)
    assert _unset(root) == ["mod.py:Src.timeout", "mod.py:score.lo", "mod.py:score.mid"]


def test_stale_kept_entries_are_reported(tmp_path):
    """An ``OPTIONS_KEPT`` entry that a call sets, or whose option is gone,
    is reported; one still without a call is not."""
    root = _package(tmp_path, """\
        def connect(url, timeout=30, retries=3):
            pass
        """, "from tamer_spark.mod import connect\nconnect('u', retries=1)\n")
    kept = dict.fromkeys(["mod.py:connect.timeout", "mod.py:connect.retries", "mod.py:connect.gone"], "a reason")
    assert stale_kept(root, kept) == ["mod.py:connect.gone", "mod.py:connect.retries"]


if __name__ == "__main__":
    import sys

    opts, unset = unset_options()
    print(table(opts, unset))
    if "-v" in sys.argv:
        for o in unset:
            print(o.key, "(kept)" if o.key in OPTIONS_KEPT else "")
