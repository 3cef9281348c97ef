"""Checks on the code base and the measurement tools rather than on query
answers: duplicate definitions, package-relative imports, unused package
functions and parameters, bench.py's basket totals and tools/ab.py's
renamed-package loader."""

from __future__ import annotations

import ast
import collections
import json
import os
import pathlib
import shutil
import subprocess
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "api_log_iceberg_test_spark"


def _modules():
    for path in sorted(PACKAGE.rglob("*.py")):
        yield path.relative_to(ROOT), ast.parse(path.read_text())


def test_no_module_defines_a_top_level_name_twice():
    """A second ``def``/``class``/assignment of the same module-level name
    silently replaces the first, which is then dead code."""
    dups = []
    for rel, tree in _modules():
        names = collections.Counter()
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                names[node.name] += 1
            elif isinstance(node, (ast.Assign, ast.AnnAssign)):
                targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                names.update(t.id for t in targets if isinstance(t, ast.Name))
        dups += [f"{rel}: {n}" for n, c in names.items() if c > 1]
    assert not dups, dups


def _absolute_imports(node) -> list[str]:
    if isinstance(node, ast.ImportFrom) and node.level == 0:
        return [node.module or ""]
    if isinstance(node, ast.Import):
        return [alias.name for alias in node.names]
    return []


def test_package_imports_itself_only_relatively():
    """tools/ab.py loads another revision's package under a new name; an
    absolute self-import there would reach the working tree instead."""
    absolute = [
        f"{rel}:{node.lineno}"
        for rel, tree in _modules()
        for node in ast.walk(tree)
        if any(m.split(".")[0] == PACKAGE.name for m in _absolute_imports(node))
    ]
    assert not absolute, absolute


def _infers_parquet_schema(node) -> bool:
    """Whether ``node`` is a ``<x>.read[.<option>(…)…].parquet(…)`` call
    with no ``.schema(…)`` in the reader chain: Spark then starts a
    schema-inference job to open the table."""
    if not (isinstance(node, ast.Call) and getattr(node.func, "attr", None) == "parquet"):
        return False
    chain, part = [], node.func.value
    while isinstance(part, (ast.Call, ast.Attribute)):
        if isinstance(part, ast.Call):
            part = part.func
        elif part.attr == "read":
            return "schema" not in chain
        else:
            chain.append(part.attr)
            part = part.value
    return False


def test_only_schema_module_reads_parquet_without_a_schema():
    """Package code opens parquet tables through schema.read_parquet or
    load_table, which take the schema from the file footer or a cache; a
    bare ``.read.parquet(`` elsewhere starts one schema-inference job per
    open."""
    inferring = [
        f"{rel}:{node.lineno}"
        for rel, tree in _modules()
        if rel != (PACKAGE / "schema.py").relative_to(ROOT)
        for node in ast.walk(tree)
        if _infers_parquet_schema(node)
    ]
    assert not inferring, inferring


#: Module-level mutable caches kept on purpose: range_boundaries' cut
#: points only steer task balance, never output, so a stale entry can't
#: change an answer; sessions are held weakly.
_MODULE_CACHE_ALLOWLIST = {"api_log_iceberg_test_spark/operators/layout.py: _BOUNDS_MEMO_BY_SESSION"}


def _is_empty_mapping(node) -> bool:
    """Whether ``node`` is ``{}`` or a no-argument ``dict()``,
    ``OrderedDict()`` or ``WeakKeyDictionary()`` call."""
    if isinstance(node, ast.Dict):
        return not node.keys
    if isinstance(node, ast.Call) and not node.args and not node.keywords:
        f = node.func
        name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
        return name in {"dict", "OrderedDict", "WeakKeyDictionary"}
    return False


def test_no_module_level_mutable_cache():
    """An empty mapping bound to a module-level name is process-global
    state that outlives the data it describes: a path → metadata cache
    serves a stale answer once the file changes. Metadata comes from the
    file footer or the Spark checkpoint instead."""
    caches = []
    for rel, tree in _modules():
        for node in tree.body:
            if isinstance(node, (ast.Assign, ast.AnnAssign)) and _is_empty_mapping(node.value):
                targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                caches += [f"{rel}: {t.id}" for t in targets if isinstance(t, ast.Name)]
    caches = [c for c in caches if c not in _MODULE_CACHE_ALLOWLIST]
    assert not caches, caches


def _name_uses(tree):
    """Names a module uses: names, attribute reads and imported names.
    A top-level function's uses of its own name (recursion) do not count."""
    for top in tree.body:
        own = top.name if isinstance(top, (ast.FunctionDef, ast.AsyncFunctionDef)) else None
        for node in ast.walk(top):
            if isinstance(node, ast.Name):
                name = node.id
            elif isinstance(node, ast.Attribute):
                name = node.attr
            elif isinstance(node, ast.alias):
                name = node.name.rsplit(".", 1)[-1]
            else:
                continue
            if name != own:
                yield name


#: Every source that may call a package function.
_CALLER_SOURCES = [
    *PACKAGE.rglob("*.py"),
    *(ROOT / "tests").rglob("*.py"),
    *(ROOT / "tools").rglob("*.py"),
    *(ROOT / "perfbench").rglob("*.py"),
    ROOT / "bench.py",
    ROOT / "__spark_entry__.py",
]


def _public_functions():
    for path in sorted(PACKAGE.rglob("*.py")):
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                if not node.name.startswith("_"):
                    yield path.relative_to(ROOT), node


def test_every_public_package_function_is_used():
    """A public top-level function of the package that no caller source
    names is dead code: it drifts from the code that runs while looking
    maintained."""
    used = set()
    for path in _CALLER_SOURCES:
        used.update(_name_uses(ast.parse(path.read_text())))
    unused = [
        f"{rel}: {node.name}"
        for rel, node in _public_functions()
        if node.name not in used
    ]
    assert not unused, unused


#: Defaulted parameters no caller passes, kept on purpose: build_session's
#: Iceberg catalog settings are deployment configuration, set by whoever
#: runs the engine against a real warehouse rather than by code in this
#: repository.
_UNPASSED_PARAMETER_ALLOWLIST = {
    "build_session(iceberg_catalog)",
    "build_session(iceberg_warehouse)",
    "build_session(iceberg_rest_uri)",
}


def _passed_arguments():
    """Function name → what its calls pass: keyword names, positional
    indexes, and ``*``/``**`` for splatted arguments (which may pass any)."""
    passed = collections.defaultdict(set)
    for path in _CALLER_SOURCES:
        for node in ast.walk(ast.parse(path.read_text())):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            if name is None:
                continue
            for i, arg in enumerate(node.args):
                passed[name].add("*" if isinstance(arg, ast.Starred) else i)
            passed[name].update(k.arg or "**" for k in node.keywords)
    return passed


def test_every_defaulted_parameter_has_a_caller():
    """A defaulted parameter of a public package function that no caller
    passes, by keyword or by position, is an option nobody uses: its
    default is the only value that ever runs, and any branch for another
    value is untested code. Write the value inline instead."""
    passed = _passed_arguments()
    unpassed = []
    for rel, node in _public_functions():
        a = node.args
        positional = a.posonlyargs + a.args
        first = len(positional) - len(a.defaults)
        params = [(arg.arg, first + i) for i, arg in enumerate(positional[first:])]
        params += [
            (arg.arg, None)
            for arg, d in zip(a.kwonlyargs, a.kw_defaults)
            if d is not None
        ]
        for name, index in params:
            ways = {name, "**"} | ({index, "*"} if index is not None else set())
            label = f"{node.name}({name})"
            if not ways & passed[node.name] and label not in _UNPASSED_PARAMETER_ALLOWLIST:
                unpassed.append(f"{rel}: {label}")
    assert not unpassed, f"{len(unpassed)} unpassed: {unpassed}"


def test_bench_basket_totals_reproduce_committed_run():
    """Every basket total in the committed BENCH_LOCAL.json is a pure
    function of its per-query steady medians and cold times."""
    import bench

    with open(ROOT / "BENCH_LOCAL.json") as f:
        run = json.load(f)
    totals = bench.basket_totals(run["queries"], run["queries_cold"])
    assert set(totals) == {k for k in run if k.startswith("total_")} | {
        "headline_total_sec",
        "headline_total_cold_sec",
    }
    assert {k: run[k] for k in totals} == totals
    assert run["value"] == totals["headline_total_sec"]
    assert list(run["queries"]) == bench.TIMED


_AB_PROBE = """
import sys
sys.path.insert(0, {root!r})
from tools import ab
ab.add_path({copy_dir!r})
from api_log_iceberg_test_spark.session import build_session
spark = build_session(app_name="ab-smoke", master="local[2]", shuffle_partitions=4)
old, new = ab.load_catalog("ab_copy"), ab.load_catalog(ab.PACKAGE)
assert old["q_count"].__module__.startswith("ab_copy."), old["q_count"].__module__
sf = {sf_dir!r}
assert old["q_count"](spark, sf).collect() == new["q_count"](spark, sf).collect()
def pairs(fn):
    rows = fn(spark, sf).collect()
    return len(rows), {{(r["query_id"], r["neighbor_id"]) for r in rows}}
o, n = pairs(old["q_ann_cosine_topk_np"]), pairs(new["q_ann_cosine_topk_np"])
assert o[0] > 0 and o == n, (o[0], n[0])
# its pandas UDF is pickled by reference: the Python workers import ab_copy
assert sorted(old["q_udf_sigmoid"](spark, sf).collect()) == sorted(
    new["q_udf_sigmoid"](spark, sf).collect()
)
print("AB_OK")
"""


def test_ab_loader_runs_a_renamed_package_copy(tmp_path):
    """tools/ab.py's loader on a renamed copy of the package: both arms
    answer alike on q_count, the mapInPandas query q_ann_cosine_topk_np
    (its closure ships by value) and q_udf_sigmoid, whose module-level
    pandas UDF ships by reference, so it runs only if the Python workers
    can import the copy."""
    copy_dir = tmp_path / "pkgs"
    shutil.copytree(
        PACKAGE, copy_dir / "ab_copy", ignore=shutil.ignore_patterns("__pycache__")
    )
    script = _AB_PROBE.format(
        root=str(ROOT), copy_dir=str(copy_dir), sf_dir="/root/testdata/sf0.001"
    )
    env = dict(os.environ, SPARK_DRIVER_MEMORY="1g")
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0 and "AB_OK" in out.stdout, out.stderr[-3000:]
