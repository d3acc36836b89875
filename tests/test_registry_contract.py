"""Registry-wide output-contract meta-test.

The driver's correctness gate canonicalizes each result frame by
`sort_values` on the RAW pandas columns before stringify-and-hash.
pandas cannot factorize array/map/struct cells, so any ORACLED query
whose output schema contains a complex type crashes the driver
(round-11 `hashed_bow_docs`: `TypeError: unhashable type: 'list'`)
even when the values are correct. This test turns that driver crash
class into a unit failure: every query with an `oracle_sql()` entry
must emit only atomic-typed columns. Rows-only queries (no oracle
entry) are exempt — the driver only row-counts them.

Building the DataFrame resolves the full analyzed schema without
executing a job, so the sweep over the whole registry stays cheap.
"""

from __future__ import annotations

import pytest
from pyspark.sql.types import ArrayType, MapType, StructType

import __spark_entry__ as entry

SF_DIR = "/root/testdata/sf0.001"


def _complex_fields(schema: StructType) -> list[str]:
    return [f.name for f in schema.fields
            if isinstance(f.dataType, (ArrayType, MapType, StructType))]


def test_oracled_queries_emit_only_atomic_columns(spark):
    qs = entry.queries()
    oracles = entry.oracle_sql()
    offenders: dict[str, list[str]] = {}
    broken: dict[str, str] = {}
    for name, fn in qs.items():
        if name not in oracles:
            continue
        try:
            df = fn(spark, SF_DIR)
        except Exception as e:  # surface build breaks too
            broken[name] = repr(e)
            continue
        bad = _complex_fields(df.schema)
        if bad:
            offenders[name] = bad
    assert not broken, f"oracled queries failed to build: {broken}"
    assert not offenders, (
        "oracled queries emit complex-typed columns the driver's "
        f"canonicalizer cannot sort: {offenders} — project to scalar "
        "columns (the minhash_signatures c0..cN pattern) or "
        "concat_ws, and mirror in the oracle SQL")


def test_norm_frame_mirrors_driver_crash_on_array_cells():
    """The local gate must reproduce the DRIVER's canonicalizer
    behavior: sort the RAW columns before stringifying, so a frame
    with array cells raises (pandas can't factorize lists) exactly
    as the driver did on round-11 `hashed_bow_docs`. If this test
    starts passing silently, the local gate has drifted back to
    stringify-first and will mask the crash class."""
    import sys

    import pandas as pd
    import pytest

    sys.path.insert(0, "/root/repo/tools")
    from check_oracle import norm_frame, value_hash

    bad = pd.DataFrame({"id": [2, 1], "v": [[1.0, 2.0], [3.0]]})
    with pytest.raises(TypeError):
        norm_frame(bad)

    # and the sane path still canonicalizes order-insensitively
    a = pd.DataFrame({"id": [2, 1], "v": [0.1234567, 7.0]})
    b = pd.DataFrame({"v": [7.0, 0.1234572], "id": [1, 2]})
    assert value_hash(a) == value_hash(b)


def test_slow_manifest_names_only_collected_tests():
    """Every node id in tests/slow_tests.txt must name a collected
    test. conftest marks the ids it finds and silently ignores the
    rest, so a deleted or renamed test would otherwise leave a dead
    entry (and a renamed heavy test would quietly join the default
    gate)."""
    import os
    import subprocess
    import sys

    here = os.path.dirname(os.path.abspath(__file__))
    out = subprocess.run(
        [sys.executable, "-m", "pytest", "tests", "--collect-only", "-q",
         "-m", "", "-p", "no:cacheprovider"],
        cwd=os.path.dirname(here), capture_output=True, text=True).stdout
    collected = {ln.strip() for ln in out.splitlines() if "::" in ln}
    with open(os.path.join(here, "slow_tests.txt")) as fh:
        listed = {ln.strip() for ln in fh
                  if ln.strip() and not ln.startswith("#")}
    assert collected, out
    assert not listed - collected, sorted(listed - collected)


# Parameters the option scan below never reports: column bindings (the
# operators' schema contract, set by name on sibling operators) and
# deployment settings.
_COLUMN_SUFFIXES = ("_col", "_cols", "_alias", "_expr")
_COLUMN_NAMES = {"key", "keys", "left_ts", "right_ts"}
_DEPLOYMENT = {"sf_dir", "path", "out_dir", "timeout", "backend", "app_name"}
# Where callers live: the engine itself, its tools, both benchmarks
# and the tests.
_CALLER_ROOTS = ("parlerproject_spark", "tools", "bench.py", "perfbench",
                 "tests")


def test_every_option_is_passed_by_a_caller():
    """An option no caller sets has exactly one value in use, so it is
    a constant, not an option. Scan every defaulted parameter of every
    function in `parlerproject_spark/` (outside queries.py, whose
    helpers generate the oracle SQL) whose name is unique in the
    package, and fail if no call naming the function passes it by
    keyword or position (positions after `self` for methods; a call
    with `*` or `**` passes everything). Pure AST, no Spark."""
    import ast
    from collections import defaultdict
    from pathlib import Path

    root = Path(__file__).resolve().parents[1]
    pkg = root / "parlerproject_spark"

    def py_files(p):
        return sorted(p.rglob("*.py")) if p.is_dir() else [p]

    defs, calls = defaultdict(list), defaultdict(list)
    for src in _CALLER_ROOTS:
        for f in py_files(root / src):
            in_pkg = src == "parlerproject_spark"
            for node in ast.walk(ast.parse(f.read_text())):
                if isinstance(node, ast.Call):
                    fn = node.func
                    name = (fn.id if isinstance(fn, ast.Name) else
                            fn.attr if isinstance(fn, ast.Attribute) else None)
                    calls[name].append(node)
                elif in_pkg and isinstance(node, (ast.FunctionDef,
                                                  ast.AsyncFunctionDef)):
                    defs[node.name].append((f, node))

    def passes(call, pname, pos):
        if (any(isinstance(a, ast.Starred) for a in call.args)
                or any(k.arg is None for k in call.keywords)):
            return True
        return (any(k.arg == pname for k in call.keywords)
                or (pos is not None and 0 <= pos < len(call.args)))

    unset = []
    for name, found in defs.items():
        f, node = found[0]
        if len(found) != 1 or f == pkg / "queries.py":
            continue
        a = node.args
        positional = a.posonlyargs + a.args
        skip = 1 if positional and positional[0].arg in ("self", "cls") else 0
        first = len(positional) - len(a.defaults)
        params = [(p.arg, i - skip) for i, p in enumerate(positional)
                  if i >= first]
        params += [(p.arg, None) for p, d in zip(a.kwonlyargs, a.kw_defaults)
                   if d is not None]
        for pname, pos in params:
            if (pname.endswith(_COLUMN_SUFFIXES) or pname in _COLUMN_NAMES
                    or pname in _DEPLOYMENT):
                continue
            if not any(passes(c, pname, pos) for c in calls[name]):
                module = ".".join(f.relative_to(root).with_suffix("").parts)
                unset.append(f"{module}.{name}({pname})")
    assert not unset, (
        "options no caller sets — make each a constant at its use: "
        + ", ".join(sorted(unset)))


# Loops that still checkpoint inline, with why they are not fixpoints:
# both tokenizer trainers are budgeted greedy searches whose stop comes
# from each round's own collect, not from a probe of the new state.
_INLINE_CHECKPOINT_LOOPS = {
    ("parlerproject_spark/operators/tokenizer.py", "train_bpe"),
    ("parlerproject_spark/operators/tokenizer.py", "train_wordpiece"),
}


def test_iterative_operators_checkpoint_through_fixpoint():
    """Every per-round checkpoint of an iterative operator goes through
    `caching.fixpoint`, the one place that owns the round's lineage
    cut, job tag and non-convergence policy: no `for`/`while` body
    under `parlerproject_spark/operators/` may call `localCheckpoint`
    outside the listed trainers. Pure AST, no Spark."""
    import ast
    from pathlib import Path

    root = Path(__file__).resolve().parents[1]
    pkg = root / "parlerproject_spark"
    sites = set()
    for f in [pkg / "caching.py", *sorted((pkg / "operators").rglob("*.py"))]:
        rel = f.relative_to(root).as_posix()
        for fn in ast.walk(ast.parse(f.read_text())):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            for loop in ast.walk(fn):
                if not isinstance(loop, (ast.For, ast.While)):
                    continue
                if any(isinstance(n, ast.Call)
                       and isinstance(n.func, ast.Attribute)
                       and n.func.attr == "localCheckpoint"
                       for stmt in loop.body + loop.orelse
                       for n in ast.walk(stmt)):
                    sites.add((rel, fn.name))
    assert sites == _INLINE_CHECKPOINT_LOOPS | {
        ("parlerproject_spark/caching.py", "fixpoint")}, sorted(sites)


# Un-keyed `Window.partitionBy()` windows, each with the bound on the
# rows it gathers into one partition.
_GLOBAL_PARTITION_WINDOWS = {
    ("parlerproject_spark/operators/relational.py", "share_of_total"):
        "one row per group of the grouped counts",
}


# Un-keyed `Window.orderBy(...)` windows (no partitionBy at all), each
# with the bound on the rows it sorts in one partition, one entry per
# site in source order.
_UNKEYED_ORDER_WINDOWS = {
    ("parlerproject_spark/operators/analytics.py", "kaplan_meier"): (
        "one row per distinct duration in days (at-risk sum)",
        "one row per distinct duration in days (survival product)"),
    ("parlerproject_spark/operators/evaluation.py", "gains_curve"): (
        "at most n_bands band rows",),
    ("parlerproject_spark/operators/evaluation.py",
     "krippendorff_alpha_metric"): (
        "one row per distinct label value",),
    ("parlerproject_spark/operators/profiling.py", "key_skew_report"): (
        "at most `top` rows after the top-k cut",),
    ("parlerproject_spark/operators/sampling.py",
     "negative_sampling_draws"): (
        "one row per vocabulary token kept by min_count",),
    ("parlerproject_spark/operators/sampling.py", "unimax_allocation"): (
        "one row per source",),
    ("parlerproject_spark/operators/stats.py", "_top_k"): (
        "at most k rows after the limit",),
    ("parlerproject_spark/operators/text_analysis.py", "vocab_coverage"): (
        "at most top_k rows after the top-k cut",),
    ("parlerproject_spark/operators/timeseries.py", "seasonal_decompose"): (
        "one row per (day, weekday) of the series",),
    ("parlerproject_spark/queries.py", "corpus_shuffle_order"): (
        "50 rows after the limit",),
    ("parlerproject_spark/queries.py", "ntile_value_quartiles"): (
        "4000 rows after the limit",),
    ("parlerproject_spark/queries.py", "rag_context_budget"): (
        "k=8 rows of the dense top-k",
        "k=8 rows of the dense top-k"),
    ("parlerproject_spark/queries.py", "rag_pipeline_docs"): (
        "k=50 rows of the dense top-k",),
    ("parlerproject_spark/queries.py", "rrf_hybrid_docs"): (
        "k=50 rows of the dense top-k",),
}


def _window_calls(attr):
    """(file, function, call node) of every `Window.<attr>(...)` call
    under `parlerproject_spark/`, once per call."""
    import ast
    from pathlib import Path

    root = Path(__file__).resolve().parents[1]
    for f in sorted((root / "parlerproject_spark").rglob("*.py")):
        rel = f.relative_to(root).as_posix()
        for fn in ast.walk(ast.parse(f.read_text())):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            for n in ast.walk(fn):
                if (isinstance(n, ast.Call)
                        and isinstance(n.func, ast.Attribute)
                        and n.func.attr == attr
                        and isinstance(n.func.value, ast.Name)
                        and n.func.value.id == "Window"):
                    yield rel, fn.name, n


def test_global_partition_windows_are_listed():
    """Every un-keyed `Window.partitionBy()` under `parlerproject_spark/`
    moves all its rows into one partition, so each is listed above with
    its written bound and a new one fails here. Pure AST, no Spark."""
    sites = {(rel, fn) for rel, fn, n in _window_calls("partitionBy")
             if not n.args and not n.keywords}
    assert sites == set(_GLOBAL_PARTITION_WINDOWS), sorted(sites)


def test_unkeyed_order_windows_are_listed():
    """Every `Window.orderBy(...)` without a partitionBy sorts all its
    rows in one partition, so each site is listed above with its
    written row bound and a new one fails here. Pure AST, no Spark."""
    from collections import Counter

    sites = Counter((rel, fn) for rel, fn, _ in _window_calls("orderBy"))
    assert sites == {k: len(v) for k, v in _UNKEYED_ORDER_WINDOWS.items()}, \
        sorted(sites.items())


def _f_call(node):
    """`name` when `node` is a call `F.<name>(...)`, else None."""
    import ast
    if (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
            and isinstance(node.func.value, ast.Name)
            and node.func.value.id == "F"):
        return node.func.attr
    return None


def test_driver_values_enter_plans_through_caching_literal():
    """A driver-side value enters a plan only through `caching.literal` /
    `caching.literal_frame` (one JSON literal the optimizer folds).
    Fails under `parlerproject_spark/` on any `createDataFrame` call
    (it starts Python workers), on `F.lit` of a list display or
    comprehension, and on `F.array` / `F.create_map` over `*map(F.lit,
    ...)` or over a starred comprehension whose elements are built
    from `F.lit` / `F.struct` calls alone (one py4j call per element).
    Mixed column/literal structs stay legal. Pure AST, no Spark."""
    import ast
    from pathlib import Path

    root = Path(__file__).resolve().parents[1]
    bad = []
    for f in sorted((root / "parlerproject_spark").rglob("*.py")):
        rel = f.relative_to(root).as_posix()
        for n in ast.walk(ast.parse(f.read_text())):
            if not isinstance(n, ast.Call):
                continue
            if (isinstance(n.func, ast.Attribute)
                    and n.func.attr == "createDataFrame"):
                bad.append((rel, n.lineno, "createDataFrame"))
            elif (_f_call(n) == "lit" and n.args
                    and isinstance(n.args[0], (ast.List, ast.ListComp))):
                bad.append((rel, n.lineno, "F.lit(list)"))
            elif _f_call(n) in ("array", "create_map"):
                for a in n.args:
                    v = a.value if isinstance(a, ast.Starred) else None
                    if (isinstance(v, ast.Call)
                            and isinstance(v.func, ast.Name)
                            and v.func.id == "map" and v.args
                            and isinstance(v.args[0], ast.Attribute)
                            and v.args[0].attr == "lit"):
                        bad.append((rel, n.lineno, "*map(F.lit, ...)"))
                    elif isinstance(v, (ast.ListComp, ast.GeneratorExp)):
                        fs = {_f_call(c) for c in ast.walk(v.elt)} - {None}
                        if "lit" in fs and fs <= {"lit", "struct"}:
                            bad.append((rel, n.lineno, "[F.lit ...]"))
    assert not bad, bad
