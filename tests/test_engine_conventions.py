"""Cross-engine arithmetic conventions the oracle mirror rests on,
pinned as three-way properties (Spark / DuckDB / python reference):

- integer division: Spark `div` == DuckDB `//` == truncate-toward-zero
  (tests/conftest.tdiv) — NOT python floor division on negatives;
- double rounding: F.round(x, 6) == DuckDB round(CAST(x AS DOUBLE), 6)
  == conftest.round_half_up(x, 6) (half-away-from-zero at the digit);
- the modulo companion: Spark % == DuckDB % (sign follows dividend).

A regression in any of these silently flips value hashes across ~200
oracled queries, so they get their own loud gate.
"""

from __future__ import annotations

import ast
import os

import duckdb
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from tests.conftest import round_half_up, tdiv


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(st.tuples(
    st.integers(min_value=-10**17, max_value=10**17),
    st.integers(min_value=-10**9, max_value=10**9).filter(lambda b: b)),
    min_size=1, max_size=40))
def test_integer_div_three_way(spark, pairs):
    py = [tdiv(a, b) for a, b in pairs]
    got = [r.q for r in
           spark.createDataFrame(pairs, "a long, b long")
           .select(F.expr("a div b").alias("q")).collect()]
    assert got == py
    con = duckdb.connect()
    duck = [con.execute("SELECT CAST(? AS BIGINT) // CAST(? AS BIGINT)",
                        [a, b]).fetchone()[0] for a, b in pairs]
    assert duck == py


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(st.tuples(
    st.integers(min_value=-10**17, max_value=10**17),
    st.integers(min_value=-10**9, max_value=10**9).filter(lambda b: b)),
    min_size=1, max_size=40))
def test_modulo_two_way(spark, pairs):
    got = [r.m for r in
           spark.createDataFrame(pairs, "a long, b long")
           .select(F.expr("a % b").alias("m")).collect()]
    con = duckdb.connect()
    duck = [con.execute("SELECT CAST(? AS BIGINT) % CAST(? AS BIGINT)",
                        [a, b]).fetchone()[0] for a, b in pairs]
    assert got == duck
    # and both equal the a - tdiv(a,b)*b identity (sign of dividend)
    assert got == [a - tdiv(a, b) * b for a, b in pairs]


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(
    st.floats(min_value=-1e9, max_value=1e9,
              allow_nan=False, allow_infinity=False),
    min_size=1, max_size=40))
def test_round6_three_way(spark, vals):
    py = [round_half_up(v, 6) for v in vals]
    got = [r.r for r in
           spark.createDataFrame([(v,) for v in vals], "v double")
           .select(F.round("v", 6).alias("r")).collect()]
    assert got == py
    con = duckdb.connect()
    duck = [con.execute("SELECT round(CAST(? AS DOUBLE), 6)",
                        [v]).fetchone()[0] for v in vals]
    assert duck == py


def test_round6_known_boundaries(spark):
    """Deterministic boundary probes (kept out of hypothesis so the
    exact cases are visible): halves at digit 6, negatives — AND the
    digit-0 halves checked at digit 0, where half-up vs half-even
    actually differ (at digit 6 the 2.5-family are fixed points under
    every convention, so only round(v, 0) probes the convention)."""
    vals = [1.0000005, 2.0000015, -1.0000005, 0.1234565, 0.1234575]
    py = [round_half_up(v, 6) for v in vals]
    got = [r.r for r in
           spark.createDataFrame([(v,) for v in vals], "v double")
           .select(F.round("v", 6).alias("r")).collect()]
    assert got == py
    con = duckdb.connect()
    duck = [con.execute("SELECT round(CAST(? AS DOUBLE), 6)",
                        [v]).fetchone()[0] for v in vals]
    assert duck == py
    # digit-0: half-away-from-zero in BOTH engines (2.5 -> 3, not the
    # banker's 2; -2.5 -> -3) and in the python reference
    halves = [0.5, 1.5, 2.5, 3.5, -0.5, -2.5]
    py0 = [round_half_up(v, 0) for v in halves]
    assert py0 == [1.0, 2.0, 3.0, 4.0, -1.0, -3.0]
    got0 = [r.r for r in
            spark.createDataFrame([(v,) for v in halves], "v double")
            .select(F.round("v", 0).alias("r")).collect()]
    assert got0 == py0
    duck0 = [con.execute("SELECT round(CAST(? AS DOUBLE), 0)",
                         [v]).fetchone()[0] for v in halves]
    assert duck0 == py0


# ---------------------------------------------------------------------
# No code without a consumer: every public name in a guarded package
# (operators/, sources/, streaming/, functions/) must have a consumer
# outside tests/.  A twin that only its own test calls is the code
# this guard exists to keep out.

_PKG = "tp_airflow_gtfs_snowflake_spark"
_GUARDED = ("operators", "sources", "streaming", "functions")
# Public names with no non-test consumer, kept on purpose.
_NO_CONSUMER_OK = {
    # A1/A2 of the paper's static fetch; the pipeline entry points run
    # on files already fetched, because the fetch needs network.
    (f"{_PKG}.sources.gtfs_static", "download_static_zip"):
        "paper step A1 (fetch); needs network",
    (f"{_PKG}.sources.gtfs_static", "unzip_static"):
        "paper step A2 (unzip) after the A1 fetch",
    # The wire encoder is the inverse of the decoder the pipeline runs;
    # tests build their protobuf feeds with it.
    (f"{_PKG}.sources.gtfs_rt_pb", "encode_message"):
        "test-fixture protobuf encoder",
    (f"{_PKG}.sources.gtfs_rt_pb", "encode_feed_message"):
        "test-fixture protobuf encoder",
}


def _import_aliases(tree: ast.AST, guarded: set[str]):
    """(local name -> guarded module, local name -> (module, name)) for
    every absolute import anywhere in `tree` (the package uses no
    relative imports)."""
    mods, names = {}, {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.asname and a.name in guarded:
                    mods[a.asname] = a.name
        elif isinstance(node, ast.ImportFrom):
            for a in node.names:
                local = a.asname or a.name
                if f"{node.module}.{a.name}" in guarded:
                    mods[local] = f"{node.module}.{a.name}"
                else:
                    names[local] = (node.module, a.name)
    return mods, names


def _references(node: ast.AST, module: str, mods, names, own: set[str]):
    """(module, name) pairs that `node` names: imported names, attribute
    reads on an imported module, and `module`'s own top-level names."""
    refs = set(names.values()) if isinstance(node, ast.Module) else set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            if n.id in names:
                refs.add(names[n.id])
            elif n.id in own:
                refs.add((module, n.id))
        elif (isinstance(n, ast.Attribute) and isinstance(n.value, ast.Name)
              and n.value.id in mods):
            refs.add((mods[n.value.id], n.attr))
        elif isinstance(n, ast.ImportFrom):
            refs.update(names[a.asname or a.name] for a in n.names
                        if (a.asname or a.name) in names)
    return refs


def test_guarded_packages_have_consumers():
    """Every public top-level function or class in a guarded package
    is reachable from non-test code: named by plans/, the pipeline
    modules, scripts/, perfbench/, bench.py or __spark_entry__.py, or
    named inside the body of a reachable guarded name.  Parses files
    only."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    consumer_files, guarded_files = [], {}
    for dirpath, dirs, files in os.walk(root):
        rel = os.path.relpath(dirpath, root).split(os.sep)
        if rel[0] not in (_PKG, "scripts", "perfbench", "."):
            dirs[:] = []
            continue
        for f in files:
            path = os.path.join(dirpath, f)
            if not f.endswith(".py") or (rel[0] == "." and f not in (
                    "bench.py", "__spark_entry__.py")):
                continue
            if rel[0] == _PKG and len(rel) > 1 and rel[1] in _GUARDED:
                module = ".".join(rel + [f.removesuffix(".py")])
                guarded_files[module.removesuffix(".__init__")] = path
            else:
                consumer_files.append(path)
    assert guarded_files
    guarded = set(guarded_files)

    public, edges, reached = set(), {}, set()
    for module, path in guarded_files.items():
        with open(path) as f:
            tree = ast.parse(f.read())
        mods, names = _import_aliases(tree, guarded)
        defs = {n.name: n for n in tree.body if isinstance(
            n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))}
        public |= {(module, d) for d in defs if not d.startswith("_")}
        for name, node in defs.items():
            edges[(module, name)] = _references(node, module, mods, names,
                                                set(defs))
        # module-level statements run on import: what they name counts
        for node in tree.body:
            if node not in defs.values():
                reached |= _references(node, module, mods, names, set(defs))
    for path in consumer_files:
        with open(path) as f:
            tree = ast.parse(f.read())
        mods, names = _import_aliases(tree, guarded)
        reached |= _references(tree, "", mods, names, set())

    todo = list(reached)
    while todo:
        for ref in edges.get(todo.pop(), ()):
            if ref not in reached:
                reached.add(ref)
                todo.append(ref)
    assert not [k for k in _NO_CONSUMER_OK if k not in public], \
        "stale allowlist entry"
    orphans = sorted(f"{m}.{n}" for m, n in public - reached
                     if (m, n) not in _NO_CONSUMER_OK)
    assert not orphans, (
        "public names in guarded packages that no non-test code reaches "
        f"(delete them, or allowlist with a reason): {orphans}")
