"""Import-graph guard for the package and the query registry: every
module imports (so a dangling import of a removed module fails here,
without a Spark session), every registered query has an oracle unless
it is a declared rows-only sketch, and driver-side constant frames are
built by one helper."""

from __future__ import annotations

import ast
import importlib
import pkgutil
from pathlib import Path

import kg_covid_19_spark


def test_every_module_imports():
    names = [
        m.name
        for m in pkgutil.walk_packages(
            kg_covid_19_spark.__path__, kg_covid_19_spark.__name__ + "."
        )
    ]
    assert "kg_covid_19_spark.plans.pipeline" in names
    for name in names:
        importlib.import_module(name)


def test_every_query_has_an_oracle():
    import __spark_entry__ as entry

    queries, oracles = set(entry.queries()), set(entry.oracle_sql())
    assert oracles <= queries, sorted(oracles - queries)
    assert queries - oracles == entry.ROWS_ONLY, sorted(queries - oracles)


def test_only_local_frame_calls_create_dataframe():
    """``createDataFrame(<python list>)`` plans a pickled PythonRDD whose
    every read starts Python workers; constants go through
    ``sources.corpus.local_frame`` (an Arrow-built LocalRelation)."""
    root = Path(kg_covid_19_spark.__file__).parent
    calls, helper = [], None
    for path in sorted(root.rglob("*.py")):
        rel = str(path.relative_to(root))
        for node in ast.walk(ast.parse(path.read_text(), rel)):
            if isinstance(node, ast.FunctionDef) and node.name == "local_frame":
                helper = (rel, node.lineno, node.end_lineno)
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "createDataFrame"):
                calls.append((rel, node.lineno))
    assert helper is not None and helper[0] == "sources/corpus.py"
    outside = [c for c in calls
               if c[0] != helper[0] or not helper[1] <= c[1] <= helper[2]]
    assert outside == [], outside


def test_query_module_helpers_are_used():
    """Every top-level function and UPPER_CASE constant of the query
    modules and the merge operators is used outside its own definition,
    so a helper or operator orphaned by a query cut fails here. A use
    is an AST ``Name``/``Attribute`` load or an ``import`` of the name.
    A ``_``-prefixed helper or a constant must be used in the package or
    the driver entry; a public function may also be used only by
    ``tests/``."""
    root = Path(kg_covid_19_spark.__file__).parent
    package = sorted(root.rglob("*.py")) + [root.parent / "__spark_entry__.py"]
    tests = sorted(Path(__file__).parent.rglob("*.py"))
    uses = []  # (path, line, name, in tests/)
    for path in package + tests:
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
                names = [node.id]
            elif (isinstance(node, ast.Attribute)
                    and isinstance(node.ctx, ast.Load)):
                names = [node.attr]
            elif isinstance(node, (ast.Import, ast.ImportFrom)):
                names = [a.name.rsplit(".", 1)[-1] for a in node.names]
            else:
                continue
            uses += [(path, node.lineno, n, path in tests) for n in names]
    unused = []
    for rel in ("plans/queries.py", "plans/merged.py", "operators/merge.py"):
        path = root / rel
        for node in ast.parse(path.read_text(), rel).body:
            if isinstance(node, ast.FunctionDef):
                names = [node.name]
            elif isinstance(node, ast.Assign):
                names = [t.id for t in node.targets
                         if isinstance(t, ast.Name)
                         and t.id.lstrip("_").isupper()]
            else:
                continue
            for name in names:
                public = isinstance(node, ast.FunctionDef) and not (
                    name.startswith("_"))
                if not any(n == name and (public or not in_tests) and not (
                        p == path and node.lineno <= line <= node.end_lineno)
                        for p, line, n, in_tests in uses):
                    unused.append(f"{rel}:{node.lineno} {name}")
    assert unused == [], unused
