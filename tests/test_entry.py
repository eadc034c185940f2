"""Import-graph guard for the package and the query registry: every
module imports (so a dangling import of a removed module fails here,
without a Spark session) and every registered query has an oracle
unless it is a declared rows-only sketch."""

from __future__ import annotations

import importlib
import pkgutil

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
