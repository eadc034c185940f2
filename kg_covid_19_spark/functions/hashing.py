"""Deterministic hash gates — the engine's substitute for RNG.

One definition, two engines: ``hash_mod`` is the Spark column form and
``hash_mod_sql`` the DuckDB twin of the SAME expression (first 15 hex
digits of md5('<tag>|' || value), base-16, mod n), so samplers, draw
streams, and split assignments are pure functions of their inputs —
identical across runs, engines, parallelism levels, and resumed
checkpoints. 15 hex digits = 60 bits: fits a signed int64 on both
engines and leaves mod-n bias below 2^-40 for any practical n.

Consumers: operators/holdouts.py (negative-draw stream) and
plans/queries.py (random-walk steps). Changing this expression
changes every one of them in lockstep — that is the point.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def hash_mod(tag: str, value: Column, n: int | Column) -> Column:
    """Uniform [0, n) gate from md5('<tag>|value'); ``n`` may be a
    per-row Column (e.g. a node degree for walk-step selection)."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(tag + "|"), value.cast("string"))), 1, 15
            ),
            16,
            10,
        ).cast("long")
        % n
    )


def hash_mod_sql(tag: str, expr: str, n_sql: str) -> str:
    """The DuckDB twin; ``n_sql`` may be a literal or a scalar subquery."""
    return (
        f"(('0x' || substr(md5('{tag}|' || {expr}), 1, 15))::UBIGINT"
        f" % {n_sql})"
    )
