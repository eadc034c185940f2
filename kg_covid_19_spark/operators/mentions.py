"""Gazetteer mention detection — one native Catalyst expression.

Reference semantics: SciBite termite hits — per document, the set of
dictionary terms found in its text (scibite_cord.py:141-171 gathers
termite_hits over metadata/abstract/body; E4 in SURVEY.md §2.7 is the
doc → per-term node + ``biolink:mentions`` edge explosion).

Spark-first design:

* **The token rule** (:func:`tokens`) is fixed: ``lower(text)`` split on
  ``[^a-z0-9]+``, empty tokens dropped — the same rule the DuckDB
  oracles state in SQL, and the determinism boundary (same tokens at
  any parallelism).
* **The dictionary is a map literal** in the plan: term (its tokens
  joined by one space) → canonical curie, built on the driver and
  constant-folded by Catalyst, so every task carries it and no job
  ships a broadcast or starts a Python worker.
* **Matching is token equality** (:func:`curies`): each token, and each
  window of up to the longest phrase term's token count
  (``array_join(slice(toks, i, n), ' ')``), is looked up with
  ``try_element_at``. The hits are filtered, made distinct — the
  reference's per-document ``seen`` set (scibite_cord.py:187-188) — and
  sorted, so dedup state is row-local and mention edges need no shuffle.

At 100 TB this is a narrow projection: throughput scales with executors
as long as input splits are sized by ``spark.sql.files.maxPartitionBytes``.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..dictionaries import normalized_gazetteer

TOKEN_SPLIT = "[^a-z0-9]+"


def tokens(text: Column) -> Column:
    """The token rule: ``lower(text)`` split on ``[^a-z0-9]+`` with the
    empty tokens removed; a null text has no tokens."""
    return F.filter(
        F.split(F.lower(F.coalesce(text, F.lit(""))), TOKEN_SPLIT),
        lambda t: t != "",
    )


def _sql_str(s: str) -> str:
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def term_map(entries: list[tuple[str, str, str, str]] | None = None
             ) -> tuple[Column, int]:
    """(term → curie map literal, longest term in tokens) over ``entries``
    (default: the normalized gazetteer).

    A term's key is its tokens joined by one space, so a phrase matches
    the same token window whatever separates its words in the text; a
    term with no token is dropped. Keys are deduplicated on the driver
    (the last entry of a key wins), so the literal never reaches Spark's
    duplicate-map-key check. The map is one SQL literal: ``F.expr``
    parses it in one call, where 2×N ``F.lit`` columns cost a py4j
    round trip each."""
    entries = normalized_gazetteer() if entries is None else entries
    table = {}
    for term, curie, _name, _cat in entries:
        key = " ".join(t for t in re.split(TOKEN_SPLIT, term.lower()) if t)
        if key:
            table[key] = curie
    pairs = ", ".join(f"{_sql_str(k)}, {_sql_str(c)}" for k, c in table.items())
    longest = max((k.count(" ") + 1 for k in table), default=1)
    return F.expr(f"CAST(map({pairs}) AS MAP<STRING, STRING>)"), longest


def curies(text: Column,
           entries: list[tuple[str, str, str, str]] | None = None) -> Column:
    """``array<string>``: the sorted, distinct canonical curies whose term
    occurs in ``text`` as a token window (``[]`` for a null text).

    The windows of length ``n`` are ``transform((t, i) …)`` over the
    tokens; a window that runs past the last token is a shorter window
    already looked up at its own length, so it adds no false hit. The
    tokens are bound once as the single element of an array, so the
    split runs once per row however many window lengths read them."""
    m, longest = term_map(entries)

    def hits(toks: Column) -> Column:
        def window(n: int) -> Column:
            return F.transform(toks, lambda _t, i: F.try_element_at(
                m, F.array_join(F.slice(toks, i + 1, n), " ")))

        unigrams = F.transform(toks, lambda t: F.try_element_at(m, t))
        return F.concat(unigrams, *(window(n) for n in range(2, longest + 1)))

    found = F.flatten(F.transform(F.array(tokens(text)), hits))
    return F.sort_array(F.array_distinct(F.filter(found, lambda c: c.isNotNull())))
