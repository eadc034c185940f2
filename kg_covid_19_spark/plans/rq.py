"""grlc .rq query plumbing (SURVEY.md §3.3, K3).

Reference: kg_covid_19/query.py — ``parse_query_rq`` reads the grlc
front-matter (``=+ key value`` lines) + SPARQL body; ``result_dict_to_tsv``
materializes a SPARQL-JSON result set as a TSV (query.py:44-63). The
reference executes queries on a remote Blazegraph; our engine executes the
equivalent DataFrame plans locally (plans/queries.py), so the plumbing here
is (a) the same .rq parser, (b) the result-set → DataFrame/TSV bridge, and
(c) the registry mapping each shipped .rq template to its DataFrame plan.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

from ..sources.corpus import local_frame

# reference queries/<file> → our DataFrame plan (plans/queries.py)
RQ_TO_PLAN = {
    "query-01-bl-cat-counts.rq": "kg_category_counts",
    "query-02-sars-cov-2-prot.rq": "kg_protein_nodes",
    "query-03-sars-cov-2-interactors.rq": "kg_one_hop",
    "query-04-sars-cov-2-interactors_2nd_order.rq": "kg_two_hop",
    "query-05-sars-cov-2-interactors_druggable_2nd_order.rq":
        "kg_druggable_two_hop",
    "query-06-provided_by_counts.rq": "kg_provided_by_counts",
    "query-07-drug-to-drug-target.rq": "kg_drug_mentions",
}

_FRONT = re.compile(r"^=\+ (\S+) (.*)$")
_FRONT_ANY = re.compile(r"^=\+ ")


def parse_query_rq(rq_file: str) -> dict:
    """grlc front-matter + SPARQL body → dict (query.py:18-41 contract:
    `=+ key value` lines become entries, everything else concatenates —
    blank lines dropped — into `query`).

    A front-matter line with a key but no value (`=+ key`) raises
    ValueError, exactly like the reference's two-element unpack of
    ``split(" ", maxsplit=1)`` (query.py:34-36) — not silently treated
    as SPARQL body."""
    meta: dict[str, str] = {}
    body: list[str] = []
    with open(rq_file) as fh:
        for line in fh:
            if line.isspace():
                continue
            # rstrip BEFORE matching: the reference rstrips before its
            # split, so `=+ key   ` (trailing blanks only) also raises
            m = _FRONT.match(line.rstrip())
            if m:
                meta[m.group(1)] = m.group(2)
            elif _FRONT_ANY.match(line):
                raise ValueError(
                    f"malformed grlc front-matter (key without value): "
                    f"{line.rstrip()!r}"
                )
            else:
                body.append(line)
    return {**meta, "query": "".join(body)}


def result_bindings_to_df(spark: SparkSession, result_dict: dict) -> DataFrame:
    """SPARQL-JSON result set → DataFrame (missing binding → 'ERROR',
    matching query.py:52-58)."""
    cols = list(result_dict["head"]["vars"])
    rows = [
        tuple(
            row[c]["value"] if c in row else "ERROR"
            for c in cols
        )
        for row in result_dict["results"]["bindings"]
    ]
    return local_frame(spark, rows, ", ".join(f"`{c}` string" for c in cols))


def result_dict_to_tsv(result_dict: dict, outfile: str) -> None:
    """Driver-side result formatter — header + value rows (query.py:44-63)."""
    cols = list(result_dict["head"]["vars"])
    with open(outfile, "w") as fh:
        fh.write("\t".join(cols) + "\n")
        for row in result_dict["results"]["bindings"]:
            fh.write(
                "\t".join(row[c]["value"] if c in row else "ERROR" for c in cols)
                + "\n"
            )
