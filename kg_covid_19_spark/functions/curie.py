"""CURIE / id-algebra column functions (SURVEY.md §2.6 C1-C14).

All JVM-side Column expressions — these run inside whole-stage codegen; no
Python touches the hot path. Each cites the reference behavior it mirrors.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..dictionaries import PREFIX_CATEGORY

# C2: is_curie / is_iri (scibite_cord.py:396-418)
CURIE_RE = "^[^ :]+:[^/ :]+$"
IRI_RE = "^http[s]?://"


def is_curie(col: Column) -> Column:
    return col.rlike(CURIE_RE)


def is_iri(col: Column) -> Column:
    return col.rlike(IRI_RE)


def collapse_uniprot_curie(col: Column) -> Column:
    """C3: strip isoform suffix ``-N`` iff prefix uniprotkb: (case-insens).

    Reference: utils/transform_utils.py:205-218; tested
    tests/test_transform_utils.py:26-37.
    """
    return F.when(
        F.lower(col).startswith("uniprotkb:"),
        F.regexp_replace(col, r"-\d+$", ""),
    ).otherwise(col)


def curie_prefix(col: Column) -> Column:
    return F.split(col, ":").getItem(0)


def guess_bl_category(col: Column) -> Column:
    """C4: prefix → Biolink category, default biolink:NamedThing.

    Reference: utils/transform_utils.py:185-202 (UniProtKB/ComplexPortal→
    Protein, GO→OntologyClass, else NamedThing), extended over our prefix
    universe (dictionaries.PREFIX_CATEGORY).
    """
    pfx = curie_prefix(col)
    expr: Column = F.lit("biolink:NamedThing")
    for prefix, cat in reversed(PREFIX_CATEGORY):
        expr = F.when(pfx == prefix, F.lit(cat)).otherwise(expr)
    return expr


def scrub_whitespace(col: Column) -> Column:
    """C5: ``re.sub(r"[\\n\\t]", " ", s)`` (scibite_cord.py:157) — part of
    the byte-identical text extraction contract."""
    return F.regexp_replace(col, "[\\n\\t]", " ")


def pipe_split(col: Column) -> Column:
    """C6: '|'-separated multi-value split (drug_central.py:167-195)."""
    return F.split(col, r"\|")


def pipe_join(col: Column) -> Column:
    """C6: multi-value join at KGX-TSV export (chembl_transform.py:389-392)."""
    return F.concat_ws("|", col)


def get_identifier_by_prefix(col: Column, prefix: str) -> Column:
    """C8: pick the ``prefix``-ed item from a '|'-list and fix ``HGNC:HGNC:``
    doubling (scibite_cord.py:467-484)."""
    # F.get: null on no hit (getItem(0) raises under ANSI on empty arrays)
    picked = F.get(F.filter(pipe_split(col), lambda x: x.startswith(prefix)), 0)
    return F.regexp_replace(picked, f"^{prefix}{prefix}", prefix)


def fix_underscore_curie(col: Column) -> Column:
    """C12: uo_units / bao_format '_'→':' fixup (chembl_transform.py:197-200)."""
    return F.regexp_replace(col, "_", ":")


def strip_xml_suffix(col: Column) -> Column:
    """C13: paper_id.replace('.xml','') (scibite_cord.py:273-274)."""
    return F.regexp_replace(col, r"\.xml$", "")


def content_edge_id(subject: Column, obj: Column) -> Column:
    """C14: deterministic surrogate for the reference's uuid1 mapping-edge id
    (ontology_transform.py:103-104) — content hash instead of wall-clock uuid."""
    return F.sha2(F.concat_ws("|", subject, obj), 256)

