"""Constant broadcast dictionaries for the KG-construction pipeline.

The reference builds all of its join dictionaries in-driver at startup
(ENSP→ENSG string_ppi.py:61-96, gene_info symbol map scibite_cord.py:420-452,
SSSOM normalization map utils/normalize_utils.py:7-46). Our engine does the
same, but the dictionaries become *broadcast DataFrames* (Catalyst-visible
broadcast hash joins) or, for mention detection, one term → curie map
literal inside a native expression (operators/mentions.py).

Terms are drawn from the deterministic driver corpus vocabulary
(/root/testdata/sf*/documents.parquet) so that expected mentions are exactly
computable — the FIXTURES.md §3 contract ("embed gazetteer terms into
generated sentences so expected mentions/triples are computable exactly").

This module is the single source of truth for BOTH the Spark pipeline and
the DuckDB oracle SQL: `gazetteer_values_sql()` / `sssom_values_sql()`
render the identical dictionaries as inline VALUES CTEs so the driver's
oracle comparison can never drift from the engine.
"""

from __future__ import annotations

# (term, curie, name, category) — mirrors FIXTURES.md §3. CURIE prefixes
# exercise every branch of the reference's id algebra: SSSOM remap (MESH→
# MONDO, HGNC→NCBIGene, DOID→MONDO — normalize_utils.py:7-46 semantics),
# UniProtKB isoform collapse (utils/transform_utils.py:205-218), and
# prefix-priority category guessing (utils/transform_utils.py:185-202).
GAZETTEER: list[tuple[str, str, str, str]] = [
    ("spark", "HGNC:11219", "SPARK", "biolink:Gene"),
    ("query", "HGNC:1097", "QUERY", "biolink:Gene"),
    ("hash", "MESH:D006801", "Hashimoto syndrome", "biolink:Disease"),
    ("merge", "MONDO:0005091", "merge disease", "biolink:Disease"),
    ("batch", "DOID:4", "batch disease", "biolink:Disease"),
    ("join", "CHEBI:28304", "joinamycin", "biolink:Drug"),
    ("vector", "CHEBI:15377", "vectorol", "biolink:Drug"),
    ("scan", "DrugCentral:4659", "scanib", "biolink:Drug"),
    ("filter", "UniProtKB:P0DTC2-1", "filterin isoform 1", "biolink:Protein"),
    ("window", "UniProtKB:P0DTC2", "windowin", "biolink:Protein"),
    ("stream", "NCBITaxon:2697049", "Streamovirus", "biolink:OrganismTaxon"),
    ("table", "GO:0008150", "table process", "biolink:OntologyClass"),
    ("dup", "MONDO:0100096", "duplication syndrome", "biolink:Disease"),
]

# SSSOM-style CURIE normalization map (subject_id → object_id); semantics =
# left join + coalesce, identity on miss (normalize_utils.py:7-46).
SSSOM_MAP: list[tuple[str, str]] = [
    ("MESH:D006801", "MONDO:0005091"),
    ("HGNC:11219", "NCBIGene:6678"),
    ("HGNC:1097", "NCBIGene:673"),
    ("DOID:4", "MONDO:0000001"),
]

# Prefix → Biolink category fallback (guess_bl_category,
# utils/transform_utils.py:185-202 — extended to our prefix universe).
PREFIX_CATEGORY: list[tuple[str, str]] = [
    ("UniProtKB", "biolink:Protein"),
    ("ComplexPortal", "biolink:Protein"),
    ("GO", "biolink:OntologyClass"),
    ("MONDO", "biolink:Disease"),
    ("DOID", "biolink:Disease"),
    ("MESH", "biolink:Disease"),
    ("CHEBI", "biolink:Drug"),
    ("DrugCentral", "biolink:Drug"),
    ("HGNC", "biolink:Gene"),
    ("NCBIGene", "biolink:Gene"),
    ("ENSEMBL", "biolink:Gene"),
    ("NCBITaxon", "biolink:OrganismTaxon"),
    ("CORD", "biolink:Publication"),
]

# Preferred-id prefix priority (pharmgkb.py:191-253 / keys_by_priority,
# utils/transform_utils.py:88-107): first non-null in this order wins.
PREFIX_PRIORITY: list[str] = [
    "CHEBI",
    "CHEMBL.COMPOUND",
    "DRUGBANK",
    "PUBCHEM.COMPOUND",
    "MONDO",
    "NCBIGene",
    "UniProtKB",
]

MENTION_PREDICATE = "biolink:mentions"
MENTION_RELATION = "SIO:000255"
COOC_PREDICATE = "biolink:correlated_with"
COOC_RELATION = "RO:0002610"
PUB_CATEGORY = "biolink:Publication"
DOC_PREFIX = "CORD:"
PROVIDED_BY = "documents"


SAME_AS_PREDICATE = "biolink:same_as"
SAME_AS_RELATION = "skos:exactMatch"
ONTO_PROVIDED_BY = "ontology"


def _q(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def gazetteer_values_sql() -> str:
    """Inline VALUES CTE body for the gazetteer (ANSI SQL, DuckDB-ready)."""
    rows = ",\n    ".join(
        f"({_q(t)}, {_q(c)}, {_q(n)}, {_q(cat)})" for t, c, n, cat in GAZETTEER
    )
    return f"gaz(term, curie, name, category) AS (VALUES\n    {rows})"


def sssom_values_sql() -> str:
    rows = ",\n    ".join(f"({_q(s)}, {_q(o)})" for s, o in SSSOM_MAP)
    return f"sssom(subject_id, object_id) AS (VALUES\n    {rows})"


def normalized_gazetteer() -> list[tuple[str, str, str, str]]:
    """Gazetteer with SSSOM normalization + isoform collapse pre-composed.

    At 10^12-document scale the id algebra must be folded into the broadcast
    build side once, not re-joined per mention: every mention the detector
    emits already carries its canonical CURIE, so the only shuffles left in
    the pipeline are the final tiny node/edge dedups.
    """
    sssom = dict(SSSOM_MAP)
    out = []
    for term, curie, name, cat in GAZETTEER:
        c = sssom.get(curie, curie)
        c = collapse_uniprot(c)
        out.append((term, c, name, cat))
    return out


def canonical_gazetteer() -> list[tuple[str, str, str]]:
    """Canonical (curie, name, category) rows, sorted by curie: the
    normalized gazetteer min-resolved per canonical CURIE (the
    connected-component-free prefix/lexicographic dedup of the north
    rule). Python ``str`` order is code-point order, the same order
    Spark's and DuckDB's ``min`` give UTF-8 strings (``gaz_nodes``)."""
    best: dict[str, tuple[str, str]] = {}
    for _term, curie, name, cat in normalized_gazetteer():
        n, c = best.get(curie, (name, cat))
        best[curie] = (min(n, name), min(c, cat))
    return [(curie, n, c) for curie, (n, c) in sorted(best.items())]


def collapse_uniprot(curie: str) -> str:
    """Strip isoform suffix ``-N`` iff prefix is uniprotkb: (case-insens.)

    Reference: utils/transform_utils.py:205-218.
    """
    import re

    if curie.lower().startswith("uniprotkb:"):
        return re.sub(r"-\d+$", "", curie)
    return curie


# ---------------------------------------------------------------------------
# The full KG-pipeline CTE for the DuckDB oracle. Every kg_* oracle query is
# `WITH {KG_CTE} SELECT ...` — one definition, reused everywhere, guaranteed
# to express exactly the semantics the Spark pipeline implements.
# ---------------------------------------------------------------------------

def kg_cte_sql(langs: tuple[str, ...] | None = None) -> str:
    lang_pred = (
        "WHERE lang IN (" + ", ".join(_q(l) for l in langs) + ")" if langs else ""
    )
    return f"""
{gazetteer_values_sql()},
{sssom_values_sql()},
docs AS (SELECT doc_id, text FROM documents {lang_pred}),
gaz_norm AS (
  -- entity linking folded into the dictionary: SSSOM left join + coalesce
  -- (normalize_utils.py:7-46) then UniProtKB isoform collapse
  -- (transform_utils.py:205-218) — identical to normalized_gazetteer()
  SELECT g.term,
    CASE WHEN lower(coalesce(s.object_id, g.curie)) LIKE 'uniprotkb:%'
         THEN regexp_replace(coalesce(s.object_id, g.curie), '-[0-9]+$', '')
         ELSE coalesce(s.object_id, g.curie) END AS curie,
    g.name, g.category
  FROM gaz g LEFT JOIN sssom s ON g.curie = s.subject_id
),
gaz_nodes AS (
  SELECT curie, min(name) AS name, min(category) AS category
  FROM gaz_norm GROUP BY curie
),
toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS tok
  FROM docs
),
mentions AS (
  SELECT DISTINCT t.doc_id, g.curie
  FROM toks t JOIN gaz_norm g ON t.tok = g.term
),
term_nodes AS (
  SELECT m.curie AS id, n.name, n.category, 'documents' AS provided_by
  FROM (SELECT DISTINCT curie FROM mentions) m
  JOIN gaz_nodes n ON m.curie = n.curie
),
pub_nodes AS (
  SELECT 'CORD:' || CAST(doc_id AS VARCHAR) AS id,
         'Document ' || CAST(doc_id AS VARCHAR) AS name,
         'biolink:Publication' AS category, 'documents' AS provided_by
  FROM docs
),
nodes AS (SELECT * FROM term_nodes UNION ALL SELECT * FROM pub_nodes),
mention_edges AS (
  SELECT 'CORD:' || CAST(doc_id AS VARCHAR) AS subject,
         'biolink:mentions' AS predicate, curie AS object,
         'SIO:000255' AS relation, 'documents' AS provided_by
  FROM mentions
),
cooc_edges AS (
  SELECT DISTINCT a.curie AS subject, 'biolink:correlated_with' AS predicate,
         b.curie AS object, 'RO:0002610' AS relation, 'documents' AS provided_by
  FROM mentions a JOIN mentions b ON a.doc_id = b.doc_id AND a.curie < b.curie
),
edges AS (SELECT * FROM mention_edges UNION ALL SELECT * FROM cooc_edges)
""".strip()


def guess_category(curie: str) -> str:
    """guess_bl_category on the driver: the category of the first
    PREFIX_CATEGORY entry whose prefix equals the text before the first
    ':', default biolink:NamedThing."""
    prefix = curie.split(":", 1)[0]
    return next((c for p, c in PREFIX_CATEGORY if p == prefix),
                "biolink:NamedThing")


def guess_category_case_sql(col: str) -> str:
    """ANSI-SQL rendering of guess_bl_category (transform_utils.py:185-202):
    CURIE prefix → Biolink category, default biolink:NamedThing."""
    whens = "\n    ".join(
        f"WHEN split_part({col}, ':', 1) = {_q(p)} THEN {_q(c)}"
        for p, c in PREFIX_CATEGORY
    )
    return f"CASE {whens}\n    ELSE 'biolink:NamedThing' END"


def merged_cte_sql(langs: tuple[str, ...] | None = None) -> str:
    """kg_cte_sql + a second source ('ontology': gazetteer entities and
    SSSOM same_as mapping edges, analog of ontology_transform.py) + the
    merge.yaml union-with-provenance semantics (merge_kg.py:22-34):
    node fusion on id with provided_by accumulation, edge dedup on
    (subject, predicate, object, relation)."""
    return f"""
{kg_cte_sql(langs)},
onto_entity_nodes AS (
  SELECT curie AS id, name, category, 'ontology' AS provided_by FROM gaz_nodes
),
onto_xref_nodes AS (
  -- nodes for original (pre-normalization) CURIEs; category guessed from
  -- the prefix (transform_utils.py:185-202), name unknown
  SELECT DISTINCT subject_id AS id, CAST(NULL AS VARCHAR) AS name,
         {guess_category_case_sql('subject_id')} AS category,
         'ontology' AS provided_by
  FROM sssom
),
onto_nodes AS (SELECT * FROM onto_entity_nodes UNION ALL SELECT * FROM onto_xref_nodes),
onto_edges AS (
  -- exact-match mapping edges (ontology_transform.py:95-110; the uuid1 edge
  -- id becomes a content hash, SURVEY.md C14)
  SELECT subject_id AS subject, 'biolink:same_as' AS predicate,
         object_id AS object, 'skos:exactMatch' AS relation,
         'ontology' AS provided_by
  FROM sssom
),
all_nodes AS (SELECT * FROM nodes UNION ALL SELECT * FROM onto_nodes),
all_edges AS (SELECT * FROM edges UNION ALL SELECT * FROM onto_edges),
merged_nodes AS (
  SELECT id, min(name) AS name, min(category) AS category,
         string_agg(DISTINCT provided_by, '|' ORDER BY provided_by) AS provided_by
  FROM all_nodes GROUP BY id
),
merged_edges AS (
  SELECT subject, predicate, object, relation,
         string_agg(DISTINCT provided_by, '|' ORDER BY provided_by) AS provided_by
  FROM all_edges GROUP BY subject, predicate, object, relation
)
""".strip()
