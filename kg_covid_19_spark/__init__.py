"""kg_covid_19_spark — a PySpark-native knowledge-graph construction engine.

A from-scratch re-expression of the capabilities of
Knowledge-Graph-Hub/kg-covid-19 (reference at /root/reference, studied in
SURVEY.md) as an idiomatic Spark DataFrame pipeline:

  web pages (url, warc_ts, html, text, lang)
    → byte-identical text extraction (Arrow pandas UDF)
    → gazetteer mention detection (token equality against a term → curie
      map literal, a native expression; reference analog: SciBite termite hits,
      kg_covid_19/transform_utils/scibite_cord/scibite_cord.py:141-232)
    → triple extraction (biolink:mentions + biolink:correlated_with edges;
      scibite_cord.py:220-340)
    → entity linking / CURIE normalization (broadcast SSSOM-style left join
      + coalesce; utils/normalize_utils.py:7-46)
    → canonicalization (groupBy node fusion, prefix-priority;
      merge_utils/merge_kg.py:22-34)
    → KGX node/edge DataFrames typed against the Biolink model.

Mentions and triples are native column expressions, so the build path
runs no Python; the html→text kernel (only for raw-html corpora) and the
curation operators are Arrow-vectorized pandas UDFs — no per-row Python
anywhere.
"""

__version__ = "0.1.0"
