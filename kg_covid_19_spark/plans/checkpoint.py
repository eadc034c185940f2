"""Per-partition checkpointing with lineage + metrics (north_rule:
"resumable from checkpoint with per-partition lineage + metrics").

Reference analog: cache-skip downloads (utils/download_utils.py:50-56) and
the per-source transform layout (one output dir per source) — restartable
because completed units are detected and skipped. At 10^12 documents the
unit of restart must be an input partition (an Iceberg partition /
day-of-crawl bucket), not the whole job.

Design:

* the corpus is split into ``n_buckets`` deterministic buckets
  (doc_id % n_buckets — stand-in for Iceberg partition values);
* each bucket runs the full transform (mention detection → triples) and
  lands ``nodes/bucket=<b>`` + ``edges/bucket=<b>`` parquet plus a manifest
  entry ``_manifest/bucket=<b>.json`` with lineage (input rows, output
  rows, content hash, wall time) — written only after the data commit, so
  a crash leaves at most one incomplete bucket with no manifest entry;
* restart skips every bucket that has a manifest entry;
* ``load_result`` unions bucket outputs and applies the merge-stage dedup
  (node fusion on id, edge dedup on the KGX key) — bucket-local results
  are exact shards, so the final dedup is the same tiny aggregation the
  single-shot pipeline runs.

The equality ``checkpointed == single-shot`` is asserted in tests and is
the resumability correctness contract.
"""

from __future__ import annotations

import hashlib
import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.merge import merge_edges, merge_nodes


class CheckpointedKGBuild:
    def __init__(self, sf_dir: str, out_dir: str, n_buckets: int = 8,
                 langs: tuple[str, ...] | None = None):
        self.sf_dir = sf_dir
        self.out_dir = out_dir
        self.n_buckets = n_buckets
        self.langs = langs
        os.makedirs(f"{out_dir}/_manifest", exist_ok=True)

    # -- manifest ----------------------------------------------------------
    def _manifest_path(self, bucket: int) -> str:
        return f"{self.out_dir}/_manifest/bucket={bucket}.json"

    def manifest(self) -> dict[int, dict]:
        out: dict[int, dict] = {}
        for b in range(self.n_buckets):
            p = self._manifest_path(b)
            if os.path.exists(p):
                with open(p) as fh:
                    out[b] = json.load(fh)
        return out

    def completed(self) -> set[int]:
        return {b for b, m in self.manifest().items() if m.get("status") == "complete"}

    # -- execution ---------------------------------------------------------
    def run(self, spark: SparkSession, fail_after: int | None = None) -> dict:
        """Process all incomplete buckets; returns {bucket: manifest_entry}.

        ``fail_after=k`` aborts after k buckets — the crash-injection hook
        used by the resumability test.
        """
        from ..sources.corpus import web_pages  # local import, avoids cycle

        done = self.completed()
        processed = 0
        for b in range(self.n_buckets):
            if b in done:
                continue
            if fail_after is not None and processed >= fail_after:
                raise RuntimeError(f"injected failure after {processed} buckets")
            t0 = time.time()
            pages = web_pages(spark, self.sf_dir, self.langs).filter(
                F.col("doc_id") % self.n_buckets == b
            )
            n_input = pages.count()
            nodes, edges = build_kg_subset(spark, self.sf_dir, self.langs, b,
                                           self.n_buckets)
            nodes.write.mode("overwrite").parquet(f"{self.out_dir}/nodes/bucket={b}")
            edges.write.mode("overwrite").parquet(f"{self.out_dir}/edges/bucket={b}")
            # content hash = lineage fingerprint of this partition's output
            back = spark.read.parquet(f"{self.out_dir}/edges/bucket={b}")
            rows = sorted(
                "|".join("" if v is None else str(v) for v in r) for r in back.collect()
            )
            h = hashlib.sha256()
            for r in rows:
                h.update(r.encode())
                h.update(b"\n")
            entry = {
                "bucket": b,
                "status": "complete",
                "input_rows": n_input,
                "n_nodes": spark.read.parquet(
                    f"{self.out_dir}/nodes/bucket={b}"
                ).count(),
                "n_edges": len(rows),
                "content_hash": h.hexdigest()[:16],
                "wall_sec": round(time.time() - t0, 3),
            }
            tmp = self._manifest_path(b) + ".tmp"
            with open(tmp, "w") as fh:
                json.dump(entry, fh)
            os.replace(tmp, self._manifest_path(b))  # atomic commit
            processed += 1
        return self.manifest()

    def load_result(self, spark: SparkSession) -> tuple[DataFrame, DataFrame]:
        nodes = spark.read.parquet(f"{self.out_dir}/nodes")
        edges = spark.read.parquet(f"{self.out_dir}/edges")
        merged_nodes = merge_nodes([nodes.select("id", "name", "category",
                                                 "provided_by")])
        merged_edges = merge_edges([edges.select("subject", "predicate", "object",
                                                 "relation", "provided_by")])
        # bucket shards carry single-source provenance; fusion re-collapses
        return merged_nodes, merged_edges


def build_kg_subset(spark: SparkSession, sf_dir: str,
                    langs: tuple[str, ...] | None,
                    bucket: int, n_buckets: int):
    """build_kg restricted to one doc bucket (filter pushed to the scan)."""
    from ..plans import pipeline as P

    pm = P.pages_with_mentions(spark, sf_dir, langs).filter(
        F.col("doc_id") % n_buckets == bucket
    )
    doc_curie = F.concat(F.lit("CORD:"), F.col("doc_id").cast("string"))
    pub_nodes = pm.select(
        doc_curie.alias("id"),
        F.concat(F.lit("Document "), F.col("doc_id").cast("string")).alias("name"),
        F.lit("biolink:Publication").alias("category"),
        F.lit("documents").alias("provided_by"),
    )
    mentions = (
        pm.select("doc_id", F.explode_outer("curies").alias("curie"))
        .filter(F.col("curie").isNotNull())
    )
    term_nodes = (
        mentions.select("curie").distinct()
        .join(F.broadcast(P.gazetteer_nodes(spark)), "curie")
        .select(F.col("curie").alias("id"), "name", "category",
                F.lit("documents").alias("provided_by"))
    )
    mention_edges = mentions.select(
        doc_curie.alias("subject"),
        F.lit("biolink:mentions").alias("predicate"),
        F.col("curie").alias("object"),
        F.lit("SIO:000255").alias("relation"),
        F.lit("documents").alias("provided_by"),
    )
    cooc_edges = P.cooc_pairs(pm).dropDuplicates(["subject", "object"]).select(
        "subject",
        F.lit("biolink:correlated_with").alias("predicate"),
        "object",
        F.lit("RO:0002610").alias("relation"),
        F.lit("documents").alias("provided_by"),
    )
    return term_nodes.unionByName(pub_nodes), mention_edges.unionByName(cooc_edges)
