"""Cross-JVM determinism probe (north-rule invariant: same input ⇒
byte-identical output at any parallelism).

Runs the FULL KG build in two fresh Spark JVMs — local[8] and
local[32] — and compares sha256 over the sorted node and edge rows of
``build_kg`` and of the merged graph (``get_merged``).
Stronger than the in-session repartition tests (tests/test_mentions.py,
tests/test_reference_parity.py): a fresh JVM also re-derives broadcast
dictionaries, Arrow batching boundaries, and shuffle partitioning from
scratch, so any hidden order- or environment-dependence shows up here.

Usage: python tools/determinism.py [sf_dir] → one JSON line; exit 1 on
mismatch.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHILD = r"""
import hashlib, json, sys
sys.path.insert(0, {repo!r})
from kg_covid_19_spark.session import get_spark
from kg_covid_19_spark.plans.merged import get_merged
from kg_covid_19_spark.plans.pipeline import build_kg

cores = {cores}
spark = get_spark(app_name=f"determinism-{{cores}}",
                  master=f"local[{{cores}}]", shuffle_partitions=cores)
nodes, edges = build_kg(spark, {sf_dir!r})
merged_nodes, merged_edges = get_merged(spark, {sf_dir!r})

def digest(df):
    h = hashlib.sha256()
    for row in sorted("\x1f".join("" if v is None else str(v) for v in r)
                      for r in df.collect()):
        h.update(row.encode())
        h.update(b"\n")
    return h.hexdigest()

print(json.dumps({{"cores": cores, "nodes": digest(nodes),
                   "edges": digest(edges),
                   "merged_nodes": digest(merged_nodes),
                   "merged_edges": digest(merged_edges)}}))
spark.stop()
"""


def run(cores: int, sf_dir: str) -> dict:
    out = subprocess.run(
        [sys.executable, "-c", CHILD.format(repo=REPO, cores=cores,
                                            sf_dir=sf_dir)],
        capture_output=True, text=True, check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    a, b = run(8, sf_dir), run(32, sf_dir)
    match = all(a[k] == b[k] for k in
                ("nodes", "edges", "merged_nodes", "merged_edges"))
    print(json.dumps({"sf_dir": sf_dir, "local8": a, "local32": b,
                      "match": match}))
    sys.exit(0 if match else 1)


if __name__ == "__main__":
    main()
