"""SparkSession factory with scale-appropriate defaults.

The configs below are the ones that matter at 100 TB and cost nothing at
test scale:

* AQE on (runtime re-planning, skew-join splitting, partition coalescing)
  — the reference handles skew not at all (single process); we handle it
  with AQE plus explicit salting in the canonicalization groupBy
  (operators/merge.py).
* Arrow execution for pandas UDFs — every custom kernel in this engine is
  Arrow-batched; row-at-a-time Python UDFs are banned. Driver-side
  constant frames (gazetteer, SSSOM map, offsets) cross to the JVM as
  Arrow tables too (``sources.corpus.local_frame``), so they plan as
  ``LocalRelation``s and no job starts Python workers to read them.
* UTC session timezone — required for DuckDB-oracle comparability and, at
  scale, for deterministic partition pruning on timestamp columns.
* shuffle.partitions is a knob: ~cores locally, thousands on a cluster.
"""

from __future__ import annotations

import atexit
import contextlib
import os
import zipfile

from pyspark.sql import SparkSession


def _zip_path() -> str:
    return os.path.join("/tmp", f"kg_covid_19_spark-{os.getpid()}.zip")


@atexit.register
def _remove_zip() -> None:
    # per-pid path: a forked child that inherits this handler removes
    # only a zip it built itself
    with contextlib.suppress(FileNotFoundError):
        os.remove(_zip_path())


def package_zip() -> str:
    """Zip this package for worker shipping (the spark-submit --py-files
    artifact, north_rule). Rebuilt per session start; a few hundred KB
    (every .py file of the package). Removed at interpreter exit."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    out = _zip_path()
    with zipfile.ZipFile(out, "w") as zf:
        for dirpath, _dirs, files in os.walk(pkg_dir):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(dirpath, f)
                    zf.write(full, os.path.relpath(full, root))
    return out


def get_spark(
    app_name: str = "kg_covid_19_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # local[N] → N; a real cluster should set this explicitly
        # (rule of thumb: 2-3× total executor cores, or rely on AQE coalesce).
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else "32"
        shuffle_partitions = int(cpus) if n == "*" else int(n)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE re-plan INSIDE cached plans (off by default): without
        # it every persisted artifact pins its un-coalesced shuffle
        # partitioning and each downstream scan pays a task per
        # partition (r7, guide §2.2: fewer, larger partitions — sized
        # by AQE from bytes, so correct at any scale)
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Broadcast threshold: our dictionaries (gazetteer, SSSOM map) are
        # a few MB even for full ontologies; keep the default 10 MB and use
        # explicit broadcast() hints where we know the build side.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # ship the package to executor Python workers — on a cluster this is
    # `spark-submit --py-files kg_covid_19_spark.zip`; addPyFile is the
    # session-scoped equivalent and makes UDF closures importable no
    # matter the caller's working directory.
    spark.sparkContext.addPyFile(package_zip())
    return spark
