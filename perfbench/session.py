"""Session start for the benchmark: the package's own ``get_spark``, with
the warehouse and Hadoop scratch kept inside the run's work directory."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from kg_covid_19_spark.session import get_spark


def start_session(work: str) -> SparkSession:
    spark = get_spark(
        app_name="kg-spark-perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.hadoop.hadoop.tmp.dir": os.path.join(work, "hadoop"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark
