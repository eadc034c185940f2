"""Session factory hygiene (session.py)."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHILD = """
import os
from kg_covid_19_spark.session import get_spark

spark = get_spark(app_name="zip-cleanup", master="local[1]")
zip_path = f"/tmp/kg_covid_19_spark-{os.getpid()}.zip"
print(os.getpid(), os.path.exists(zip_path))
spark.stop()
"""


def test_worker_zip_removed_at_exit():
    out = subprocess.run(
        [sys.executable, "-c", CHILD], cwd=REPO, capture_output=True,
        text=True, check=True, timeout=300,
    )
    pid, existed = out.stdout.split()[-2:]
    assert existed == "True"  # shipped while the session ran
    assert not os.path.exists(f"/tmp/kg_covid_19_spark-{pid}.zip")
