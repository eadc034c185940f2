"""kg-spark benchmark: one workload, one seed, one JSON result line.

Run from the root of a checkout:

    python3 perfbench/run.py --workload build --seed 1 --seconds 15 --trace 0

Workloads (see perfbench/workloads.py): ``build`` (a delta lands, then
the full corpus-to-KGX chain runs) and ``serve`` (four clients querying
one materialized graph). Inputs are generated from ``--seed`` under
``.perfbench/`` in the checkout; the package only receives the generated
files.

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a traced run and writes its span file. Lines before the last
one are a human-readable report; the last line is the JSON result,
printed once the Spark JVM and every other process the run started have
ended. Any wrong answer makes the command exit 1.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("build", "serve")


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny", "sf1"), default="full",
                   help="input sizes: 'tiny' is for the smoke test, "
                   "'sf1' the sf1 replica scale")
    return p.parse_args(argv)


def pin_environment(work: str) -> dict[str, str]:
    """Pin parallelism to this host's CPUs and keep every file the run
    writes (Spark scratch, JVM and Python temp files) inside ``work``."""
    nproc = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    )
    return {"nproc": str(nproc)}


def _exit_on_signal(signum, _frame):
    # unwinds through ``main``'s finally, which stops the JVM and workers
    sys.exit(128 + signum)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import kg_covid_19_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the package: {exc}", file=sys.stderr)
        return 2
    from perfbench import procs

    signal.signal(signal.SIGTERM, _exit_on_signal)
    procs.adopt_orphans()
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        result = measure(args, work)
    finally:
        killed = procs.stop_all()
        # ``get_spark`` zips the package into /tmp under this process's id
        zip_path = f"/tmp/kg_covid_19_spark-{os.getpid()}.zip"
        if os.path.exists(zip_path):
            os.remove(zip_path)
        shutil.rmtree(work, ignore_errors=True)
    if killed:
        print(f"killed {len(killed)} processes still running after the "
              "session stopped")
    print(json.dumps({
        "correct": result.failed == 0,
        "attempted": result.attempted,
        "failed": result.failed,
        "metrics": {
            name: {"value": value, "unit": unit}
            for name, (value, unit) in result.metrics.items()
        },
    }))
    return 0 if result.failed == 0 else 1


def measure(args: argparse.Namespace, work: str):
    """Run the workload and print the report; returns its result."""
    env = pin_environment(work)

    import duckdb
    import pyspark

    from perfbench import workloads

    env.update(
        python=platform.python_version(), pyspark=pyspark.__version__,
        duckdb=duckdb.__version__,
    )
    print("env " + " ".join(f"{k}={v}" for k, v in env.items()))
    t0 = time.perf_counter()
    result = workloads.run(args, work)
    print(f"wall_s {time.perf_counter() - t0:.1f}")
    for line in result.report:
        print(line)
    return result


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
