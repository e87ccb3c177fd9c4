"""Benchmark of record for the engine: API read/write latency and batch-job
throughput over seeded inputs.

Run from the repository root:

    python3 perfbench/run.py --workload api --seed 1 --seconds 11 --trace 0

Workloads are ``api`` and ``batch`` (see README.md).
The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones.
The exit code is non-zero when any output check failed or the engine is
missing. Scratch files go to ``.perfbench_work/`` under the current
directory and are removed at exit; traced runs leave their spans in
``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

WORKLOADS = ("api", "batch")


# Driver heap: 3 GB rather than the engine's 8 GB default keeps the run
# small on a shared machine. The heap is fixed and touched at JVM launch: on
# a virtual machine that hands freed memory back to its host, a heap that
# grows during the measured window faults its pages in from the host, at a
# cost that depends on what ran on the machine before.
DRIVER_MEM = "3g"


def spark_conf(work: str) -> str:
    """A Spark config dir that keeps every scratch file under ``work``, fixes
    and pre-touches the driver heap, and retains enough job history for the
    traced run."""
    conf = os.path.join(work, "conf")
    tmp = os.path.join(work, "tmp")
    for d in (conf, tmp, os.path.join(work, "local")):
        os.makedirs(d, exist_ok=True)
    with open(os.path.join(conf, "spark-defaults.conf"), "w") as f:
        f.write(f"spark.local.dir {work}/local\n"
                f"spark.sql.warehouse.dir {work}/warehouse\n"
                f"spark.driver.extraJavaOptions -Djava.io.tmpdir={tmp} "
                f"-XX:-UsePerfData -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch\n"
                "spark.ui.showConsoleProgress false\n"
                "spark.ui.retainedJobs 100000\n"
                "spark.ui.retainedStages 100000\n")
    return conf


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    sys.path.insert(0, root)
    try:
        import thewhisperdb_spark.api  # noqa: F401 — the engine under test
    except ImportError as e:
        print(f"perfbench: engine not found under {root}: {e}", file=sys.stderr)
        return 2

    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.environ["SPARK_CONF_DIR"] = spark_conf(work)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData")
    # fixed, so the caller's shell cannot change GC and spill figures
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM

    import metrics
    from workloads import Run

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), work,
              os.path.join(root, ".perfbench_out"))
    try:
        e2e, layer = run.execute()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    values, units = (layer, metrics.PER_LAYER) if args.trace else (e2e, metrics.END_TO_END)
    for msg in run.failures:
        print(f"perfbench: check failed: {msg}", file=sys.stderr)
    correct = run.failed == 0 and run.attempted > 0
    print(json.dumps({
        "correct": correct,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {name: {"value": float(values.get(name, 0.0)), "unit": unit}
                    for name, unit in units.items()},
    }), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
