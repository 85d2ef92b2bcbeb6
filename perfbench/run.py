"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload pk_upsert --seed 1 --seconds 20 --trace 0

Each invocation runs one workload in its own process, so ``setup_s``
includes starting the Spark session. Inputs come from ``--seed`` alone. The
last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The line before it
gives every op type's median and tail with its sample count.

Everything the run writes (tables, Spark scratch, temp files) stays under
``.bench_work/`` in the working directory; the run's own directory is
removed at exit, and the spans of a traced run are kept in
``.bench_work/spans/``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shlex
import shutil
import sys

WORKLOADS = ("pk_upsert", "scan_serve", "corpus_dedup")
DRIVER_MEMORY = "2g"  # well below host RAM; the engine's default is 16g


def _isolate(work: str) -> None:
    """Point every temp and scratch location of Python, the JVM and Spark
    into ``work`` and make the engine importable by the Python workers."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    root = os.getcwd()
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        # the short-lived JVM that spark-submit starts to build its command
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_SUBMIT_ARGS": shlex.join([
            "--conf", "spark.ui.showConsoleProgress=false",
            "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'spark-warehouse')}",
            # no hsperfdata files in the system temp directory
            "--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "pyspark-shell",
        ]),
    })
    sys.path.insert(0, root)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    base = os.path.join(os.getcwd(), ".bench_work")
    work = os.path.join(base, f"{args.workload}-{os.getpid()}")
    _isolate(work)
    try:
        import incubator_paimon_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine package is not importable here: {e}",
              file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 2

    from harness import Bench
    from incubator_paimon_spark import Catalog

    workload = importlib.import_module(args.workload)
    b = Bench(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        b.start_session()
        try:
            extra = workload.run(b, Catalog(os.path.join(work, "warehouse")))
            metrics = b.result(extra)
            summary = b.summary()
        finally:
            b.stop_session()
            b.phase("session stopped")
        if b.trace:
            os.makedirs(os.path.join(base, "spans"), exist_ok=True)
            b.tracer.dump(os.path.join(
                base, "spans", f"{args.workload}-seed{args.seed}.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    print("perfbench summary: " + json.dumps(summary, sort_keys=True))
    print(json.dumps({"correct": b.failed == 0, "attempted": b.attempted,
                      "failed": b.failed, "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
