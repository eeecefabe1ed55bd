"""Benchmark of the index build and BM25 query engine.

    python3 perfbench/run.py --workload interactive|ingest \\
        --seed N --seconds S --trace 0|1

Run from the repository root.  Inputs come from ``--seed`` only.  The
last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``).  A human-readable report (input
properties, versions, sample counts, first errors) goes to stderr.  All
scratch files live under ``.perfbench_work/`` in the checkout and are
removed at exit; a traced run leaves its spans there as JSON lines.
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
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=["interactive", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if not 0 < args.seconds <= 600:
        ap.error("--seconds must be in (0, 600]")
    return args


def start_session(work: Path, nproc: int):
    """A local[nproc] session whose scratch space stays inside ``work``."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # every JVM (the launcher included) keeps its temp files in the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # Python workers import the engine from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    import tempfile

    tempfile.tempdir = str(tmp)
    from splade_easy_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        cores=nproc,
        shuffle_partitions=nproc,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.local.dir": str(work / "spark-local"),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            # the whole heap is resident from the start, so peak RSS does
            # not swing with how far G1 happened to grow it
            "spark.driver.extraJavaOptions": f"-Xms2g -XX:+AlwaysPreTouch -Dderby.system.home={work}",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it forked)
    to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        spark.stop()
    finally:
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark and removes its scratch data
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    # fail fast, before any set-up, when the engine or its oracle is absent
    import splade_easy_spark  # noqa: F401
    from checks import load_oracle_class, self_test

    oracle_cls = load_oracle_class(ROOT)
    wrong = self_test(oracle_cls)
    if wrong:
        print(f"checker self-test failed: {wrong}", file=sys.stderr)
        return 3

    from splade_easy_spark.config import IndexConfig
    from tracing import Tracer
    from workloads import WORKLOADS, Bench

    nproc = len(os.sched_getaffinity(0))  # what `nproc` prints
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    spark = None
    try:
        tracer = Tracer(enabled=bool(args.trace))
        t0 = time.perf_counter()
        with tracer.span("session.get_spark", "session"):
            spark = start_session(work, nproc)
        session_s = time.perf_counter() - t0
        tracer.spark = spark
        cfg = IndexConfig(
            build_partitions=nproc, term_buckets=16, segment_docs=1 << 14, block_size=128
        )
        b = Bench(spark, cfg, tracer, work, args.seed, args.seconds, bool(args.trace),
                  oracle_cls, nproc, session_s)
        WORKLOADS[args.workload](b)
        import pyspark

        b.report.update({
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
            "nproc": nproc, "master": f"local[{nproc}]", "python": platform.python_version(),
            "pyspark": pyspark.__version__, "jvm": spark.sparkContext._jvm.System.getProperty("java.version"),
            "errors": b.errors,
        })
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    chosen = b.layer if args.trace else b.metrics
    print(json.dumps(b.report, default=str), file=sys.stderr)
    print(json.dumps({
        "correct": b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in sorted(chosen.items())},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
