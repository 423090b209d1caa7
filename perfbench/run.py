"""Benchmark entry point.

    python3 perfbench/run.py --workload rag_query_ingest --seed 1 --seconds 15 --trace 0

Run from the repository root.  Prints one line per metric and, as the
last line of stdout, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics of BENCHMARK.json with
``--trace 0``, its per-layer metrics with ``--trace 1``.  A ``# detail``
line before it carries the per-op job log and sample counts.

Steadiness measures (each from a measured failure of an earlier attempt):

- a fresh process and a fresh Spark session per run, so no run inherits
  another's JIT state, shuffle files or cached plans;
- Spark gets fewer task slots than the machine has cores (3 on 4), so the
  Spark driver, the Python workers and the OS do not steal from running tasks;
- set-up runs ``SETUP_REPS`` times and reports the median, and an untimed
  warm-up of the same operations precedes the measured phase (the first
  requests of a fresh JVM run several times slower than later ones);
- the measured phase is whole cycles of a fixed operation mix, so every run
  measures the same mix; every read latency has several samples spread
  over the cycle, and medians are taken per route, never over
  operation kinds with different costs (except /query's two degrees, whose
  3:1 mix keeps the median in the degree-1 mode);
- the Spark driver's heap starts at its full size (``-Xms`` equal to the
  driver memory), so garbage collection does not change pace as the heap
  grows during a run;
- byte metrics come from sizes of committed files, not from /proc I/O
  counters, which count page-cache and temp-file traffic.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def declared_metrics(trace: bool) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def start_spark(work: str):
    from vector_graph_rag_spark.session import get_spark

    slots = max(1, min(3, (os.cpu_count() or 4) - 1))
    spark = get_spark(
        app_name="perfbench",
        cpus=slots,
        extra_conf={
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.memory": "2g",
            "spark.driver.extraJavaOptions": "-Xms2g",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its workers) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        spark.stop()
    finally:
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import vector_graph_rag_spark.api.app  # noqa: F401  (the program under test)

        import workloads
    except ImportError as e:
        print(f"perfbench: cannot import the program from {ROOT}: {e}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    units = declared_metrics(bool(args.trace))

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ.update(
        # every JVM (Spark's launcher and its driver) keeps its temp files in the work dir
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        TMPDIR=os.path.join(work, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        PYSPARK_PYTHON=sys.executable,
        OMP_NUM_THREADS="1",
        OPENBLAS_NUM_THREADS="1",
    )
    spark = None
    try:
        spark = start_spark(work)
        res = workloads.WORKLOADS[args.workload](spark, args.seed, args.seconds, bool(args.trace), work)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    got = res["per_layer" if args.trace else "end_to_end"]
    if set(got) != set(units):
        print(f"perfbench: metrics {sorted(set(got) ^ set(units))} differ from BENCHMARK.json",
              file=sys.stderr)
        return 1
    for name in units:
        print(f"{name:56s} {got[name]:.6g} {units[name]}")
    print(f"{'error_ratio':56s} {res['error_ratio']:.6g} ratio")
    print("# detail " + json.dumps({k: res[k] for k in ("inputs_sha", "deterministic", "op_log", "samples", "latencies", "phases", "host_steal_share")}))
    print(json.dumps({
        "correct": res["correct"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {n: {"value": float(got[n]), "unit": units[n]} for n in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
