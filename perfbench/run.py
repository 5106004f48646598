"""Benchmark entry point: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload build|search|ingest --seed N \\
        --seconds S --trace 0|1

Run from the root of a checkout. Inputs are generated from the seed under
``.perfbench_work/`` in the checkout, which the run removes when it ends;
traced runs keep their span file under ``.perfbench_work/traces/``.
The last line of standard output is
``{"correct", "attempted", "failed", "metrics"}``: end-to-end metrics
with ``--trace 0``, per-layer metrics with ``--trace 1``. A summary goes
to standard error.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "side_p50_s": "s",
    "ops_per_s": "1/s",
}
PER_LAYER = {
    "session.get_spark_s": "s",
    "session.peak_rss_mb": "MB",
    "sources.text.scan_s": "s",
    "sources.text.lines": "count",
    "functions.textprep.prepare_tokens_s": "s",
    "functions.textprep.tokens_raw": "count",
    "functions.textprep.tokens_accepted": "count",
    "functions.textprep.accept_ratio": "ratio",
    "operators.index.term_doc_counts_s": "s",
    "operators.index.postings_s": "s",
    "operators.index.term_doc_pairs": "count",
    "operators.index.terms": "count",
    "operators.index.shuffle_bytes": "bytes",
    "operators.index.partial_agg_ratio": "ratio",
    "sources.sinks.sink_text_s": "s",
    "sources.sinks.bytes_written": "bytes",
    "sources.sinks.files_written": "count",
    "operators.retrieval.build_term_index_s": "s",
    "operators.retrieval.plan_s": "s",
    "operators.retrieval.exec_s": "s",
    "operators.retrieval.jobs_per_query": "count",
    "operators.retrieval.tasks_per_query": "count",
    "operators.retrieval.rows_scanned_per_result": "ratio",
    "operators.retrieval.buckets_read": "count",
    "operators.retrieval.batch_exec_s": "s",
    "streaming.index_maintenance.maintain_s": "s",
    "streaming.index_maintenance.jobs_per_batch": "count",
    "streaming.index_maintenance.read_s": "s",
    "streaming.index_maintenance.compact_s": "s",
    "streaming.index_maintenance.tier_files": "count",
    "streaming.index_maintenance.tier_bytes_per_live_byte": "ratio",
    "trace.overhead_frac": "ratio",
}


def _hwm_mb(pid) -> float:
    """Resident-set high-water mark of a process, from /proc."""
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def start_spark(work: str, cpus: int):
    """A session sized to this machine, with every scratch directory inside
    the run's work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # nor for the JVM that spark-submit starts to build the command line
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    from hadoop_invertedindexer_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=2 * cpus,
        extra_conf={
            # A fixed-size heap and the throughput collector: with a 1 GB
            # growing heap, builds of the 16 MB corpus ran 15-25% slower
            # and varied more between runs.
            "spark.driver.memory": "2g",
            # no hsperfdata file: a JVM writes it under /tmp whatever its tmpdir
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms2g -XX:+UseParallelGC",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def execute(args, work: str) -> dict:
    import spans
    import workloads

    cpus = len(os.sched_getaffinity(0))
    tracer = spans.Tracer(enabled=bool(args.trace))
    t = time.perf_counter()
    spark = start_spark(work, cpus)
    session_s = time.perf_counter() - t
    try:
        spark.sparkContext.setLogLevel("ERROR")
        run = workloads.Run(spark, work, args.seed, args.seconds, tracer)
        workloads.WORKLOADS[args.workload](run)
        rss = _hwm_mb(os.getpid()) + _hwm_mb(spark.sparkContext._gateway.proc.pid)
    finally:
        stop_spark(spark)

    summary = {"workload": args.workload, "seed": args.seed, "cpus": cpus,
               "session_s": session_s, "loop_s": run.loop_s, "peak_rss_mb": rss,
               "samples": {k: [round(x, 3) for x in v] for k, v in run.samples.items()},
               **run.info}
    print("perfbench: " + json.dumps(summary, default=str), file=sys.stderr)

    if args.trace:
        traces = os.path.join(ROOT, ".perfbench_work", "traces")
        os.makedirs(traces, exist_ok=True)
        tracer.write(os.path.join(traces, f"{args.workload}-s{args.seed}-{tracer.run_id}.json"))
        layers = {k: statistics.median(v) for k, v in run.layers.items()}
        layers["session.get_spark_s"] = session_s
        layers["session.peak_rss_mb"] = rss
        traced, plain = run.samples.get("op_traced"), run.samples.get("op")
        layers["trace.overhead_frac"] = (
            statistics.median(traced) / statistics.median(plain) - 1 if traced and plain else 0.0)
        missing = sorted(set(PER_LAYER) - set(layers))
        if missing:
            raise RuntimeError(f"traced run measured no value for {missing}")
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        values = {
            "setup_s": session_s + run.setup_s,
            "op_p50_s": statistics.median(run.samples["op"]),
            "side_p50_s": statistics.median(run.samples["side"]),
            "ops_per_s": run.ops_per_s,
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    return {"correct": run.failed == 0, "attempted": run.attempted,
            "failed": run.failed, "metrics": metrics}


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=["build", "search", "ingest"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args()

    sys.path.insert(1, ROOT)
    try:
        import hadoop_invertedindexer_spark
    except ImportError as e:
        print(f"perfbench: the program is not in this checkout: {e}", file=sys.stderr)
        return 2
    if not os.path.abspath(hadoop_invertedindexer_spark.__file__).startswith(ROOT + os.sep):
        print("perfbench: the program was imported from outside this checkout", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        result = execute(args, work)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
