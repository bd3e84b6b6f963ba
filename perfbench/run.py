"""Benchmark of record for the rag_vector_database_spark package.

    python3 perfbench/run.py --workload rag_turns --seed 1 --seconds 10 \
        --trace 0

Run from the root of a source checkout. One invocation generates the
workload's inputs from the seed, starts Spark on ``local[<cores>]``,
warms up, times session set-up several times, measures for ``--seconds``
(tracing off), checks every output against the Python oracles, and
prints one JSON line with the gated end-to-end metrics. ``--trace 1`` then
measures again with spans around every layer call and prints the
per-layer metrics instead (plus the tracing overhead); the spans are
written to ``.perfbench_work/traces/``. The line before the last holds
the workload's named metrics and the run's provenance.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import math
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

from tracing import NullTracer, Tracer
from workloads import WORKLOADS, tree_cpu_s

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 5
HEAP = "2g"

END_TO_END = {"setup_s": "s", "op_cpu_ms": "ms"}
PER_LAYER = {
    "session.start_s": "s",
    "embedding.query_ms": "ms",
    "embedding.chunks_per_s": "1/s",
    "chunking.chunk_s": "s",
    "chunking.chunks_per_doc": "count",
    "retrieval.knn_ms": "ms",
    "retrieval.funnel_ms": "ms",
    "retrieval.direct_ms": "ms",
    "retrieval.score_stats_ms": "ms",
    "retrieval.knn_batch_s": "s",
    "retrieval.scored_pairs_per_s": "1/s",
    "retrieval.rows_scanned_per_result": "count",
    "conversation.ask_new_ms": "ms",
    "conversation.ask_followup_ms": "ms",
    "conversation.followup_embedding_scans": "count",
    "ingest.append_s": "s",
    "ingest.rows_added_ratio": "ratio",
    "ingest.files_written": "count",
    "ingest.bytes_written": "B",
    "dedup.exact_s": "s",
    "dedup.minhash_s": "s",
    "dedup.components_s": "s",
    "dedup.lsh_candidates": "count",
    "dedup.verified_pairs": "count",
    "dedup.lsh_precision": "ratio",
    "cli.turn_glue_ms": "ms",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "driver.build_ms": "ms",
    "spark.executor_run_s": "s",
    "spark.scheduler_wait_s": "s",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "trace.overhead_ms": "ms",
}


def cores() -> int:
    return len(os.sched_getaffinity(0))


class Session:
    """The workload's SparkSession; restartable inside one JVM so
    set-up can be timed several times per run."""

    def __init__(self, work: str, traced: bool):
        n = cores()
        # compiler threads must outlive the run for tree_cpu_s to
        # subtract their CPU time
        java_opts = (f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData "
                     f"-XX:-UseDynamicNumberOfCompilerThreads")
        self.conf = {
            "spark.sql.shuffle.partitions": str(n),
            "spark.driver.memory": HEAP,
            "spark.driver.extraJavaOptions": java_opts,
            "spark.local.dir": f"{work}/spark-local",
            "spark.sql.warehouse.dir": f"{work}/warehouse",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.enabled": "true" if traced else "false",
        }
        if traced:  # keep every job/stage/task for the REST API
            self.conf.update({"spark.ui.port": "0",
                              "spark.ui.retainedJobs": "1000000",
                              "spark.ui.retainedStages": "1000000",
                              "spark.ui.retainedTasks": "10000000"})
        self.master = f"local[{n}]"
        self.spark = None
        self.started_at = self.started_cpu = 0.0

    def start(self) -> tuple[float, float]:
        """Start the session; returns (wall s, CPU s) it took."""
        from rag_vector_database_spark.session import get_spark
        self.started_at = time.perf_counter()
        self.started_cpu = tree_cpu_s()
        self.spark = get_spark("perfbench", master=self.master,
                               extra_conf=self.conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.since_start()

    def since_start(self) -> tuple[float, float]:
        """(wall s, CPU s) since the session started."""
        return (time.perf_counter() - self.started_at,
                tree_cpu_s() - self.started_cpu)

    def restart(self) -> tuple[float, float]:
        from rag_vector_database_spark.operators import dedup
        dedup.release_caches()
        self.spark.stop()
        return self.start()

    def peak_rss_mb(self) -> float:
        """Peak resident memory of this driver process plus the JVM."""
        jvm = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        return (_vm_hwm_kb("self") + _vm_hwm_kb(str(jvm))) / 1024.0

    def provenance(self) -> dict:
        jvm = self.spark._jvm.java.lang.System
        return {"cores": cores(), "master": self.master,
                "shuffle_partitions":
                    self.conf["spark.sql.shuffle.partitions"],
                "spark": self.spark.version,
                "java": jvm.getProperty("java.version"),
                "python": platform.python_version()}

    def stop(self) -> None:
        """Stop Spark and the JVM it launched, and wait for the JVM."""
        from pyspark import SparkContext
        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def _vm_hwm_kb(pid: str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def source_provenance() -> dict:
    """Commit when the checkout is a git repository, and always a
    digest of the package sources (the benchmark checkout is not)."""
    h = hashlib.sha256()
    for p in sorted(glob.glob(os.path.join(
            ROOT, "rag_vector_database_spark", "**", "*.py"),
            recursive=True)):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    try:
        commit = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
            text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.TimeoutExpired):
        commit = None
    return {"commit": commit, "source_sha256": h.hexdigest()[:16]}


def measured(ops) -> list:
    """Operations that ran to the end (a raised one has no latency)."""
    return [op for op in ops if math.isfinite(op["latency_s"])]


def prepare_env(work: str) -> None:
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_LOCAL_IP"] = "127.0.0.1"
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData")
    os.environ["PYSPARK_PYTHON"] = sys.executable


def import_package():
    """Import the package from this checkout, never from elsewhere."""
    sys.path.insert(0, ROOT)
    import rag_vector_database_spark as pkg
    if not os.path.abspath(pkg.__file__).startswith(ROOT + os.sep):
        raise SystemExit(f"package imported from {pkg.__file__}, "
                         f"not from the checkout at {ROOT}")


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T0:6.1f}s] {msg}",
          file=sys.stderr, flush=True)


T0 = time.perf_counter()


def main(argv=None) -> int:

    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    import_package()
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    prepare_env(work)

    wl = WORKLOADS[args.workload](work, args.seed)
    wl.generate()
    log("inputs generated")
    session = Session(work, traced=bool(args.trace))
    try:
        jvm_s, _ = session.start()
        log("JVM and session started")
        wl.warmup(session.spark)
        log("warm-up done")
        setup = [wl.setup(session) for _ in range(SETUP_REPS)]
        log("set-up timed")
        spark = session.spark
        ops = wl.measure(spark, NullTracer(), args.seconds)
        log(f"measured {len(ops)} ops")
        traced_ops = []
        if args.trace:
            tracer = Tracer(spark.sparkContext)
            wl.instrument(tracer)
            try:
                traced_ops = wl.measure(spark, tracer, args.seconds)
            finally:
                tracer.unwrap_all()
            log(f"measured {len(traced_ops)} traced ops")
            tracer.attach_spark_metrics()
            log("Spark metrics read")
            os.makedirs(os.path.join(base, "traces"), exist_ok=True)
            tracer.write(os.path.join(
                base, "traces", f"{args.workload}-{args.seed}.json"))
            layers = dict.fromkeys(PER_LAYER, 0.0)
            layers.update(wl.layers(tracer, traced_ops))
            layers["session.start_s"] = statistics.median(
                cpu for (_, cpu), _ in setup)
        peak_rss_mb = session.peak_rss_mb()
        all_ops = ops + traced_ops
        wl.check(spark, all_ops)
        log("outputs checked")
        detail = wl.detail(measured(ops))
        e2e = {"setup_s": statistics.median(cpu for _, (_, cpu) in setup),
               "op_cpu_ms": detail[wl.op_cpu_metric]}
        detail["setup_wall_s"] = statistics.median(
            wall for _, (wall, _) in setup)
        if args.trace:
            traced = wl.detail(measured(traced_ops))[wl.op_cpu_metric]
            layers["trace.overhead_ms"] = traced - e2e["op_cpu_ms"]
        prov = {**session.provenance(), **source_provenance(),
                "seed": args.seed, "seconds": args.seconds,
                "jvm_launch_s": jvm_s}
    finally:
        session.stop()
    shutil.rmtree(work, ignore_errors=True)
    log("stopped")

    failed = [op for op in all_ops if not op["ok"]]
    for op in failed[:10]:
        print(f"FAILED {op['kind']} #{op['request']}: {op.get('why')}",
              file=sys.stderr)
    detail.update(setup_s=e2e["setup_s"], peak_rss_mb=peak_rss_mb,
                  failed_ops_ratio=len(failed) / len(all_ops))
    print(json.dumps({"workload": args.workload, "detail": detail,
                      "provenance": prov}))
    if args.trace:
        metrics = {k: {"value": layers[k], "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u}
                   for k, u in END_TO_END.items()}
    print(json.dumps({"correct": not failed, "attempted": len(all_ops),
                      "failed": len(failed), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
