"""Benchmark entry point: one workload, one seed, one fresh Spark JVM.

    python3 perfbench/run.py --workload db_diff --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Set-up (session start, input generation
and staging, store seeding, warm-up) is followed by a closed loop with one
client that runs ops for ``--seconds``; every op's output is checked
against the truth planted by the generator. The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` — the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. The line before it is a human-readable
summary (sizes, op_p90_s where the sample supports it, failed_op_ratio).

Everything the run writes lives under ``.perfbench_work/`` in the
checkout and is removed at the end, except the traced run's span file
``.perfbench_work/trace-<workload>-seed<n>.json``.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: fewest ops a timed phase runs, however long they take: three, so
#: that the median can drop one slow op; an ingest op takes about 11 s,
#: and the run budget fits only two of those
MIN_OPS = {"db_diff": 3, "dedup_ingest": 2}

END_TO_END = {"setup_s": "s", "op_p50_s": "s", "items_per_s": "1/s", "cpu_s_per_op": "s"}

PER_LAYER = {
    "session.start_s": "s",
    "proc.peak_rss_mb": "MB",
    "trace.overhead_s": "s",
    "snapshot.read_s": "s", "snapshot.rows": "count",
    "diff.core.s": "s", "diff.core.findings": "count", "diff.core.jobs": "count",
    "diff.core.tasks": "count", "diff.core.shuffle_bytes": "B",
    "report.group_s": "s", "report.write_s": "s", "report.collect_rows": "count",
    "report.json_bytes": "B",
    "datadiff.s": "s", "datadiff.rows_out": "count", "datadiff.shuffle_bytes": "B",
    "datadiff.tasks": "count", "io.input_bytes": "B", "io.output_bytes": "B",
    "sigstore.pairs_s": "s", "sigstore.pairs": "count", "sigstore.append_s": "s",
    "sigstore.store_files": "count",
    "graph.rejects_s": "s", "graph.rejected": "count",
    "annindex.pairs_s": "s", "annindex.candidate_rows": "count",
    "annindex.verify_yield": "ratio", "annindex.append_s": "s",
    "annindex.store_files": "count",
    "streaming.trigger_s": "s", "streaming.add_batch_s": "s",
    "streaming.planning_s": "s", "streaming.wal_s": "s", "streaming.overhead_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.executor_run_s": "s", "spark.gc_s": "s", "spark.shuffle_write_bytes": "B",
    "spark.single_task_share": "ratio",
}


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["db_diff", "dedup_ingest"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def _isolate(work: str, nproc: int, trace: bool) -> None:
    """One JVM sized to this machine, with every file it writes kept
    under ``work``: session.py reads SPARK_GRAFT_CPUS (default 32) and
    SPARK_GRAFT_UI; spark-warehouse and metastore_db land in the cwd."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_GRAFT_UI"] = "1" if trace else "0"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "3g"
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.local.dir={tmp} --conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.streaming.numRecentProgressUpdates=1000 "
        f"--conf spark.ui.port=0 "
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell"
    )
    os.chdir(work)


def _stop(spark) -> None:
    """Stop every stream, the session and the JVM, and wait for the JVM."""
    from pyspark import SparkContext

    for q in spark.streams.active:
        q.stop()
    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


class Loop:
    """Closed loop, one client: the next op starts when the last ended."""

    def __init__(self, w):
        self.w = w
        self.attempted = 0
        self.failed = 0
        self.problems: list = []
        self.latencies: list = []

    def op(self, runner):
        """Run one op and count it; None if it raised."""
        self.attempted += 1
        try:
            op = runner()
        except Exception:  # an op that raises counts as failed; stop the loop
            traceback.print_exc()
            self.failed += 1
            return None
        self.latencies.append([round(x, 3) for x in op.parts_s or [op.latency_s]])
        if op.problems:
            self.failed += 1
            self.problems.extend(op.problems)
        return op

    def warm_up(self) -> int | None:
        """Each part runs its fixed number of warm-up ops on its own. A
        count, not a time: latency follows the JIT, which follows how
        often the code ran, and a faster program then neither spends the
        same seconds on more warm-up ops nor starts its timed phase on
        later ingest batches."""
        n = 0
        for part in self.w.parts:
            for _ in range(part.warm_ops):
                if self.op(part.run) is None:
                    return None
                n += 1
        return n

    def timed(self, seconds: float, runner) -> tuple[list, float] | None:
        ops: list = []
        t = time.perf_counter()
        while time.perf_counter() - t < seconds or len(ops) < MIN_OPS[self.w.name]:
            op = self.op(runner)
            if op is None:
                return None
            ops.append(op)
        return ops, time.perf_counter() - t


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isdir(os.path.join(ROOT, "magiceye_spark")):
        print(f"perfbench: no magiceye_spark package in {ROOT}; run from the root "
              "of a checkout of the repository", file=sys.stderr)
        return 2
    nproc = len(os.sched_getaffinity(0))
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{os.getpid()}")
    if os.path.exists(work):
        shutil.rmtree(work)
    _isolate(work, nproc, bool(args.trace))
    sys.path.insert(0, ROOT)
    try:
        result = _run(args, work, base)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    if result is None:
        return 1
    print(json.dumps(result))
    return 0


def _run(args, work: str, base: str) -> dict | None:
    from magiceye_spark.session import get_spark

    import workloads
    from spans import Proc, Tracer

    t = time.perf_counter()
    spark = get_spark("perfbench")
    session_start_s = time.perf_counter() - t
    try:
        spark.sparkContext.setLogLevel("ERROR")
        proc = Proc(int(spark._jvm.java.lang.ProcessHandle.current().pid()))
        w = workloads.make(args.workload, spark, os.path.join(work, "data"), args.seed)
        t = time.perf_counter()
        sizes = w.setup()
        stage_s = time.perf_counter() - t
        loop = Loop(w)
        t = time.perf_counter()
        n_warm = loop.warm_up()
        if n_warm is None:
            return _failed(loop)
        warm_s = time.perf_counter() - t
        if args.trace and w.replay:
            w.snapshot_store()
        setup_s = time.perf_counter() - T0
        cpu0 = proc.cpu_s()
        got = loop.timed(args.seconds, w.run_op)
        if got is None:
            return _failed(loop)
        ops, wall = got
        cpu_per_op = (proc.cpu_s() - cpu0) / len(ops)
        w.stop()
        lats = [o.latency_s for o in ops]
        p50 = statistics.median(lats)
        summary = {
            "workload": args.workload, "seed": args.seed, "nproc": len(os.sched_getaffinity(0)),
            "sizes": sizes, "session_start_s": session_start_s, "stage_s": stage_s,
            "warmup_s": warm_s, "warmup_ops": n_warm, "timed_ops": len(ops),
            "failed_op_ratio": loop.failed / max(loop.attempted, 1),
            "latencies_s": loop.latencies,
        }
        # a percentile is reported only with at least ten ops beyond it
        if len(ops) * 0.1 >= 10:
            summary["op_p90_s"] = statistics.quantiles(lats, n=10)[-1]
        if not args.trace:
            metrics = {
                "setup_s": setup_s,
                "op_p50_s": p50,
                "items_per_s": sum(o.items for o in ops) / wall,
                "cpu_s_per_op": cpu_per_op,
            }
            units = END_TO_END
        else:
            tr = Tracer(spark)
            traced = _traced(loop, w, tr, args.seconds, len(ops))
            if traced is None:
                return _failed(loop)
            tr.attach_spark_counters()
            tr.write(os.path.join(base, f"trace-{args.workload}-seed{args.seed}.json"))
            metrics = dict.fromkeys(PER_LAYER, 0.0)
            metrics["session.start_s"] = session_start_s
            metrics["proc.peak_rss_mb"] = proc.peak_rss_mb()
            metrics["trace.overhead_s"] = statistics.median(traced) - p50
            metrics.update(w.layer_metrics(tr))
            metrics.update(_engine(tr))
            units = PER_LAYER
        print("perfbench summary: " + json.dumps(summary))
        for p in loop.problems[:10]:
            print(f"perfbench: wrong output: {p}", file=sys.stderr)
        return {
            "correct": loop.failed == 0,
            "attempted": loop.attempted,
            "failed": loop.failed,
            "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
        }
    finally:
        _stop(spark)


def _traced(loop: Loop, w, tr, seconds: float, n_untraced: int) -> list | None:
    """Traced ops: the ingest workloads replay exactly the batches the
    untraced stream took; the others run a closed loop for ``seconds``."""
    lats: list = []
    replay = w.replay
    t = time.perf_counter()
    i = 0
    while (i < n_untraced) if replay else (
            time.perf_counter() - t < seconds or i < MIN_OPS[w.name]):
        op = loop.op(lambda: w.traced_op(tr, i))
        if op is None:
            return None
        lats.append(op.latency_s)
        i += 1
    return lats


def _engine(tr) -> dict:
    """Spark engine counters per traced op, over every span of the op."""
    ops = tr.of("op")
    n = len(ops)
    run = tr.spark_total(ops, "executor_run_s")
    return {
        "spark.jobs": tr.spark_total(ops, "jobs") / n,
        "spark.stages": tr.spark_total(ops, "stages") / n,
        "spark.tasks": tr.spark_total(ops, "tasks") / n,
        "spark.executor_run_s": run / n,
        "spark.gc_s": tr.spark_total(ops, "gc_s") / n,
        "spark.shuffle_write_bytes": tr.spark_total(ops, "shuffle_write_bytes") / n,
        "spark.single_task_share": tr.spark_total(ops, "single_task_run_s") / run if run else 0.0,
    }


def _failed(loop: Loop) -> None:
    print(f"perfbench: an op raised ({loop.failed} of {loop.attempted} ops failed)",
          file=sys.stderr)
    return None


if __name__ == "__main__":
    sys.exit(main())
