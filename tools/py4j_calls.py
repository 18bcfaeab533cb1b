"""Driver-cost counter: py4j round trips, Spark jobs and wall time of one
catalog report and one row diff.

The catalog report and the row diff are mostly fixed cost on the driver:
plan construction over py4j, analysis and a handful of small jobs. Their
wall time is noisy, but the number of py4j round trips and Spark jobs a
call makes is deterministic, so a change to the driver side can be
priced without a benchmark series. Round trips are counted by wrapping
``py4j.clientserver.ClientServerConnection.send_command`` (object
releases from Python's garbage collector are left out); jobs by running
each measured step under its own job group.

Steps:

1. Build the ``synthcat`` base and target snapshots from ``{sf_dir}/
   part.parquet`` and persist them with ``SchemaSnapshot.write_parquet``.
2. Catalog report: ``SchemaSnapshot.read_parquet`` x2, ``diff_schemas``,
   ``write_report``.
3. Row diff: read ``{sf_dir}/lineitem.parquet`` twice, ``diff_data`` on
   its primary key, written to the ``noop`` sink.

Each step runs once to warm the JVM, then once measured.

Usage: python tools/py4j_calls.py [sf_dir]   (default $SPARK_GRAFT_TESTDATA)
Prints one line per step: round trips, jobs, wall seconds.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


class _Counter:
    """Counts py4j commands sent from this process while active, except
    the object releases py4j's finalizer thread sends whenever Python's
    garbage collector frees a proxy: their number depends on GC timing,
    not on the code measured."""

    def __init__(self):
        from py4j import protocol
        from py4j.clientserver import ClientServerConnection

        self.n = 0
        self._cls = ClientServerConnection
        self._orig = ClientServerConnection.send_command
        self._release = protocol.MEMORY_COMMAND_NAME + protocol.MEMORY_DEL_SUBCOMMAND_NAME

    def __enter__(self):
        orig, release = self._orig, self._release

        def send_command(conn, command):
            if not command.startswith(release):
                self.n += 1
            return orig(conn, command)

        self._cls.send_command = send_command
        return self

    def __exit__(self, *exc):
        self._cls.send_command = self._orig


def _measure(spark, name: str, step) -> tuple[int, int, float]:
    """Run ``step`` once to warm up, then once under a fresh job group;
    return (round trips, jobs, wall seconds) of the second run."""
    sc = spark.sparkContext
    st = sc.statusTracker()
    step()
    group, fence = f"py4j-calls-{name}", f"py4j-calls-{name}-fence"
    sc.setJobGroup(group, name)
    try:
        with _Counter() as c:
            t = time.perf_counter()
            step()
            wall = time.perf_counter() - t
    finally:
        # the status tracker is fed asynchronously by the listener bus: a
        # job started afterwards shows up only after every earlier event
        sc.setJobGroup(fence, "fence")
        sc.parallelize([0], 1).count()
        sc.setLocalProperty("spark.jobGroup.id", None)
    deadline = time.time() + 30
    while not st.getJobIdsForGroup(fence) and time.time() < deadline:
        time.sleep(0.05)
    return c.n, len(st.getJobIdsForGroup(group)), wall


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get("SPARK_GRAFT_TESTDATA")
    if not sf_dir:
        print(__doc__.strip().splitlines()[-2], file=sys.stderr)
        return 2
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    from magiceye_spark import datadiff, diff_schemas, synthcat, write_report
    from magiceye_spark.session import get_spark
    from magiceye_spark.snapshot import SchemaSnapshot

    spark = get_spark("py4j-calls")
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="py4j_calls_")
    try:
        snaps = {
            "base": synthcat.base_snapshot(spark, sf_dir),
            "target": synthcat.target_snapshot(spark, sf_dir),
        }
        for side, snap in snaps.items():
            snap.write_parquet(os.path.join(work, side))
        report = os.path.join(work, "report.json")

        def catalog_report():
            base = SchemaSnapshot.read_parquet(spark, os.path.join(work, "base"))
            target = SchemaSnapshot.read_parquet(spark, os.path.join(work, "target"))
            write_report(diff_schemas(base, target), report, "english")

        def row_diff():
            base = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
            target = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
            d = datadiff.diff_data(base, target, ["l_orderkey", "l_linenumber"])
            d.write.format("noop").mode("overwrite").save()

        print(f"{'step':16s} {'py4j':>7s} {'jobs':>5s} {'wall_s':>7s}")
        for name, step in (("catalog_report", catalog_report), ("diff_data", row_diff)):
            calls, jobs, wall = _measure(spark, name, step)
            print(f"{name:16s} {calls:7d} {jobs:5d} {wall:7.2f}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
