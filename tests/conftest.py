import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from magiceye_spark.session import get_spark  # noqa: E402

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    spark = get_spark("magiceye-tests")
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return TESTDATA


@pytest.fixture(scope="session")
def registry_sweep(spark, sf_dir):
    """One pass over every registry query, shared by the registry-wide
    tests: each query is built once (a build can drain a whole ingest
    loop), its plan facts are read before it runs, then it is run and
    compared with its DuckDB oracle.

    Returns ``(oracles_ok, facts)``: ``facts[name]`` holds the plan's
    single-partition window contexts, CartesianProduct count and Python
    eval count. A query that fails to build has no entry."""
    from magiceye_spark import plans
    from tests.oracle_harness import compare

    facts = {}

    def inspect(name, df):
        facts[name] = {
            "windows": plans.single_partition_window_contexts(df),
            "cartesian": plans.cartesian_product_count(df),
            "python_evals": plans.python_eval_count(df),
        }

    return compare(spark, sf_dir, inspect=inspect), facts


@pytest.fixture
def jobs_started(spark):
    """``jobs_started(fn)`` runs ``fn`` under a job group of its own and
    returns the number of Spark jobs it started.

    The status tracker is fed by the listener bus, asynchronously; a fence
    job started after ``fn`` shows up only after every event before it, so
    the count is read once the fence is seen."""
    import time
    import uuid

    sc = spark.sparkContext
    st = sc.statusTracker()

    def run(fn) -> int:
        tag = uuid.uuid4().hex
        group, fence = f"jobs-started-{tag}", f"jobs-fence-{tag}"
        sc.setJobGroup(group, "counted")
        try:
            fn()
        finally:
            sc.setJobGroup(fence, "fence")
            sc.parallelize([0], 1).count()
            sc.setLocalProperty("spark.jobGroup.id", None)
        deadline = time.time() + 30
        while not st.getJobIdsForGroup(fence) and time.time() < deadline:
            time.sleep(0.05)
        return len(st.getJobIdsForGroup(group))

    return run
