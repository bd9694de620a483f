import os
import sys
import uuid

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

REFERENCE = "/root/reference"
TESTDATA = os.path.join(REFERENCE, "testdata")
REFERENCE_MODULE = os.path.join(REFERENCE, "feldman.py")
# test outputs live in the checkout under test, git-ignored
SCRATCH = os.path.join(ROOT, ".tmp")
# test_golden_parity writes our GLAD9 outputs here; plan and streaming
# tests read them back
GOLDEN = os.path.join(SCRATCH, "golden")


def require_reference() -> None:
    """Fail a differential test at once, before any Spark or subprocess
    work, when the reference implementation it compares against is absent."""
    if not os.path.exists(REFERENCE_MODULE):
        pytest.fail(
            f"reference implementation not found: {REFERENCE_MODULE} is "
            "missing, so there is nothing to compare against", pytrace=False)


@pytest.fixture(scope="session")
def spark():
    from feldman_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    spark = get_spark(app_name="feldman-spark-tests", master="local[4]",
                      shuffle_partitions=4)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def ref_testdata():
    if not os.path.isdir(TESTDATA):
        pytest.skip("reference testdata not available")
    return TESTDATA


@pytest.fixture(scope="session")
def tmp_out():
    out = os.path.join(SCRATCH, "testout")
    os.makedirs(out, exist_ok=True)
    return out


@pytest.fixture(scope="session")
def spark_fuzz(spark):
    # alias so hypothesis-driven tests share the session fixture without
    # hypothesis complaining about function-scoped fixtures
    return spark


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn)`` runs ``fn()`` under a fresh Spark job group and
    returns its result and the number of Spark jobs it started."""
    sc = spark.sparkContext

    def count(fn):
        group = f"count-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            result = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return result, len(sc.statusTracker().getJobIdsForGroup(group))

    return count
