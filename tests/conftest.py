from __future__ import annotations

import pytest

from resolve_spark.session import build_session


@pytest.fixture(scope="session")
def spark():
    spark = build_session(app_name="resolve_spark_tests", master="local[4]")
    yield spark
    spark.stop()


def rows_to_tuples(df):
    return [tuple(r) for r in df.collect()]


@pytest.fixture
def job_count(spark):
    """``job_count(fn) -> (fn(), n)``: n = Spark jobs ``fn`` ran, read
    from a job group of its own (named uniquely in the session: the
    status tracker keeps a group's jobs after it is cleared)."""
    import uuid

    sc = spark.sparkContext

    def run(fn):
        group = f"job-count-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run
