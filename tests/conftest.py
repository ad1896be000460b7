import contextlib
import io
import uuid

import pytest


def plan_of(df, mode="formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


@pytest.fixture(scope="session")
def spark():
    from json_to_parquet_spark.session import get_spark
    s = get_spark(app="tests", cores=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def pages(spark):
    from json_to_parquet_spark.sources.webpages import synth_webpages
    return synth_webpages(spark, 2000, seed=42).cache()


def _in_job_group(sc, fn):
    """(fn(), ids of the Spark jobs fn started), through a job group."""
    group = uuid.uuid4().hex
    sc.setJobGroup(group, "counted")
    try:
        out = fn()
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description",
                     "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
    return out, sc.statusTracker().getJobIdsForGroup(group)


@pytest.fixture
def count_jobs(spark):
    """count_jobs(fn) → (fn(), number of Spark jobs fn started)."""
    def run(fn):
        out, jobs = _in_job_group(spark.sparkContext, fn)
        return out, len(jobs)
    return run


@pytest.fixture
def stage_tasks(spark):
    """stage_tasks(fn) → (fn(), numTasks of each stage of the jobs fn
    started)."""
    def run(fn):
        out, jobs = _in_job_group(spark.sparkContext, fn)
        st = spark.sparkContext.statusTracker()
        stages = [st.getStageInfo(s) for j in jobs
                  for s in st.getJobInfo(j).stageIds]
        return out, [s.numTasks for s in stages if s is not None]
    return run
