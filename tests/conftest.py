from __future__ import annotations

import pytest


def jobs_in_group(spark, group, fn):
    """Run ``fn()`` under job group ``group``; return its result and the
    number of Spark jobs the group ran (read after the listener bus has
    drained, so every job is counted)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description",
                     "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="session")
def spark():
    from raptor_spark.session import get_spark

    s = get_spark(app="raptor_spark_tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def transcripts_pair(spark):
    """(spark_df, pandas_df) of the unit-scale transcript fixture."""
    from raptor_spark.sources.transcripts import transcripts, transcripts_pandas

    sdf = transcripts(spark, 20).cache()
    sdf.count()
    pdf = transcripts_pandas(20)
    return sdf, pdf
