import pytest

from profet_spark import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    # pyproject's filterwarnings reaches only this driver process; the
    # env var makes a FutureWarning an error in the Python workers too.
    # The later entry wins: pyspark's applyInPandasWithState serializer
    # pads its output with all-NA rows and pd.concat warns about that
    # padding, which no caller can avoid.
    s = get_spark(app="profet_spark_tests", master="local[4]",
                  shuffle_partitions=8,
                  extra={"spark.executorEnv.PYTHONWARNINGS":
                         "error::FutureWarning,"
                         "ignore::FutureWarning:pyspark.sql.pandas.serializers"})
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def jobs_during(spark):
    """``jobs_during(fn)`` -> (fn()'s result, ids of the Spark jobs fn
    started), through the status tracker's job ids for a job group set
    around the call."""
    sc, group = spark.sparkContext, "jobs-during"
    tracker = sc.statusTracker()

    def run(fn):
        sc.setJobGroup(group, "jobs counted by a test")
        try:
            before = set(tracker.getJobIdsForGroup(group))
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # job-start events are async
        return out, set(tracker.getJobIdsForGroup(group)) - before
    return run
