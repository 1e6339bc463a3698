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
