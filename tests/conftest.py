import pytest

from kgpipe_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    # The suite's data is small; a heap cap above the host's RAM lets the
    # session-long JVM grow until the kernel's OOM killer ends it mid-suite.
    s = get_spark(
        app_name="kgpipe-spark-tests",
        master="local[4]",
        shuffle_partitions=8,
        extra_conf={"spark.driver.memory": "4g"},
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def small_corpus(spark):
    from kgpipe_spark.corpus import synth_corpus

    return synth_corpus(spark, 200).cache()


@pytest.fixture(scope="session")
def seed(spark):
    from kgpipe_spark.corpus import seed_kg

    return seed_kg(spark).cache()
