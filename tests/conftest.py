import pytest


@pytest.fixture(scope="session")
def spark():
    from uk_ner_presidio_demo_spark.session import get_spark

    # local[$SPARK_GRAFT_CPUS], else every CPU this process may run on
    s = get_spark(app_name="tests")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf001():
    return "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def sf01():
    return "/root/testdata/sf0.01"
