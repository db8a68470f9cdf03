import pytest


@pytest.fixture(scope="session")
def spark():
    from timezone_boundary_builder_spark.session import get_spark

    s = get_spark(
        app_name="tzbb-tests",
        cores=8,
        shuffle_partitions=8,
        extra_conf={"spark.driver.memory": "8g"},
    )
    yield s
    s.stop()
