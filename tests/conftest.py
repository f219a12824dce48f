import pytest

from lynxkite_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="lynxkite_spark_tests")
    yield s
