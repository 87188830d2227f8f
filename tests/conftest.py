import pytest

from marie_ai_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("marie-ai-spark-tests")
    yield s
    s.stop()
