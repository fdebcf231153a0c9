from __future__ import annotations

import pytest


@pytest.fixture(scope="session")
def spark():
    from readur_spark.session import get_spark

    s = get_spark(cores=4, app_name="readur_spark_tests")
    yield s
    s.stop()
