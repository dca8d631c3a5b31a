import pytest


@pytest.fixture(scope="session")
def spark():
    from pdf_extraction_spark.session import get_spark

    s = get_spark(
        app_name="tests",
        master="local[4]",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    yield s
    s.stop()


@pytest.fixture(autouse=True)
def no_leaked_streams():
    """Fail a test that leaves a streaming query running: it would keep
    running in the shared session for the rest of the suite."""
    yield
    from pyspark.sql import SparkSession

    s = SparkSession.getActiveSession()
    leaked = s.streams.active if s is not None else []
    for q in leaked:
        q.stop()
    assert not leaked, f"streaming queries left running: {[q.name for q in leaked]}"
