import pytest
from pyspark.sql import SparkSession


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.master("local[4]")
        .appName("sparkcheck-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "4g")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s


def pytest_terminal_summary(terminalreporter):
    """Name lost correctness evidence in the summary even without ``-rs``:
    a skip that says none of the reference corpus ran."""
    for rep in terminalreporter.stats.get("skipped", []):
        reason = rep.longrepr[2] if isinstance(rep.longrepr, tuple) else ""
        if "0 of the corpus cases ran" in reason:
            terminalreporter.write_line(f"SKIPPED {rep.nodeid}: {reason}",
                                        yellow=True)
