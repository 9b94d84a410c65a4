import re

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


@pytest.fixture(scope="session")
def audio_pair(spark, tmp_path_factory):
    """A small byte-carrying clip table and its clean reference twin, as
    parquet (so key filters reach the scan): 2,000 clips in 4 files, with 2
    corrupted payloads (hash mismatches) and 3 clips without a reference
    row (a null, a malformed and an orphan clip_id)."""
    from sparkcheck.io import generate_audio_clips
    root = tmp_path_factory.mktemp("audio_pair")
    for name, clean in (("dirty", False), ("ref", True)):
        generate_audio_clips(spark, 2000, clean=clean, num_partitions=4) \
            .write.parquet(str(root / name))
    return (spark.read.parquet(str(root / "dirty")),
            spark.read.parquet(str(root / "ref")))


def pytest_terminal_summary(terminalreporter):
    """Name lost correctness evidence in the summary even without ``-rs``:
    a skip that says none of the reference corpus or none of the reference
    parity tests ran, once per reason."""
    lost = re.compile(r"\b0 of the (corpus cases|\d+ parity tests) ran")
    by_reason: dict[str, list[str]] = {}
    for rep in terminalreporter.stats.get("skipped", []):
        reason = rep.longrepr[2] if isinstance(rep.longrepr, tuple) else ""
        if lost.search(reason):
            by_reason.setdefault(reason, []).append(rep.nodeid)
    for reason, nodeids in by_reason.items():
        more = f" (and {len(nodeids) - 1} more)" if len(nodeids) > 1 else ""
        terminalreporter.write_line(f"SKIPPED {nodeids[0]}{more}: {reason}",
                                    yellow=True)
