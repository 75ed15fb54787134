from __future__ import annotations

import pytest


@pytest.fixture(scope="session")
def spark():
    from random_cut_forest_by_aws_spark import get_spark

    s = get_spark(app_name="rcf-spark-tests", master="local[8]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def seqs(spark):
    """10k-row deterministic sequences table, cached for the test session."""
    from random_cut_forest_by_aws_spark.sources import sequences

    df = sequences(spark, 10_000, seed=42).cache()
    df.count()
    return df


@pytest.fixture
def finish_stream():
    """Wait for an availableNow streaming query to end — failing the test
    if it is still running after ``timeout`` seconds — and always stop it."""

    def finish(q, timeout: int = 300) -> None:
        try:
            assert q.awaitTermination(timeout)
        finally:
            q.stop()

    return finish
