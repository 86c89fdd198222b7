import pytest

from translink.session import get_spark


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(master="local[4]", shuffle_partitions=8,
                      app_name="translink-tests")
    yield spark


@pytest.fixture(scope="session")
def tiny(spark):
    """Tiny deterministic fixture: transcripts + labels + golden clusters."""
    from translink import fixtures

    data = fixtures.generate("tiny", seed=42)
    return {
        "transcripts": fixtures.to_spark(spark, data["transcripts"]).cache(),
        "labeled_pairs": spark.createDataFrame(data["labeled_pairs"]).cache(),
        "expected_clusters": spark.createDataFrame(data["expected_clusters"]).cache(),
        "pandas": data,
    }


def jobs_started(spark, fn):
    """Run ``fn()``; return its result and the ids of the Spark jobs it
    started: the status tracker's job ids after the call minus those
    before it, each read once the listener bus has delivered every
    event."""
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    tracker = sc.statusTracker()
    bus.waitUntilEmpty()
    before = set(tracker.getJobIdsForGroup())
    result = fn()
    bus.waitUntilEmpty()
    return result, sorted(set(tracker.getJobIdsForGroup()) - before)
