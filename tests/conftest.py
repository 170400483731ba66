import pytest

from neural_entity_matching_spark.session import get_spark


# The suite's data fits a few GB of heap (perfbench runs the full pipeline in
# 3g). Pinned so the suite's heap does not follow get_spark's default, which
# is half the host's physical memory.
TEST_DRIVER_MEMORY = "4g"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="nem-tests", master="local[4]", shuffle_partitions=4, tmpfs_shuffle=True,
                  extra_conf={"spark.driver.memory": TEST_DRIVER_MEMORY})
    yield s
    s.stop()


@pytest.fixture(scope="session")
def fixture_small(spark):
    """~600-conversation deterministic fixture (FIXTURES.md 'small')."""
    from neural_entity_matching_spark.sources.synth import to_spark

    transcripts, labeled, expected = to_spark(spark, n_base=200, seed=42)
    transcripts = transcripts.cache()
    labeled = labeled.cache()
    expected = expected.cache()
    return transcripts, labeled, expected
