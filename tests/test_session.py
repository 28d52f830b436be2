"""The session factory's default driver heap follows the host's memory."""

from link_profiler_repo_spark.session import default_driver_memory


def test_default_driver_memory_is_half_of_physical_capped():
    assert default_driver_memory(15 * 2**30) == "7g"
    assert default_driver_memory(64 * 2**30) == "24g"
