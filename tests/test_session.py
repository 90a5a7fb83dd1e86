"""Session defaults derived from the session's own settings."""

import pytest

from nospa_rdf_data_cube_validator_spark.session import oha_fallback_threshold


@pytest.mark.parametrize(
    "memory, master, keys",
    [
        # the benchmark's session: 1 GiB / (2 x 2 slots) / 256 B
        ("1g", "local[2]", 1 << 20),
        # the default 8g heap shared by 32 local task slots
        ("8g", "local[32]", 1 << 19),
        ("8G", "local[32,4]", 1 << 19),
        ("2048m", "local", 1 << 22),
        ("1024", "local[2]", 1 << 20),  # no unit: MiB, as Spark reads it
    ],
)
def test_oha_fallback_threshold_splits_heap_over_local_slots(memory, master, keys):
    assert oha_fallback_threshold(memory, master) == keys


def test_oha_fallback_threshold_rejects_unparseable_memory():
    with pytest.raises(ValueError, match="spark.driver.memory"):
        oha_fallback_threshold("lots", "local[2]")
