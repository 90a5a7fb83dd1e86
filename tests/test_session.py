"""Session helpers: defaults derived from the session's own settings, and
the driver-side local frames."""

import pyarrow as pa
import pytest

from nospa_rdf_data_cube_validator_spark.session import local_frame, oha_fallback_threshold


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


@pytest.mark.parametrize(
    "schema, rows",
    [
        ("s string", []),
        ("s string", [("a",)]),
        ("a array<string>", []),
        ("a array<string>", [(["x", "y"],)]),
        ("a array<string>", [([],)]),
        ("b bigint, i int", []),
        ("b bigint, i int", [(1 << 40, None)]),
    ],
)
def test_local_frame_is_a_local_relation(spark, schema, rows):
    """Zero rows included: an empty Python-RDD plan would hide from the
    optimizer that the frame is empty."""
    df = local_frame(spark, rows, schema)
    assert df._jdf.queryExecution().optimizedPlan().getClass().getSimpleName() == "LocalRelation"
    assert [tuple(r) for r in df.collect()] == rows


def test_local_frame_raises_on_unrepresentable_rows(spark):
    with pytest.raises(pa.ArrowException):
        local_frame(spark, [(1,)], "s string")
