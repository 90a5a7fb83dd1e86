"""Session helpers: defaults derived from the session's own settings, the
driver JVM's compile policy, and the driver-side local frames."""

import importlib.util
import json
import os
import subprocess
import sys
import textwrap

import pyarrow as pa
import pytest
from pyspark.find_spark_home import _find_spark_home

from nospa_rdf_data_cube_validator_spark.session import (
    DRIVER_JAVA_OPTIONS,
    local_frame,
    oha_fallback_threshold,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: a driver that prints what its session runs on: master, heap setting, OHA
#: threshold, the JVM's input arguments, and rows a Python worker returned
PROBE = textwrap.dedent(
    """
    import json, sys
    sys.path.insert(0, sys.argv[1])
    from nospa_rdf_data_cube_validator_spark.session import get_spark
    extra = json.loads(sys.argv[2]) if len(sys.argv) > 2 else None
    spark = get_spark(extra_conf=extra)
    sc = spark.sparkContext
    mx = sc._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
    df = spark.range(3)
    print(json.dumps({
        "master": sc.master,
        "memory": sc.getConf().get("spark.driver.memory"),
        "oha": int(spark.conf.get("spark.sql.objectHashAggregate.sortBased.fallbackThreshold")),
        "args": list(mx.getInputArguments()),
        "worker_rows": df.mapInPandas(lambda it: it, df.schema).count(),
    }))
    spark.stop()
    """
)


def _probe(tmp_path, launcher, *args, env=None):
    """Run PROBE as ``launcher probe.py REPO *args`` in a fresh process and
    return what it printed."""
    script = tmp_path / "probe.py"
    script.write_text(PROBE)
    out = subprocess.run(
        [*launcher, str(script), REPO, *args],
        capture_output=True,
        text=True,
        cwd=tmp_path,
        env=os.environ | (env or {}),
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_shared_session_driver_jvm_runs_the_compile_policy(spark):
    mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
    assert DRIVER_JAVA_OPTIONS in list(mx.getInputArguments())


def test_caller_java_options_and_the_policy_both_reach_the_jvm(tmp_path):
    """A caller's spark.driver.extraJavaOptions (the benchmark passes its
    heap floor and temp dir this way) adds to the policy, not replaces it."""
    extra = {"spark.driver.extraJavaOptions": "-Dnospa.probe=1"}
    got = _probe(
        tmp_path,
        [sys.executable],
        json.dumps(extra),
        env={"SPARK_GRAFT_CPUS": "1", "SPARK_DRIVER_MEM": "512m"},
    )
    assert DRIVER_JAVA_OPTIONS in got["args"]
    assert "-Dnospa.probe=1" in got["args"]


def _package():
    spec = importlib.util.spec_from_file_location("package", os.path.join(REPO, "tools", "package.py"))
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def test_package_writes_the_policy_into_spark_defaults(tmp_path):
    _package().main(str(tmp_path))
    lines = (tmp_path / "spark-defaults.conf").read_text().splitlines()
    assert f"spark.driver.defaultJavaOptions {DRIVER_JAVA_OPTIONS}" in lines


def test_spark_submit_driver_keeps_the_launcher_master_and_heap(tmp_path):
    """Under spark-submit the JVM runs before get_spark: the launcher's
    master and heap stand, the OHA threshold is sized from them, the
    packaged properties file carries the policy, and the Python workers
    find the engine's worker daemon."""
    _package().main(str(tmp_path))
    spark_submit = os.path.join(_find_spark_home(), "bin", "spark-submit")
    got = _probe(
        tmp_path,
        [
            spark_submit,
            "--properties-file",
            str(tmp_path / "spark-defaults.conf"),
            "--master",
            "local[3]",
            "--driver-memory",
            "2g",
        ],
        # the launcher's environment does not carry the engine's root
        env={"PYTHONPATH": ""},
    )
    assert got["master"] == "local[3]"
    assert got["memory"] == "2g"
    assert got["oha"] == oha_fallback_threshold("2g", "local[3]")
    assert "-Xmx2g" in got["args"] and DRIVER_JAVA_OPTIONS in got["args"]
    assert got["worker_rows"] == 3


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
