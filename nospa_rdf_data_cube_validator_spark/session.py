"""SparkSession factory with the scale-oriented defaults this engine assumes.

Local testing runs on ``local[N]``; the same settings are what we would ship
in spark-defaults for a 1000-executor cluster run (AQE on, skew-join on,
Arrow on). Nothing here is sandbox-specific.

The driver JVM compiles with C1 only (``DRIVER_JAVA_OPTIONS``). A job on the
small inputs this engine serves is hundreds of short Spark jobs over
thousands of generated classes, and HotSpot's C2 compiler threads spent
more CPU optimizing that code than the tasks spent running it: in a cold
3K-observation ``cube_validate`` run (``local[2]``, 4 vCPUs), 40-59 s of the
JVM's 62-72 s, against 7-8 s of task CPU. Stopping tiered compilation at
C1 halved the cold job's CPU on the benchmark (medians 62.8 -> 29.5 s on
``cube_validate``, 40.6 -> 20.8 s on ``kg_build``; -46% on both at 8x input,
with wall time no longer) and took 7% off peak memory. Under ``local[N]``
the driver JVM is the whole engine; cluster executors keep the JVM's
default policy.

``get_spark`` passes the policy as ``spark.driver.defaultJavaOptions``, which
Spark's launcher puts in front of a caller's ``spark.driver.extraJavaOptions``,
so both reach the JVM. Under ``spark-submit`` the driver JVM is running
before ``get_spark`` is called: the policy reaches it through the
``--properties-file`` that ``tools/package.py`` writes, and ``get_spark``
keeps the launcher's master and heap.
"""

from __future__ import annotations

import os
import re

import pyarrow as pa
from pyspark import SparkConf, SparkContext
from pyspark.sql import SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import _parse_datatype_string


def local_frame(spark: SparkSession, rows, schema):
    """Driver-side rows -> a DataFrame whose plan never calls back into Python.

    ``spark.createDataFrame(list_of_rows)`` builds a *Python RDD* plan
    (``applySchemaToPythonRDD``): every evaluation — including each
    BroadcastExchange that consumes it — launches a task set whose tasks
    round-trip through Python workers to unpickle the rows, and Catalyst
    cannot see through it, so an empty frame still plans every join fed
    by it. Here the rows become one ``pyarrow.Table`` typed by the Spark
    schema, converted ON THE DRIVER and handed to the JVM, which keeps
    the Python boundary out of the plan.

    - Up to ``spark.sql.execution.arrow.localRelationThreshold`` bytes,
      zero rows included, the plan is a ``LocalRelation``: broadcasts
      build from driver memory with no job, and an empty one lets
      ``PropagateEmptyRelation`` fold away every inner join and
      aggregate over it at optimization time.
    - Above the threshold it is a JVM scan of the Arrow batches, still
      with no Python worker.
    - A value Arrow cannot represent in its column's type raises; there
      is no silent fallback to the Python-RDD plan.

    ``schema`` is a ``StructType`` or a DDL string; rows are tuples or
    ``Row``s in schema order."""
    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    arrow_schema = to_arrow_schema(schema)
    rows = [tuple(r) for r in rows]
    table = pa.table(
        [pa.array([r[i] for r in rows], type=f.type) for i, f in enumerate(arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


def spread(df):
    """Parallelism floor for heavy map-side pipelines (Python kernels,
    regex scans, text generation): repartition only when the plan would
    otherwise scan in fewer partitions than the session's default
    parallelism (decided from the optimized plan's size estimate; the
    physical-plan probe is the fallback).

    Single-file parquet inputs with one row group plan as ONE scan
    partition, so everything up to the first Exchange — Arrow kernels,
    regexp projections, broadcast-join fan-outs — runs on a single task
    while the rest of the cluster idles (guide §2.5 input skew). The
    repartition is a cheap narrow-input shuffle at that size and a no-op
    at scale (a 100 TB input already carries >= parallelism splits, so
    this never inserts an Exchange into a well-partitioned production
    plan). Streaming frames are returned untouched."""
    if df.isStreaming:
        return df
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    # Decide from the OPTIMIZED plan's size estimate instead of
    # df.rdd.getNumPartitions(): the rdd probe forces a full physical
    # planning pass (~50-150 ms per fresh frame, paid again when the real
    # action plans the repartitioned frame), while logical stats cost
    # ~4 ms. Rule: skip when the plan already carries a Repartition
    # (spread applied upstream) or when the estimated input is large
    # enough to plan >= target scan splits anyway; the physical-plan
    # probe remains the fallback. Mis-estimates only add or skip one
    # narrow repartition of a small frame — never a correctness concern.
    try:
        plan = df._jdf.queryExecution().optimizedPlan()
        if "Repartition" in plan.toString():
            return df
        est = int(plan.stats().sizeInBytes())
        threshold = target * 128 * 1024 * 1024  # maxPartitionBytes default
        return df if est >= threshold else df.repartition(target)
    except Exception:  # noqa: BLE001 — fall back to the physical probe
        pass
    try:
        n = df.rdd.getNumPartitions()
    except Exception:
        return df
    return df if n >= target else df.repartition(target)


#: bytes one ObjectHashAggregate key costs in a task's hash map: the key,
#: its small collect_* buffer and the map's own overhead
OHA_BYTES_PER_KEY = 256

_SIZE_UNITS = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}


def oha_fallback_threshold(driver_memory: str, master: str) -> int:
    """Keys an ObjectHashAggregate task may hold before it falls back to
    sort-based aggregation: the driver heap split over twice the local
    task slots (the other half is left to everything else on the heap), at
    ``OHA_BYTES_PER_KEY`` per key. All ``local[N]`` tasks share the one
    driver heap. ``driver_memory`` is a Spark size string ("1g", "512m";
    no unit means MiB); the task slots are N of ``local[N]`` or
    ``local[N,F]``, 1 for ``local``, and the machine's cores otherwise."""
    size = re.fullmatch(r"(\d+)([kmgt]?)b?", driver_memory.strip().lower())
    if size is None:
        raise ValueError(f"unparseable spark.driver.memory {driver_memory!r}")
    heap = int(size.group(1)) * _SIZE_UNITS[size.group(2) or "m"]
    slots = re.fullmatch(r"local(?:\[(\d+)(?:,\d+)?\])?", master.strip())
    cores = int(slots.group(1) or 1) if slots else os.cpu_count() or 1
    return max(1, heap // (2 * cores * OHA_BYTES_PER_KEY))


#: the driver JVM's compile policy: tiered compilation stops at C1, so C2
#: never runs (see the module docstring)
DRIVER_JAVA_OPTIONS = "-XX:TieredStopAtLevel=1"


def _launched_driver_conf() -> SparkConf | None:
    """The launch conf of a driver JVM that is already running, or None
    when ``get_spark`` is to launch it. ``spark-submit`` starts the JVM
    before the Python driver and hands it over through
    ``PYSPARK_GATEWAY_PORT``; an earlier session of this process leaves its
    JVM up. Either way the launcher set the JVM's ``spark.*`` system
    properties, which a loaded ``SparkConf`` reads back, and fixed its heap."""
    if SparkContext._jvm is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        return None
    SparkContext._ensure_initialized()
    return SparkConf()


def get_spark(
    app_name: str = "nospa-cube-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    shuffle_partitions = shuffle_partitions or int(cpus)
    # The pre-importing worker daemon (worker_daemon.py) must be
    # importable by the Python the JVM spawns; the driver's sys.path
    # injection does not propagate. A JVM that get_spark launches inherits
    # this process's PYTHONPATH; a running one passes the workers
    # spark.executorEnv.PYTHONPATH.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    launched = _launched_driver_conf()
    if launched is None:
        existing = os.environ.get("PYTHONPATH", "")
        if pkg_root not in existing.split(os.pathsep):
            os.environ["PYTHONPATH"] = (
                pkg_root + (os.pathsep + existing if existing else "")
            )
        master = master or f"local[{cpus}]"
        driver_memory = os.environ.get("SPARK_DRIVER_MEM", "8g")
        # Spark's launcher puts spark.driver.defaultJavaOptions in front of
        # a caller's spark.driver.extraJavaOptions, so both reach the JVM
        launch_conf = {
            "spark.driver.memory": driver_memory,
            "spark.driver.defaultJavaOptions": DRIVER_JAVA_OPTIONS,
        }
    else:
        # the running JVM's heap stands, and so does its master unless the
        # caller names one; Spark's launcher sizes the heap from
        # spark.driver.memory, then SPARK_DRIVER_MEMORY, then 1g
        master = master or launched.get("spark.master", f"local[{cpus}]")
        driver_memory = launched.get(
            "spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "1g")
        )
        launch_conf = {"spark.executorEnv.PYTHONPATH": pkg_root}
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Let AQE re-plan at runtime: coalesce post-shuffle partitions,
        # split skewed join partitions, convert to broadcast when small.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for every pandas UDF / toPandas boundary.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Pin the session timezone: TIMESTAMP_NTZ -> timestamp casts must be
        # timezone-invariant (a DST transition between two events would
        # otherwise skew epoch differences by an hour vs the oracle).
        .config("spark.sql.session.timeZone", "UTC")
        # Metadata joins in the validator are tiny; give broadcast headroom.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Bounded-collect probes (closure driver path, validator metadata
        # materialization) use limit(cap+1) where the cap almost always
        # exceeds the data; the default initialNumPartitions=1 makes
        # CollectLimit scan 1, then 4, then 16... partitions in sequential
        # jobs, re-reading earlier partitions each round (~1.6x the scan in
        # 3-4 round trips, measured on the validator's metadata pass). One
        # parallel pass is strictly better here; per-task reads stay
        # bounded by the local limit either way, so this does not change
        # the worst case on huge inputs.
        .config("spark.sql.limit.initialNumPartitions", "10000")
        # Allow subset co-partitioning for joins: the validator's
        # (obs, ds) joins arrive with both sides already HashPartitioning
        # on obs (the subj-bucketed at-rest layout, or the shared hash(obs)
        # exchange of the in-memory path); the default=true setting
        # reshuffles BOTH sides by the full key set anyway, re-introducing
        # the observation-scale Exchange the bucketed layout removes
        # (measured: at-rest ic11 shuffle-read 413 B -> 4.4 MB with the
        # default). Results are partitioning-independent; ds is a
        # low-cardinality suffix key, so clustering by obs alone cannot
        # concentrate load.
        .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
        # ObjectHashAggregate (collect_set/collect_list aggregations — the
        # obs_ds dedup, the per-(obs, ds) shape aggregation, IC-17 vectors,
        # LSH bucket grouping) falls back to SORT-based aggregation once a
        # task's hash map holds more than this many KEYS. The default (128)
        # makes every observation-scale collect_* aggregation silently sort
        # its entire partition by long URI strings — measured as the
        # dominant CPU in the ic11/12 base build. The threshold is sized
        # from the heap the concurrent tasks share (oha_fallback_threshold);
        # a caller overrides it through extra_conf, which is applied last
        # (guide §2.3: the fallback remains the OOM guard, it just should
        # not fire at 128 keys).
        .config(
            "spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
            str(oha_fallback_threshold(driver_memory, master)),
        )
        # Allow shuffled-hash joins where the per-partition build side fits
        # (guide §3.1/§9): the validator's obs-keyed joins otherwise pay two
        # full sorts of long-URI keys per SortMergeJoin. AQE skew-join
        # handling covers SHJ as well; sort-merge remains available when
        # the planner's size conditions do not hold.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        # Workers fork from a daemon that has ALREADY imported
        # numpy/pandas/pyarrow (worker_daemon.py): the first task of each
        # fresh worker inherits them copy-on-write instead of paying the
        # import serially behind its first Arrow batch (guide §4.5).
        .config(
            "spark.python.daemon.module",
            "nospa_rdf_data_cube_validator_spark.worker_daemon",
        )
        .config("spark.ui.enabled", "false")
    )
    for k, v in {**launch_conf, **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _warm_session(spark)
    return spark


def _warm_session(spark: SparkSession) -> None:
    """Exercise the engine's cold paths ONCE at session build on synthetic
    range data: whole-stage codegen + Janino compilation for the common
    operator shapes (hash/sort aggregate, shuffled join, window, sort,
    broadcast), the AQE re-planning loop, and the Arrow Python runner.
    The first REAL job otherwise pays this compile work itself. Measured
    under the C1-only policy (benchmark inputs, ``local[2]``, 4 vCPUs, 3
    runs each way): without the warm-up, session set-up is 8.6 s
    (``cube_validate``) and 11 s (``kg_build``) shorter, but the first
    job's CPU is 10.5 s (+33%) and 9 s (+39%) higher and its wall time
    8 s and 7 s longer. Touches no input data and computes no reusable
    results — it is the same per-session constant a connection pool warms
    away, applied to the JVM. Idempotent per session."""
    if getattr(spark, "_nospa_warmed", False):
        return
    try:
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        sc = spark.sparkContext
        sc.setJobDescription("session warm-up (synthetic)")
        a = spark.range(1000).select(
            (F.col("id") % 53).cast("string").alias("k"), F.col("id").alias("v")
        )
        b = spark.range(200).select(
            (F.col("id") % 53).cast("string").alias("k"), F.col("id").alias("w")
        )
        w = Window.partitionBy("k").orderBy("v")
        (
            a.join(b, "k")  # shuffled/broadcast join machinery
            .withColumn("rn", F.row_number().over(w))  # window + sort
            .groupBy("k")  # hash aggregate
            .agg(
                F.min("v"),
                F.count("*"),
                F.sort_array(F.collect_set("w")),  # object hash aggregate
                F.min(F.col("k")),  # sort-aggregate path (string min)
            )
            .orderBy("k")  # range partitioner + sort
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        a.repartition(F.col("k")).dropDuplicates().write.format("noop").mode(
            "overwrite"
        ).save()
        # Arrow python-runner init (daemon fork + first batch handshake)
        a.limit(64).mapInPandas(lambda it: it, schema=a.schema).write.format(
            "noop"
        ).mode("overwrite").save()
        sc.setJobDescription(None)
    except Exception:  # noqa: BLE001 — warm-up must never break a session
        pass
    try:
        spark._nospa_warmed = True
    except Exception:  # noqa: BLE001
        pass
