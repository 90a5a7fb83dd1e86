"""Transcript sources: the pipeline input table per BASELINE.json input_hint
(conv_id:string, turn_idx:int32, role:string, text:string, tool:string,
ts:timestamp).

Two deterministic generators (no randomness — results must be byte-stable
across parallelism levels for the scaling evidence):

- ``synth_transcripts``: pure column expressions over ``spark.range`` with a
  deliberately heavy-tailed conversation-size distribution (a few 'hot'
  conversations) to exercise skew handling. Scales to any size without
  driver involvement.
- ``transcripts_from_orders``: derives transcripts arithmetically from the
  driver testdata ``orders`` table so a DuckDB oracle can reproduce the
  exact same rows in SQL (__spark_entry__.py correctness gate).

Both embed entity mentions from functions/entities.py templates, so the
expected knowledge-graph triples are exactly computable.

``read_transcripts`` reads a stored table and chooses its format from the
path's layout, with no trial read: a ``metadata/`` directory marks an
Iceberg path table, anything else is parquet.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import entities as E

TRANSCRIPT_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]

N_ENTITIES = len(E.ENTITIES)
N_TEMPLATES = len(E.TEMPLATES)
TOOLS = ["search", "calculator", "database"]


def _surface_lookup(spark: SparkSession) -> DataFrame:
    from ..session import local_frame

    return local_frame(
        spark,
        [(ei, si, s) for (s, ei, si, _) in E.surface_rows()],
        "ent_idx int, surf_idx int, surface string",
    )


def _with_text(df: DataFrame, spark: SparkSession, key: Column) -> DataFrame:
    """Attach deterministic role/text/tool/ts columns derived from ``key``.

    All arithmetic is integer-only and mirrored 1:1 by the DuckDB oracle SQL
    (see __spark_entry__.oracle_sql)."""
    lookup = _surface_lookup(spark)
    df = (
        df.withColumn("k", key.cast("bigint"))
        .withColumn("tmpl", (F.col("k") % N_TEMPLATES).cast("int"))
        .withColumn("e1", (F.col("k") % N_ENTITIES).cast("int"))
        .withColumn("e2", ((F.col("k") * 7 + 3) % N_ENTITIES).cast("int"))
        .withColumn("s1", ((F.col("k") / 7).cast("bigint") % 2).cast("int"))
        .withColumn("s2", ((F.col("k") / 11).cast("bigint") % 2).cast("int"))
    )
    l1 = lookup.select(
        F.col("ent_idx").alias("e1"), F.col("surf_idx").alias("s1"), F.col("surface").alias("surf1")
    )
    l2 = lookup.select(
        F.col("ent_idx").alias("e2"), F.col("surf_idx").alias("s2"), F.col("surface").alias("surf2")
    )
    df = df.join(F.broadcast(l1), ["e1", "s1"]).join(F.broadcast(l2), ["e2", "s2"])
    text = F.lit(None).cast("string")
    for ti, (tmpl, _) in enumerate(E.TEMPLATES):
        fmt = tmpl.replace("{}", "%s")
        text = F.when(F.col("tmpl") == ti, F.format_string(fmt, F.col("surf1"), F.col("surf2"))).otherwise(text)
    role = (
        F.when(F.col("k") % 3 == 0, "user")
        .when(F.col("k") % 3 == 1, "assistant")
        .otherwise("tool")
    )
    tool = F.when(
        F.col("k") % 3 == 2,
        F.element_at(F.array(*[F.lit(t) for t in TOOLS]), (F.col("k") % 3 + 1).cast("int")),
    ).otherwise(F.lit(""))
    ts = F.timestamp_seconds(
        F.lit(1704067200) + F.col("conv_num") * 86400 + F.col("turn_idx") * 60
    )
    return df.select(
        F.format_string("conv-%06d", F.col("conv_num")).alias("conv_id"),
        F.col("turn_idx").cast("int").alias("turn_idx"),
        role.alias("role"),
        text.alias("text"),
        tool.alias("tool"),
        ts.alias("ts"),
    )


def synth_transcripts(
    spark: SparkSession,
    n_convs: int = 1000,
    base_turns: int = 8,
    hot_convs: int = 3,
    hot_turns: int = 2000,
) -> DataFrame:
    """Deterministic heavy-tailed transcript table, generated distributed.

    Conversation c gets ``base_turns + (c % 7) * 3`` turns, and the first
    ``hot_convs`` conversations get ``hot_turns`` extra — the skewed keys
    that AQE skew-join / salting must handle at scale."""
    convs = (
        spark.range(n_convs)
        .withColumnRenamed("id", "conv_num")
        .withColumn(
            "n_turns",
            F.lit(base_turns)
            + (F.col("conv_num") % 7).cast("int") * 3
            + F.when(F.col("conv_num") < hot_convs, hot_turns).otherwise(0),
        )
    )
    turns = convs.select(
        "conv_num", F.explode(F.sequence(F.lit(0), F.col("n_turns") - 1)).alias("turn_idx")
    )
    key = F.col("conv_num") * 1000003 + F.col("turn_idx")
    return _with_text(turns, spark, key)


def transcripts_from_orders(spark: SparkSession, sf_dir: str, n_convs: int = 997) -> DataFrame:
    """Transcripts derived arithmetically from the testdata ``orders`` table
    (oracle-reproducible in DuckDB SQL: conv = o_orderkey % n_convs,
    turn_idx = o_orderkey // n_convs)."""
    from ..session import spread

    # single-file orders inputs plan as one scan partition; the text
    # synthesis (broadcast joins + format_string) and the downstream
    # extraction kernel would otherwise run on one task (guide §2.5)
    orders = spread(spark.read.parquet(f"{sf_dir}/orders.parquet"))
    base = orders.select(
        (F.col("o_orderkey") % n_convs).cast("bigint").alias("conv_num"),
        (F.col("o_orderkey") / n_convs).cast("bigint").alias("turn_idx"),
        F.col("o_orderkey").cast("bigint").alias("k0"),
    )
    return _with_text(base, spark, F.col("k0"))


def read_transcripts(spark: SparkSession, path: str) -> DataFrame:
    """Production entry: the transcript table at ``path``, in the format its
    layout names.

    A path that holds a ``metadata/`` directory is an Iceberg path table
    and is read with the Iceberg source; any failure of that read (a
    session without the Iceberg runtime, a deleted snapshot) propagates
    rather than falling back to the table's raw data files. Every other
    path is read as parquet. The check is the path's Hadoop
    ``FileSystem.exists``, so it holds on any filesystem Spark reads."""
    jvm = spark.sparkContext._jvm
    table = jvm.org.apache.hadoop.fs.Path(path)
    fs = table.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    if fs.exists(jvm.org.apache.hadoop.fs.Path(table, "metadata")):
        return spark.read.format("iceberg").load(path)
    return spark.read.parquet(path)
