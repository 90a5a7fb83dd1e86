"""Benchmark harness (driver contract): runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]
and prints ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec", "queries": {...}, "sf": ...}

Headline set: the KG-construction pipeline (extract->link->canonicalize),
the IC-11/12 hot path over a cube built from synthetic transcripts at a
size proportional to sf, and the heaviest relational/dedup/similarity
operators. Each timing forces full computation via count().
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

import __spark_entry__ as entry_mod  # noqa: E402
from nospa_rdf_data_cube_validator_spark.operators.normalize import normalize  # noqa: E402
from nospa_rdf_data_cube_validator_spark.operators.validate import CubeValidator  # noqa: E402
from nospa_rdf_data_cube_validator_spark.pipeline import edges_to_graph  # noqa: E402
from nospa_rdf_data_cube_validator_spark.plans.algebra import TripleStore  # noqa: E402
from nospa_rdf_data_cube_validator_spark.functions.extraction import extract_mentions  # noqa: E402
from nospa_rdf_data_cube_validator_spark.functions.linking import (  # noqa: E402
    alias_edges,
    canonicalize,
    link_mentions,
    resolve_aliases,
    surface_dict,
)
from nospa_rdf_data_cube_validator_spark.session import get_spark  # noqa: E402
from nospa_rdf_data_cube_validator_spark.sources.transcripts import synth_transcripts  # noqa: E402

def shuffle_totals(spark) -> tuple[int, int]:
    """Cumulative (shuffle_read_bytes, shuffle_write_bytes) across all stages
    this session, from the JVM AppStatusStore (works with the UI disabled).
    Diff two snapshots to attribute shuffle volume to a query — the same
    numbers the Spark UI's stage page shows, so they transfer 1:1 to a real
    cluster's shuffle-service traffic."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    empty = sc._jvm.java.util.ArrayList()
    stages = store.stageList(empty, False, False, sc._gateway.new_array(sc._jvm.double, 0), empty)
    rd = wr = 0
    for i in range(stages.size()):
        s = stages.apply(i)
        rd += s.shuffleReadBytes()
        wr += s.shuffleWriteBytes()
    return rd, wr


HEADLINE = [
    "kg_triples",
    "ic12_duplicates",
    "path_join",
    "window_top1",
    "closure",
    "dedup_minhash",
    "dedup_simhash",
    "ann_topk",
    "text_quality",
    "multimodal",
    "events_sessionize",
]


def bench_cube_validation(spark, sf: float) -> tuple[float, dict]:
    """Build a KG cube from synthetic transcripts (~1M turns/sf unit) and run
    the IC-11/12 hot path — the reference's >99%-of-runtime operator."""
    n_convs = max(200, int(sf * 100000))
    tr = synth_transcripts(spark, n_convs=n_convs, base_turns=8, hot_convs=3, hot_turns=4000)
    mentions = extract_mentions(tr)
    linked = link_mentions(mentions, surface_dict(spark))
    canon = canonicalize(linked, resolve_aliases(alias_edges(spark)))
    t0 = time.time()
    # edges_to_graph reads its input once per branch: materialize it first
    canon = canon.localCheckpoint(eager=True)
    store = TripleStore(edges_to_graph(spark, canon))
    store.df = store.df.localCheckpoint(eager=True)  # materialize construction
    n_triples = store.df.count()
    normalized = normalize(store)
    build_sec = time.time() - t0  # construction + normalization materialized
    v = CubeValidator(normalized)
    t1 = time.time()
    n_obs = normalized.df.where(F.col("pred") == "http://purl.org/linked-data/cube#dataSet").count()
    n11 = v.ic11().count()
    n12 = v.ic12().count()
    validate_sec = time.time() - t1
    v.unpersist()  # release the validator's obs-scale caches before the next bench
    # String-side half of the shuffle A/B (untimed): a FRESH validator so
    # ic12's measurement includes its base-aggregation shuffle — the same
    # cold-cache state the encoded-side measurement below runs in.
    v_str = CubeValidator(normalized)
    s0 = shuffle_totals(spark)
    v_str.ic12().count()
    s1 = shuffle_totals(spark)
    v_str.unpersist()
    str_ic12_shuffle = s1[0] - s0[0]  # string-term ic12 shuffle-read bytes

    # At-rest validate-many (the 100 TB deployment shape and run_pipeline's
    # DEFAULT): encode + bucket ONCE (amortized over every later validation
    # run, so timed separately), then time the same hot path straight off
    # the table — its HashPartitioning(subj) plans carry no observation-
    # scale Exchange. Reported in stats only; NOT added to the headline
    # total, which stays comparable across rounds.
    from nospa_rdf_data_cube_validator_spark.plans.encoding import encode_store
    from nospa_rdf_data_cube_validator_spark.sources.rdf import write_bucketed

    t2 = time.time()
    enc = encode_store(normalized)
    enc.df = enc.df.localCheckpoint(eager=True)
    enc_only_sec = time.time() - t2
    # Encoded-vs-string shuffle-volume A/B (the plans/encoding.py claim,
    # measured): same ic12 plan shape over the encoded IN-MEMORY store —
    # checkpointed above, so the measurement excludes the encoding DAG.
    # Untimed: not part of the encode+bucket amortized cost.
    v_enc = CubeValidator(enc)
    s2 = shuffle_totals(spark)
    e12 = v_enc.ic12().count()
    s3 = shuffle_totals(spark)
    v_enc.unpersist()
    enc_ic12_shuffle = s3[0] - s2[0]
    if e12 != n12:
        raise RuntimeError(f"encoded ic12 mismatch: {e12} != {n12}")
    t2 = time.time() - enc_only_sec  # resume the encode+bucket clock
    # a previous SESSION's managed-table dir survives the in-memory catalog
    # (on-disk warehouse): drop both before re-creating, as run_table does
    spark.sql("DROP TABLE IF EXISTS bench_cube_atrest")
    import shutil

    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    shutil.rmtree(os.path.join(warehouse, "bench_cube_atrest"), ignore_errors=True)
    write_bucketed(enc.df, "bench_cube_atrest", buckets=spark.sparkContext.defaultParallelism)
    enc.df = spark.table("bench_cube_atrest")
    encode_sec = time.time() - t2
    v2 = CubeValidator(enc)
    t3 = time.time()
    s4 = shuffle_totals(spark)
    a11 = v2.ic11().count()
    a12 = v2.ic12().count()
    s5 = shuffle_totals(spark)
    atrest_sec = time.time() - t3
    v2.unpersist()
    if (a11, a12) != (n11, n12):  # at-rest path must agree with in-memory
        raise RuntimeError(f"at-rest IC mismatch: {(a11, a12)} != {(n11, n12)}")

    stats = {
        "n_triples": n_triples,
        "n_obs": n_obs,
        "ic11": n11,
        "ic12": n12,
        "build_sec": round(build_sec, 3),
        "validate_sec": round(validate_sec, 3),
        "obs_per_sec": round(n_obs / max(validate_sec, 1e-9)),
        "triples_per_sec": round(n_triples / max(build_sec + validate_sec, 1e-9)),
        "atrest_encode_bucket_sec": round(encode_sec, 3),
        "atrest_validate_sec": round(atrest_sec, 3),
        "atrest_obs_per_sec": round(n_obs / max(atrest_sec, 1e-9)),
        # measured shuffle-read bytes, same ic12 plan shape: string terms vs
        # dictionary-encoded ids vs encoded+bucketed at-rest (ic11+ic12)
        "ic12_shuffle_read_str": str_ic12_shuffle,
        "ic12_shuffle_read_enc": enc_ic12_shuffle,
        "ic12_shuffle_str_over_enc": round(str_ic12_shuffle / max(enc_ic12_shuffle, 1), 2),
        "atrest_validate_shuffle_read": s5[0] - s4[0],
    }
    return build_sec + validate_sec, stats


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else 0.1
    spark = get_spark(
        app_name="nospa-bench",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        # shuffle_totals() diffs CUMULATIVE AppStatusStore sums; stage
        # eviction (default retainedStages=1000) between two snapshots
        # would silently undercount, so retain far more than a bench run
        # ever creates
        extra_conf={"spark.ui.retainedStages": "100000"},
    )

    queries = entry_mod.queries()
    # Warm the session before timing: boot the Arrow Python workers and
    # fault the parquet data pages in. The headline measures steady-state
    # query throughput; JVM/worker cold-start is a per-session constant
    # that the first-listed query would otherwise absorb (~8s at local[32]).
    # NOTE: count() alone would read only footers — aggregate a real column
    # so the column chunks actually hit the page cache.
    warm = spark.read.parquet(f"{sf_dir}/nation.parquet")
    warm.mapInPandas(lambda it: it, schema=warm.schema).count()
    for t in ("orders", "lineitem", "documents", "embeddings", "events", "customer"):
        df = spark.read.parquet(f"{sf_dir}/{t}.parquet")
        df.select([F.count(c) for c in df.columns]).collect()

    loadavg_start = round(os.getloadavg()[0], 2)
    timings: dict[str, float] = {}
    shuffle: dict[str, dict] = {}
    for name in HEADLINE:
        t0 = time.time()
        pre = shuffle_totals(spark)
        queries[name](spark, sf_dir).count()
        post = shuffle_totals(spark)
        timings[name] = round(time.time() - t0, 3)
        shuffle[name] = {"read": post[0] - pre[0], "write": post[1] - pre[1]}

    cube_sec, cube_stats = bench_cube_validation(spark, sf)
    timings["cube_build_validate"] = round(cube_sec, 3)

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "shuffle_bytes": shuffle,
                "loadavg_start": loadavg_start,
                "sf": sf,
                "cpus": int(cpus),
                "cube": cube_stats,
            }
        )
    )


if __name__ == "__main__":
    main()
