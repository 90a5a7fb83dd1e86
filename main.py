"""spark-submit entry point.

Usage (SUBMIT = spark-submit --properties-file dist/spark-defaults.conf --py-files dist/engine.zip):
  SUBMIT main.py validate <cube.{ttl,nt,parquet}> [--report DIR] [--strict]
  SUBMIT main.py pipeline <transcripts.parquet> <workdir> [--report DIR] [--no-encoded]
  SUBMIT main.py export <cube.{ttl,nt,xml,parquet}> <out> [--format nt|ttl|xml|parquet] [--normalize]
  SUBMIT main.py stream-dups <obs_dir> <out_dir> --checkpoint DIR [--once]

``validate`` mirrors the reference CLI (Main.java:21-58): load an RDF cube,
normalize, run all 21 integrity constraints, write validation_result_<ts>.md
(pipeline.validate_file). It exits 0 when every IC passes and 2 when any
IC has violations. ``pipeline`` runs the full KG construction over a
transcript table with checkpoint-resume in <workdir> (re-running after a
kill resumes from the last completed snapshot) and validates its at-rest
cube the same way (pipeline.validate_store).

Build both files with: python tools/package.py -> dist/engine.zip and
dist/spark-defaults.conf. The properties file carries the driver JVM's
compile policy (session.DRIVER_JAVA_OPTIONS), which spark-submit applies
when it starts the JVM, before get_spark runs. spark-submit's --master and
--driver-memory are kept: get_spark does not override a running driver's.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from nospa_rdf_data_cube_validator_spark.operators.normalize import normalize
from nospa_rdf_data_cube_validator_spark.pipeline import run_pipeline, validate_file, validate_store
from nospa_rdf_data_cube_validator_spark.plans.algebra import TripleStore
from nospa_rdf_data_cube_validator_spark.session import get_spark
from nospa_rdf_data_cube_validator_spark.sources.rdf import read_rdf
from nospa_rdf_data_cube_validator_spark.sources.transcripts import read_transcripts


def cmd_validate(spark, args) -> int:
    _, text, counts = validate_file(spark, args.input, args.report or ".", strict_w3c=args.strict)
    print(text)
    return 2 if any(counts.values()) else 0


def cmd_pipeline(spark, args) -> int:
    transcripts = read_transcripts(spark, args.input)
    result = run_pipeline(spark, transcripts, args.workdir, validate=True, encoded=args.encoded)
    validate_store(result["store"], args.report or args.workdir)
    # the stage commit recorded the row count from the parquet footers
    with open(os.path.join(args.workdir, "_MANIFEST.json")) as fh:
        print(f"triples: {json.load(fh)['stages']['triples']['rows']}")
    return 0


def cmd_export(spark, args) -> int:
    """exportModel parity (nonsparql/NospaValidator.java:56-67): read any
    supported RDF form, optionally normalize, re-serialize to the requested
    format."""
    from nospa_rdf_data_cube_validator_spark.sources.rdf import (
        write_ntriples,
        write_parquet,
        write_rdfxml,
        write_turtle,
    )

    store = TripleStore(read_rdf(spark, args.input))
    if args.normalize:
        store = normalize(store)
    writer = {
        "nt": write_ntriples,
        "ttl": write_turtle,
        "xml": write_rdfxml,
        "parquet": write_parquet,
    }[args.format]
    writer(store.df, args.output)
    print(f"exported {store.df.count()} triples to {args.output} as {args.format}")
    return 0


def cmd_stream_dups(spark, args) -> int:
    """Continuous IC-12: watch a directory of observation parquet
    (ds, obs, dim_key) and append flagged duplicates to an output parquet
    dir, checkpointed — the validate-as-you-ingest deployment mode (the
    reference re-parses and re-validates the whole cube per run;
    streaming/ingest.py::streaming_ic12_dup_check keeps one state row per
    key and the flagged set converges to the batch rule)."""
    from nospa_rdf_data_cube_validator_spark.streaming.ingest import (
        streaming_ic12_dup_check,
    )

    stream = (
        spark.readStream.schema("ds string, obs string, dim_key string")
        .option("maxFilesPerTrigger", args.max_files)
        .parquet(args.input)
    )
    writer = (
        streaming_ic12_dup_check(stream)
        .writeStream.format("parquet")
        .option("path", args.output)
        .option("checkpointLocation", args.checkpoint)
        .outputMode("append")
    )
    if args.once:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        try:
            n = spark.read.parquet(args.output).count()
        except Exception:  # zero flagged rows -> sink holds only _spark_metadata
            n = 0
        print(f"flagged {n} duplicate observations into {args.output}")
    else:
        writer.start().awaitTermination()
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(prog="nospa-cube-spark")
    sub = ap.add_subparsers(dest="cmd", required=True)
    v = sub.add_parser("validate", help="normalize + 21 ICs over an RDF cube")
    v.add_argument("input")
    v.add_argument("--report", default=None)
    v.add_argument(
        "--strict",
        action="store_true",
        help="official W3C SPARQL semantics for the quirk-bearing ICs "
        "(the reference's -sparql dual-validator mode, README.md:53-77)",
    )
    p = sub.add_parser("pipeline", help="KG construction over transcripts")
    p.add_argument("input")
    p.add_argument("workdir")
    p.add_argument("--report", default=None)
    p.add_argument(
        "--encoded",
        action=argparse.BooleanOptionalAction,
        default=True,
        help="keep the at-rest triples dictionary-encoded (int64 term ids);"
        " validation runs on ids, reports decode (default on; --no-encoded"
        " for the plain string form)",
    )
    e = sub.add_parser(
        "export", help="re-serialize an RDF cube (exportModel parity, any format)"
    )
    e.add_argument("input")
    e.add_argument("output")
    e.add_argument("--format", choices=("nt", "ttl", "xml", "parquet"), default="nt")
    e.add_argument(
        "--normalize", action="store_true", help="apply N1-N5 before exporting"
    )
    sd = sub.add_parser(
        "stream-dups",
        help="continuous IC-12 over an observation stream (applyInPandasWithState)",
    )
    sd.add_argument("input", help="directory of (ds, obs, dim_key) parquet files to watch")
    sd.add_argument("output", help="parquet dir receiving flagged duplicates")
    sd.add_argument("--checkpoint", required=True)
    sd.add_argument("--max-files", type=int, default=16, dest="max_files")
    sd.add_argument(
        "--once",
        action="store_true",
        help="process currently-available files and exit (availableNow trigger)",
    )
    args = ap.parse_args()
    spark = get_spark(app_name=f"nospa-{args.cmd}")
    return {
        "validate": cmd_validate,
        "pipeline": cmd_pipeline,
        "export": cmd_export,
        "stream-dups": cmd_stream_dups,
    }[args.cmd](spark, args)


if __name__ == "__main__":
    raise SystemExit(main())
