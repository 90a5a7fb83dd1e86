"""End-to-end KG-construction pipeline (north_rule):

transcripts -> vectorized triple extraction -> entity linking ->
canonicalization -> materialized (subj, pred, obj) edge table shaped as an
RDF Data Cube -> NoSPA-style validation of the 21 ICs.

Both CLI commands validate through :func:`validate_file` and
:func:`validate_store`.

Stages are checkpoint-resumable: each stage materializes to a parquet
snapshot under the work dir (an Iceberg snapshot stand-in — this sandbox
ships no Iceberg jars, the layout/manifest semantics are the same) and a
JSON manifest records completion; a killed run restarts from the last
completed snapshot. Committing a stage costs one Spark action, the parquet
write: its row count and its per-partition lineage rows (stage,
partition_id, row_count; the north_rule's lineage requirement) are read on
the driver from the footers of the committed part files.
"""

from __future__ import annotations

import glob
import json
import os
import re
import shutil
import time

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import qb, terms
from .functions import entities as E
from .functions.extraction import extract_mentions
from .functions.linking import (
    alias_edges,
    canonicalize,
    link_mentions,
    resolve_aliases,
    surface_dict,
)
from .operators.normalize import normalize
from .operators.validate import CubeValidator
from .plans.algebra import TripleStore
from .report import write_validation_report
from .sources.rdf import read_rdf

KG_NS = "http://example.org/kg#"
OBS_NS = "http://example.org/kgobs#"
CONV_NS = "http://example.org/conv#"

DIM_CONV = KG_NS + "convDim"
DIM_TURN = KG_NS + "turnDim"
DIM_REL = KG_NS + "relDim"
MEAS_COUNT = KG_NS + "mentionCount"
DATASET = KG_NS + "dataset-kg"
DSD = KG_NS + "dsd-kg"

XSD_INT = qb.PREFIX_XSD + "integer"


# ---------------------------------------------------------------------------
# graph materialization
# ---------------------------------------------------------------------------
def edges_to_graph(spark: SparkSession, canonical: DataFrame) -> DataFrame:
    """Canonical linked mentions -> triples DataFrame:

    1. the knowledge-graph edges themselves: (subj_entity, rel IRI, obj_entity)
    2. one qb:Observation per extraction event, dimensioned by
       (conversation, turn, relation) with a count measure — the cube that
       the 21 ICs then validate,
    3. the cube schema (DSD/components/dimension declarations), emitted once.
    """
    # The union below reads `canonical` once per branch: pass a committed
    # snapshot (run_pipeline's `canonical` stage), so each branch re-reads
    # its parquet files instead of re-running the extraction DAG.
    # full-column dedups below: the non-key columns are constants (or
    # functionally determined by the key), so grouping on every column is
    # value-identical but plans as a codegen HashAggregate instead of a
    # SortAggregate with First() string buffers
    kg_edges = canonical.select(
        F.col("subj_entity").alias("subj"),
        F.concat(F.lit(E.PRED_NS), F.col("rel")).alias("pred"),
        F.col("obj_entity").alias("obj"),
        F.lit(terms.KIND_IRI).alias("obj_kind"),
        F.lit(None).cast("string").alias("obj_datatype"),
        F.lit(None).cast("string").alias("obj_lang"),
    ).dropDuplicates()

    # url_encode escapes "/", so the "/"-joined key parts cannot run into
    # each other: the IRI is injective in (conv_id, turn_idx, rel)
    obs = canonical.select(
        F.concat(
            F.lit(OBS_NS), F.url_encode("conv_id"), F.lit("/"), F.col("turn_idx"), F.lit("/"), F.url_encode("rel")
        ).alias("obs"),
        F.concat(F.lit(CONV_NS), F.col("conv_id")).alias("conv"),
        F.col("turn_idx").cast("string").alias("turn"),
        F.concat(F.lit(E.PRED_NS), F.col("rel")).alias("relation"),
    ).dropDuplicates()  # obs determines (conv, turn, relation)

    def t_struct(pred: str, obj_col, kind: str, dt: str | None = None) -> F.Column:
        return F.struct(
            F.col("obs").alias("subj"),
            F.lit(pred).alias("pred"),
            obj_col.alias("obj"),
            F.lit(kind).alias("obj_kind"),
            F.lit(dt).cast("string").alias("obj_datatype"),
            F.lit(None).cast("string").alias("obj_lang"),
        )

    # one scan of the observation frame fans out to all six cube
    # rows via a single explode — no 6-branch union re-reading it.
    obs_triples = obs.select(
        F.explode(
            F.array(
                t_struct(qb.RDF_TYPE, F.lit(qb.QB_OBSERVATION), terms.KIND_IRI),
                t_struct(qb.QB_DATASET_PROP, F.lit(DATASET), terms.KIND_IRI),
                t_struct(DIM_CONV, F.col("conv"), terms.KIND_IRI),
                t_struct(
                    DIM_TURN,
                    F.concat(F.lit(f"literal:{XSD_INT}::"), F.col("turn")),
                    terms.KIND_LITERAL,
                    XSD_INT,
                ),
                t_struct(DIM_REL, F.col("relation"), terms.KIND_IRI),
                t_struct(
                    MEAS_COUNT, F.lit(f"literal:{XSD_INT}::1"), terms.KIND_LITERAL, XSD_INT
                ),
            )
        ).alias("t")
    ).select("t.*")

    schema_rows = [
        terms.iri_row(DATASET, qb.RDF_TYPE, qb.QB_DATASET),
        terms.iri_row(DATASET, qb.QB_STRUCTURE, DSD),
        terms.iri_row(DSD, qb.RDF_TYPE, qb.QB_DSD),
        terms.bnode_row(DSD, qb.QB_COMPONENT, "_:kgc1"),
        terms.bnode_row(DSD, qb.QB_COMPONENT, "_:kgc2"),
        terms.bnode_row(DSD, qb.QB_COMPONENT, "_:kgc3"),
        terms.bnode_row(DSD, qb.QB_COMPONENT, "_:kgc4"),
        terms.iri_row("_:kgc1", qb.QB_DIMENSION, DIM_CONV),
        terms.iri_row("_:kgc2", qb.QB_DIMENSION, DIM_TURN),
        terms.iri_row("_:kgc3", qb.QB_DIMENSION, DIM_REL),
        terms.iri_row("_:kgc4", qb.QB_MEASURE, MEAS_COUNT),
        terms.iri_row(DIM_CONV, qb.RDFS_RANGE, KG_NS + "Conversation"),
        terms.iri_row(DIM_TURN, qb.RDFS_RANGE, XSD_INT),
        terms.iri_row(DIM_REL, qb.RDFS_RANGE, qb.PREFIX_RDF + "Property"),
        terms.iri_row(MEAS_COUNT, qb.RDFS_RANGE, XSD_INT),
    ]
    from .session import local_frame

    schema = local_frame(spark, schema_rows, terms.TRIPLES_SCHEMA)

    # No global dropDuplicates: the three parts are disjoint by construction
    # (entity-subject edges vs obs-subject cube rows vs schema constants) and
    # each is internally deduplicated above — saves a full-output shuffle.
    return kg_edges.unionByName(obs_triples).unionByName(schema)


# ---------------------------------------------------------------------------
# checkpoint-resumable runner
# ---------------------------------------------------------------------------
_PART_ID = re.compile(r"part-(\d+)")


def committed_part_rows(path: str) -> dict[int, int]:
    """Rows per writer partition of the parquet table Spark committed at
    ``path`` on the local filesystem, from the part-file footers (no Spark
    job). The partition id is the ``part-NNNNN`` prefix Spark gives each
    task's files. A directory without ``_SUCCESS`` raises rather than
    reading as an empty table."""
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        raise FileNotFoundError(f"no committed parquet table at {path!r} on the local filesystem")
    per_part: dict[int, int] = {}
    for f in glob.glob(os.path.join(path, "part-*.parquet")):
        pid = int(_PART_ID.match(os.path.basename(f)).group(1))
        per_part[pid] = per_part.get(pid, 0) + pq.read_metadata(f).num_rows
    return per_part


class StageRunner:
    """Parquet-snapshot + manifest stage runner with per-partition lineage.

    Snapshots follow Iceberg's commit discipline at stand-in fidelity: each
    (re)build of a stage writes a NEW immutable version directory
    ``<stage>/v<N>`` and then atomically flips the manifest pointer
    (write-temp + rename), so a kill at ANY point leaves the previous
    snapshot intact and readable — data files are never overwritten in
    place. The manifest keeps the full snapshot ``history`` per stage
    (version, rows, seconds, ts) and :meth:`read_snapshot` time-travels to
    any retained version, mirroring Iceberg's snapshot log / ``VERSION AS
    OF`` reads. Pre-versioning layouts (data directly under ``<stage>/``)
    are still read transparently.

    A stage commit launches one Spark action, the parquet write. The
    manifest's ``rows`` and the ``_lineage_<stage>`` table come from the
    footers of the committed part files, on the driver; the snapshot is
    read back with the build frame's schema, so nothing is inferred. A
    lineage row's ``partition_id`` is the partition that WROTE its rows
    (the ``part-NNNNN`` prefix of the files), not a split of the read-back
    frame. The work dir must be on the local filesystem."""

    def __init__(self, spark: SparkSession, workdir: str):
        self.spark = spark
        self.workdir = workdir
        os.makedirs(workdir, exist_ok=True)
        self.manifest_path = os.path.join(workdir, "_MANIFEST.json")
        self.manifest = self._load()

    def _load(self) -> dict:
        if os.path.exists(self.manifest_path):
            with open(self.manifest_path) as fh:
                return json.load(fh)
        return {"stages": {}}

    def _save(self) -> None:
        tmp = self.manifest_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(self.manifest, fh, indent=2)
        os.replace(tmp, self.manifest_path)

    def _commit_lineage(self, stage: str, path: str) -> int:
        """Write ``_lineage_<stage>`` (partition_id int, row_count bigint,
        stage string) from the footers of the table committed at ``path``
        and return its total row count. Partitions that wrote no rows get
        no lineage row."""
        per_part = {pid: n for pid, n in sorted(committed_part_rows(path).items()) if n}
        lineage = pa.table(
            {
                "partition_id": pa.array(list(per_part), pa.int32()),
                "row_count": pa.array(list(per_part.values()), pa.int64()),
                "stage": pa.array([stage] * len(per_part), pa.string()),
            }
        )
        out = os.path.join(self.workdir, f"_lineage_{stage}")
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        # store_schema=False: no serialized Arrow schema in the footer, which
        # would add ~350 B per lineage file
        pq.write_table(lineage, os.path.join(out, "part-00000.parquet"), store_schema=False)
        return sum(per_part.values())

    def _snapshot_path(self, stage: str, info: dict) -> str:
        # streamed stages (record_stream_stage) live wherever the stream
        # sink wrote them; the manifest entry carries the explicit path
        explicit = info.get("path")
        if explicit is not None:
            return explicit
        base = os.path.join(self.workdir, stage)
        version = info.get("version")
        if version is None:
            return base  # pre-versioning flat layout
        return os.path.join(base, f"v{version}")

    def run(self, stage: str, build, rerun: bool = False) -> DataFrame:
        """Return the stage's snapshot, computing it only if not already
        materialized (resume-from-checkpoint semantics). ``rerun=True``
        forces a rebuild into a NEW snapshot version; prior versions stay
        readable via :meth:`read_snapshot`."""
        info = self.manifest["stages"].get(stage)
        if not rerun and info and info.get("done"):
            path = self._snapshot_path(stage, info)
            if os.path.exists(path):
                return self.spark.read.parquet(path)
        version = (info or {}).get("version")
        version = 1 if version is None else version + 1
        path = os.path.join(self.workdir, stage, f"v{version}")
        if os.path.exists(path):
            # a version dir the manifest never committed = leftovers of a
            # killed write; safe to clear (the committed snapshot, if any,
            # lives in a LOWER version dir the pointer still references)
            shutil.rmtree(path)
        t0 = time.time()
        df = build()
        # immutable new version; the manifest pointer flips only after the
        # write succeeds, so a kill mid-write cannot corrupt the previous
        # snapshot (Iceberg's write-new-then-commit discipline)
        df.write.mode("errorifexists").parquet(path)
        out = self.spark.read.schema(df.schema).parquet(path)
        entry = {
            "done": True,
            "rows": self._commit_lineage(stage, path),
            "seconds": round(time.time() - t0, 3),
            "version": version,
        }
        history = (info or {}).get("history", [])
        entry["history"] = history + [
            {"version": version, "rows": entry["rows"], "seconds": entry["seconds"], "ts": round(time.time(), 3)}
        ]
        self.manifest["stages"][stage] = entry
        self._save()
        return out

    def read_snapshot(self, stage: str, version: int | None = None) -> DataFrame:
        """Time-travel read: the stage's current snapshot, or any retained
        prior ``version`` (Iceberg ``VERSION AS OF`` stand-in)."""
        info = self.manifest["stages"].get(stage)
        if info is None:
            raise KeyError(f"stage {stage!r} has no snapshot")
        if version is None:
            return self.spark.read.parquet(self._snapshot_path(stage, info))
        known = {h["version"] for h in info.get("history", [])} | {info.get("version")}
        if version not in known:
            raise KeyError(f"stage {stage!r} has no version {version} (known: {sorted(k for k in known if k)})")
        return self.spark.read.parquet(os.path.join(self.workdir, stage, f"v{version}"))

    def run_table(self, stage: str, build, buckets: int = 32) -> DataFrame:
        """Like :meth:`run`, but the snapshot is a subj-bucketed TABLE
        (write_bucketed): HashPartitioning(subj) from the bucket spec feeds
        every per-observation plan without an observation-scale Exchange —
        the 100 TB validate-many at-rest form.

        Cross-session resume: bucketing metadata lives in the session
        catalog, which the sandbox keeps in memory — so the manifest entry
        records the table's warehouse ``location`` + bucket spec, and a NEW
        session that finds the files but not the catalog entry re-registers
        an external bucketed table over them (``CREATE TABLE ... CLUSTERED
        BY ... LOCATION``) instead of rebuilding. Spark recovers each
        file's bucket id from the ``_000NN`` part-file suffix saveAsTable
        wrote, so the re-registered table keeps HashPartitioning(subj) and
        the shuffle-free validate plans. A real deployment's Hive/Iceberg
        catalog makes even the metadata durable; this path is the
        file-system-truth equivalent."""
        import hashlib

        tbl = f"{stage}_{hashlib.md5(self.workdir.encode()).hexdigest()[:8]}"
        info = self.manifest["stages"].get(stage)
        if info and info.get("done"):
            if self.spark.catalog.tableExists(tbl):
                return self.spark.table(tbl)
            loc = info.get("location")
            if loc and os.path.isdir(loc):
                out = self._register_bucketed(tbl, loc, info)
                if out is not None:
                    return out
        t0 = time.time()
        df = build()
        from .sources.rdf import write_bucketed

        # Crash discipline: saveAsTable writes IN PLACE at warehouse/<tbl>
        # (unlike run()'s versioned dirs), so clear the manifest's done
        # flag BEFORE destroying the old location — a kill mid-write then
        # leaves done=false and the next session honestly rebuilds instead
        # of re-registering a table over partial part files.
        if info is not None:
            info = dict(info)
            info["done"] = False
            self.manifest["stages"][stage] = info
            self._save()
        # a previous SESSION's managed-table dir can survive the in-memory
        # catalog (on-disk warehouse): drop both before re-creating
        self.spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        warehouse = self.spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        shutil.rmtree(os.path.join(warehouse, tbl), ignore_errors=True)
        write_bucketed(df, tbl, buckets=buckets)
        location = os.path.join(warehouse, tbl)
        self.manifest["stages"][stage] = {
            "done": True,
            "table": tbl,
            "location": location,
            "buckets": buckets,
            "bucket_cols": ["subj"],
            "sort_cols": ["subj", "pred"],
            "rows": self._commit_lineage(stage, location),
            "seconds": round(time.time() - t0, 3),
        }
        self._save()
        return self.spark.table(tbl)

    def _register_bucketed(self, tbl: str, loc: str, info: dict) -> DataFrame | None:
        """Re-create the catalog entry for an at-rest bucketed table whose
        files survived a session restart. Returns None (caller rebuilds) if
        the files are unreadable, the DDL is rejected, or the files do not
        hold the manifest's committed row count (partial/foreign data must
        never be silently validated) — never raises, so a corrupted
        warehouse degrades to an honest rebuild."""
        try:
            expected = info.get("rows")
            if expected is not None and sum(committed_part_rows(loc).values()) != expected:
                return None
            schema = self.spark.read.parquet(loc).schema
            ddl = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields)
            bcols = ", ".join(f"`{c}`" for c in info.get("bucket_cols", ["subj"]))
            scols = ", ".join(f"`{c}`" for c in info.get("sort_cols", ["subj", "pred"]))
            self.spark.sql(
                f"CREATE TABLE {tbl} ({ddl}) USING parquet "
                f"CLUSTERED BY ({bcols}) SORTED BY ({scols}) "
                f"INTO {info.get('buckets', 32)} BUCKETS "
                f"LOCATION '{loc}'"
            )
            return self.spark.table(tbl)
        except Exception:  # noqa: BLE001 — degrade to rebuild
            return None


def validate_store(
    store: TripleStore, report_dir: str, strict_w3c: bool = False
) -> tuple[str, dict[str, int]]:
    """Run all 21 ICs over a normalized, materialized ``store`` and write
    the report under ``report_dir`` (one parquet table per IC in
    ``violations/`` plus ``validation_result_<ts>.md``), the reference's
    validateAll + report (nonsparql/NospaValidator.java:83-103).

    Each IC's declared scalar term columns, in the mode run, go through
    ``store.decode`` (the identity on a string store), so an encoded store
    reports IRIs, not ids. The validator's caches are released before this
    returns. Returns ``(markdown text, {ic: violation count})``;
    ``report_dir`` must be on the local filesystem."""
    os.makedirs(report_dir, exist_ok=True)
    with CubeValidator(store, strict_w3c=strict_w3c) as v:
        violations = {
            name: store.decode(df, v.term_columns(name)) for name, df in v.validate_all().items()
        }
        return write_validation_report(
            violations, parquet_dir=os.path.join(report_dir, "violations"), md_path=report_dir
        )


def validate_file(
    spark: SparkSession, path: str, report_dir: str, strict_w3c: bool = False
) -> tuple[TripleStore, str, dict[str, int]]:
    """Read an RDF cube (any form ``read_rdf`` takes), normalize it and
    validate it with :func:`validate_store` (Main.java:21-58). ``normalize``
    returns a materialized store, which every IC scans as it is. Returns
    ``(normalized store, markdown text, {ic: violation count})``."""
    store = normalize(TripleStore(read_rdf(spark, path)))
    text, counts = validate_store(store, report_dir, strict_w3c=strict_w3c)
    return store, text, counts


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    workdir: str,
    validate: bool = True,
    encoded: bool = True,
    buckets: int = 32,
) -> dict:
    """Full KG-construction run. Returns a dict of the stage DataFrames and,
    with ``validate=True``, the normalized cube as ``result["store"]``,
    ready for :func:`validate_store`.

    The DEFAULT at-rest layout is encoded — the round-3 sf1 bench (BENCH.md
    §9) measured the encoded validate path >= the string path at the
    reference's million-obs scale (best 1.18x, median 1.68x) on top of the
    5-10x shuffle-byte reduction; pass encoded=False for the plain string
    form.

    encoded=True adds the dictionary-encoded at-rest layout: two more
    resumable snapshots (``term_dict``: order-preserving int64 term ids;
    ``triples_encoded``: the int64 triple table — the form a 100 TB
    deployment keeps at rest, encode once / validate many). Validation
    then runs entirely on ids and ``validate_store`` decodes the report
    through ``result["store"].decode()`` (violation sets are small, so
    decode broadcasts them against the dictionary).

    validate=True materializes the NORMALIZED cube as a subj-bucketed table
    (stage ``cube_atrest``, ``buckets`` buckets) and returns the store over
    it: every per-observation aggregation/join in the 21 ICs is clustered
    by subj, so the bucket spec's HashPartitioning removes the
    observation-scale Exchange from the validate plans — at 100 TB that is
    the difference between scanning the cube and re-shuffling it per
    validation run. Composes with encoded=True (int64 ids bucket/sort
    cheaper than term strings)."""
    runner = StageRunner(spark, workdir)

    transcripts_df = runner.run("transcripts", lambda: transcripts)
    mentions = runner.run("mentions", lambda: extract_mentions(transcripts_df))
    dictionary = surface_dict(spark)
    linked = runner.run("linked", lambda: link_mentions(mentions, dictionary))
    alias_map = resolve_aliases(alias_edges(spark))
    canonical = runner.run("canonical", lambda: canonicalize(linked, alias_map))
    triples = runner.run("triples", lambda: edges_to_graph(spark, canonical))

    result = {
        "transcripts": transcripts_df,
        "mentions": mentions,
        "linked": linked,
        "canonical": canonical,
        "triples": triples,
    }
    if encoded:
        from .plans.encoding import EncodedTripleStore, build_dictionary, encode_triples

        term_dict = runner.run("term_dict", lambda: build_dictionary(triples))
        enc = runner.run("triples_encoded", lambda: encode_triples(triples, term_dict))
        result["term_dict"] = term_dict
        result["triples_encoded"] = enc
    if validate:
        if encoded:
            # constructed only when validating: the EncodedTripleStore init
            # resolves the vocabulary constants (a dictionary semi-join +
            # driver collect), a real job a resume-only call shouldn't pay
            base_store: TripleStore = EncodedTripleStore(enc, term_dict)
        else:
            base_store = TripleStore(triples)
        # normalize returns a materialized store: called inside the build,
        # a resumed run that finds the table pays nothing for it
        result["store"] = base_store.with_df(
            runner.run_table("cube_atrest", lambda: normalize(base_store).df, buckets=buckets)
        )
    return result
