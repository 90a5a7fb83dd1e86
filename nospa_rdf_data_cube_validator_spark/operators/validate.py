"""The 21 RDF Data Cube integrity constraints as DataFrame plans.

Semantics follow the *NoSPA* (non-SPARQL) implementations of the reference
(nonsparql/ValidatorIC*.java; see SURVEY.md §2.11 for the file:line map and
§7.0 for the quirks register). Each ``icN()`` returns a lazy violation
DataFrame; ``validate_all()`` returns the full dict. Differences from the
reference are deliberate and documented per-method:

- results are deterministic (the reference iterates HashSets; e.g. IC-12
  flags "all but the first seen" in hash order — we flag all but the
  minimum subject),
- cross-entity accumulation quirks that are order-nondeterministic in the
  reference (IC-8 cross-DSD propSet, ValidatorIC8.java:29-45; IC-19
  cross-dataset dim maps, ValidatorIC19.java:24-55) are replaced by the
  per-entity pairing of the official SPARQL constraints, which is the only
  deterministic reading.

Scale shape (100 TB target): everything schema-level (DSDs, components,
slice keys, code lists, hierarchies) is tiny and collected to the driver
once (plans/schema.py): IC-2..IC-8 are computed there in full, and the
other ICs join its Python-derived local relations as broadcasts; the only
observation-scale shuffles are the per-observation aggregations feeding
IC-1/11/12/13/14/15/16/17, each a single groupBy/window keyed by
observation or (dataset, dim-key).

Absent vocabulary builds no plan. The same collect observes the store's
distinct predicates and rdf:type classes, and an IC whose driving
vocabulary the cube lacks returns the empty frame of its declared schema
(COLUMNS) at the top of its method: IC-9 (no qb:Slice), IC-10 (no
qb:sliceStructure), IC-15/16 (no dataset with a qb:measureType
component), IC-17 (no qb:measureType), IC-18 (no qb:slice or no
qb:observation), IC-19 (no code list on a dimension) and IC-20/21 (none
of those lists hierarchical). Each guard holds in both modes because the
full plan is empty by construction whenever it fires: these ICs' empty
side is data, which Catalyst cannot fold.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import qb, terms
from ..plans.algebra import TripleStore, path_join
from ..plans.closure import transitive_closure
from ..plans.schema import SchemaSlice
from ..session import local_frame

_EMPTY_STR_ARRAY = "array()"


#: every IC's violation columns, declared once; STRICT_COLUMNS holds the
#: ICs whose strict_w3c plan returns other columns (IC-15/16/19) or other
#: nullability (IC-20/21). ``{t}`` is a store term — a string, or an int64
#: dictionary id on an encoded store — and these scalar term columns are
#: the ones an encoded store decodes for a readable report; ``{t}[]`` is a
#: sorted array of terms with no null element (it stays in id space); any
#: other type is DDL.
COLUMNS: dict[str, str] = {
    "ic1": "obs {t} NOT NULL, n_datasets bigint, datasets {t}[] NOT NULL",
    "ic2": "ds {t} NOT NULL, n_dsds bigint, dsds {t}[] NOT NULL",
    "ic3": "dsd {t} NOT NULL",
    "ic4": "dim {t}",
    "ic5": "dim {t} NOT NULL",
    "ic6": "comp_prop {t} NOT NULL",
    "ic7": "slice_key {t} NOT NULL",
    "ic8": "comp_prop {t} NOT NULL",
    "ic9": "slice {t} NOT NULL, n_structures bigint, structures {t}[] NOT NULL",
    "ic10": "slice {t} NOT NULL, dim {t} NOT NULL",
    "ic11": "obs {t} NOT NULL, dim {t}",
    "ic12": "obs {t} NOT NULL",
    "ic13": "obs {t} NOT NULL, attr {t} NOT NULL",
    "ic14": "obs {t} NOT NULL, measure {t} NOT NULL",
    "ic15": "obs {t} NOT NULL, measure_types array<{t}> NOT NULL",
    "ic16": "obs {t} NOT NULL, measure_types array<{t}> NOT NULL",
    "ic17": "obs {t} NOT NULL, n_unequal bigint NOT NULL",
    "ic18": "obs {t} NOT NULL, ds {t} NOT NULL",
    "ic19": "value {t}, code_lists {t}[] NOT NULL",
    "ic20": "value {t}, code_lists {t}[] NOT NULL",
    "ic21": "value {t}, code_lists {t}[] NOT NULL",
}
STRICT_COLUMNS: dict[str, str] = {
    "ic15": "obs {t} NOT NULL, measure {t} NOT NULL",
    "ic16": "obs {t} NOT NULL, measure {t} NOT NULL",
    "ic19": "obs {t} NOT NULL, dim {t}",
    "ic20": "value {t} NOT NULL, code_lists {t}[] NOT NULL",
    "ic21": "value {t} NOT NULL, code_lists {t}[] NOT NULL",
}


class CubeValidator:
    """Validator over a normalized triples store (cf. README.md:73 of the
    reference: validation assumes a normalized cube)."""

    def __init__(self, store: TripleStore, strict_w3c: bool = False):
        """strict_w3c=False (default) reproduces the NoSPA reference quirks
        (SURVEY.md §7.0); True switches the quirk-bearing checks to the
        official W3C SPARQL semantics (the reference's SPARQL twin,
        sparql/IntegrityConstraint.java:15-305):

        - IC-6: every componentRequired=false spec is checked, not only
          those referenced from some qb:component edge,
        - IC-12: duplicate key becomes the (dimension -> value) pairing
          instead of NoSPA's collapsed value *set*,
        - IC-14: measureType cubes are skipped instead of checked against
          the unfiltered component set,
        - IC-15/16: the official per-binding queries replace NoSPA's fused
          exactly-one split (output (obs, measure) per failing binding),
        - IC-17: a dim with != 1 values fails the match instead of being
          skipped per pair,
        - IC-19: every ?obs ?dim ?v binding is checked (no single-value
          guard) and the output is the official (obs, dim) pairs,
        - IC-20/21: each globally declared pcp instantiates its own
          hierarchyRoot/<p>* query over every hierarchical code list and
          violations union across pcps, exactly as the reference's
          SparqlValidator.validateIC20_21 executes the official queries;
          zero pcps -> zero violations (NoSPA instead falls back to
          root-membership-only for pcp-less lists).

        ICs 1-5, 7-11, 13 and 18 have NO strict branch because the NoSPA
        plan already coincides with the official SPARQL
        (IntegrityConstraint.java:16-147,223-244): both modes return
        identical violation sets by construction (the differential test
        suite pins this on the golden fixture and its mutations). IC-8's
        and IC-19's cross-DSD/cross-dataset accumulation in the reference
        is HashMap-iteration-order nondeterministic, and this engine's
        per-(dsd|dataset) pairing IS the official reading — the only
        deterministic one.
        """
        self.store = store
        self.strict_w3c = strict_w3c
        self._memo: dict[str, object] = {}
        self._persisted: list[DataFrame] = []

    # ------------------------------------------------------------------
    # shared sub-plans (all cached; metadata ones are tiny)
    # ------------------------------------------------------------------
    def _cached(self, key: str, build):
        if key not in self._memo:
            self._memo[key] = build()
        return self._memo[key]

    def _persist(self, df: DataFrame) -> DataFrame:
        """persist() with ownership: released by unpersist()/close() so
        per-query validator instances don't leak observation-scale cached
        frames for the session lifetime."""
        df = df.persist()
        self._persisted.append(df)
        return df

    def unpersist(self) -> None:
        """Release every frame this validator persisted. Safe to call after
        all violation DataFrames have been collected/written; results built
        on the memoized frames recompute from source if used afterwards."""
        for df in self._persisted:
            df.unpersist()
        self._persisted.clear()
        self._memo.clear()

    # context-manager sugar: `with CubeValidator(store) as v: ...`
    def __enter__(self) -> "CubeValidator":
        return self

    def __exit__(self, *exc) -> None:
        self.unpersist()

    def _columns(self, ic: str) -> list[list[str]]:
        """[name, type, *NOT NULL] of each of ``ic``'s declared columns in
        this validator's mode."""
        ddl = (self.strict_w3c and STRICT_COLUMNS.get(ic)) or COLUMNS[ic]
        return [c.split(" ") for c in ddl.split(", ")]

    def output_schema(self, ic: str) -> T.StructType:
        """The schema of ``getattr(self, ic)()`` over this store, in this mode."""
        t = self.store.term_sql_type
        out = T.StructType()
        for name, typ, *not_null in self._columns(ic):
            if typ == "{t}[]":
                dt = T.ArrayType(T.DataType.fromDDL(t), False)
            else:
                dt = T.DataType.fromDDL(typ.format(t=t))
            out.add(name, dt, not not_null)
        return out

    def term_columns(self, ic: str) -> list[str]:
        """``ic``'s scalar term columns: what an encoded store decodes."""
        return [name for name, typ, *_ in self._columns(ic) if typ == "{t}"]

    def _skip(self, ic: str) -> DataFrame:
        """``ic``'s violations on a cube without the vocabulary that drives
        it: the empty frame of its declared schema. Each guard that returns
        it is an identity (the full plan is empty by construction), so no
        plan is built and no job runs."""
        return local_frame(self._spark(), [], self.output_schema(ic))

    def _holds(self, pred: str) -> bool:
        """Whether some triple of the store has predicate ``pred``."""
        return self.store.term_value(pred) in self._schema().preds

    def _schema(self) -> SchemaSlice:
        """The store's schema slice and catalog (plans/schema.py), collected
        by the first IC that needs metadata. Every metadata frame below is
        derived from its rows in Python with no further Spark job, and the
        absent-vocabulary guards read its catalog; a slice over
        METADATA_CAP triples raises ValueError (the validator, like the
        reference, holds the schema in memory)."""
        return self._cached("schema", lambda: SchemaSlice(self.store))

    def _frame(self, key: str, rows, schema) -> DataFrame:
        """Memoized local relation of the driver rows ``rows()``; ``{t}`` in
        a DDL ``schema`` is the store's term type (a StructType is taken as
        is). An empty one (e.g. no qb:measureType, qb:codeList or hierarchy
        in the cube) lets the optimizer fold every IC joined to it into an
        empty LocalRelation before any job runs. Columns copied from store
        terms are declared NOT NULL, as the store's own term columns are."""
        return self._cached(
            key,
            lambda: local_frame(
                self._spark(),
                rows(),
                schema.format(t=self.store.term_sql_type) if isinstance(schema, str) else schema,
            ),
        )

    def _column(self, key: str, schema, values) -> DataFrame:
        """Memoized one-column ``_frame`` of the sorted terms ``values()``."""
        return self._frame(key, lambda: [(v,) for v in sorted(values())], schema)

    def obs_ds(self) -> DataFrame:
        """(obs, ds): the observation-scale qb:dataSet edge table."""
        return self._cached(
            "obs_ds",
            lambda: self.store.p(qb.QB_DATASET_PROP).select(
                F.col("subj").alias("obs"), F.col("obj").alias("ds")
            ),
        )

    def _spark(self):
        return self.store.df.sparkSession

    def ds_list(self) -> DataFrame:
        """Datasets = subjects of qb:structure (the reference's iteration
        domain for per-dataset checks, e.g. ValidatorIC11_12.java:30-41)."""
        return self._column("ds_list", "ds {t}", lambda: self._schema().ds_list)

    def ds_comp_props(self) -> DataFrame:
        """(ds, prop, prop_kind): ?ds qb:structure/qb:component/qb:componentProperty ?prop."""
        return self._frame(
            "ds_comp_props",
            lambda: self._schema().ds_comp_props,
            "ds {t}, prop {t}, prop_kind string",
        )

    def _typed(self, rdf_class: str) -> DataFrame:
        """Subjects typed ``rdf_class`` in the schema slice (column ``subj``)."""
        return self._column(rdf_class, "subj {t}", lambda: self._schema().typed(rdf_class))

    def dims_defined(self) -> DataFrame:
        return self._typed(qb.QB_DIMENSION_PROPERTY)

    def measures_defined(self) -> DataFrame:
        return self._typed(qb.QB_MEASURE_PROPERTY)

    def _obs_pred_stats(self, preds: DataFrame) -> DataFrame:
        """(obs, pred, n_vals, min_val) over triples whose pred is in ``preds``.

        ``preds`` must be a one-column ('pred') metadata-scale DataFrame; it
        is broadcast so the big scan never shuffles before the groupBy.
        """
        cand = self.store.df.join(F.broadcast(preds.distinct()), "pred", "left_semi")
        return cand.groupBy(F.col("subj").alias("obs"), "pred").agg(
            F.count("*").alias("n_vals"), F.min("obj").alias("min_val")
        )

    @staticmethod
    def _count_check(base: DataFrame, hop: DataFrame, key: str, out: str) -> DataFrame:
        """A1 cardinality != 1 ("exactly one") check: left join keeps the
        zero case that a plain groupBy over matches would drop."""
        joined = base.join(hop, base["subj"] == hop["s2"], "left")
        return (
            joined.groupBy(base["subj"].alias(key))
            .agg(
                F.sum(F.when(hop["o2"].isNotNull(), 1).otherwise(0)).alias(f"n_{out}"),
                F.sort_array(F.collect_set(hop["o2"])).alias(out),
            )
            .where(F.col(f"n_{out}") != 1)
        )

    def _hop2(self, pred: str) -> DataFrame:
        return self.store.p(pred).select(F.col("subj").alias("s2"), F.col("obj").alias("o2"))

    # ------------------------------------------------------------------
    # IC-1 .. IC-10 (metadata-dominated checks)
    # ------------------------------------------------------------------
    def ic1(self) -> DataFrame:
        """IC-1 Unique DataSet (ValidatorIC1.java:24-36) -> (obs, datasets, n_datasets)."""
        obs = self.store.typed(qb.QB_OBSERVATION)
        return self._count_check(obs, self._hop2(qb.QB_DATASET_PROP), "obs", "datasets")

    # IC-2..IC-8 read only schema vocabulary: each is set algebra over the
    # driver-held slice, a local relation with no job of its own
    def ic2(self) -> DataFrame:
        """IC-2 Unique DSD (ValidatorIC2.java:24-36) -> (ds, n_dsds, dsds)."""
        def rows():
            schema = self._schema()
            dsds: dict = {}  # every qb:structure edge counts, as in IC-1/IC-9
            for r in schema.edges(qb.QB_STRUCTURE):
                dsds.setdefault(r.subj, []).append(r.obj)
            found = ((ds, dsds.get(ds, [])) for ds in sorted(schema.typed(qb.QB_DATASET)))
            return [(ds, len(objs), sorted(set(objs))) for ds, objs in found if len(objs) != 1]

        return self._frame("ic2", rows, self.output_schema("ic2"))

    def ic3(self) -> DataFrame:
        """IC-3 DSD includes measure (ValidatorIC3.java:25-39) -> (dsd)."""
        def dsds():
            schema = self._schema()
            measures = schema.typed(qb.QB_MEASURE_PROPERTY)
            props = schema.dsd_props
            return {d for d in schema.typed(qb.QB_DSD) if not props.get(d, set()) & measures}

        return self._column("ic3", self.output_schema("ic3"), dsds)

    def ic4(self) -> DataFrame:
        """IC-4 Dimensions have range (ValidatorIC4.java:22-30) -> (dim)."""
        def dims():
            schema = self._schema()
            return schema.typed(qb.QB_DIMENSION_PROPERTY) - schema.objects(qb.RDFS_RANGE).keys()

        return self._column("ic4", self.output_schema("ic4"), dims)

    def ic5(self) -> DataFrame:
        """IC-5 Concept dimensions have code lists (ValidatorIC5.java:23-34) -> (dim)."""
        def dims():
            schema = self._schema()
            concept = schema.typed(qb.QB_DIMENSION_PROPERTY)
            concept &= schema.subjects(qb.RDFS_RANGE, qb.SKOS_CONCEPT)
            return concept - schema.objects(qb.QB_CODE_LIST).keys()

        return self._column("ic5", self.output_schema("ic5"), dims)

    def ic6(self) -> DataFrame:
        """IC-6 Only attributes may be optional (ValidatorIC6.java:21-38) -> (comp_prop).

        Scope quirk kept: only component specs that are the object of some
        qb:component edge are checked (ValidatorIC6.java:27-28);
        strict_w3c=True checks every spec carrying componentRequired false,
        matching the official SPARQL IC-6 (no qb:component guard)."""
        def props():
            schema = self._schema()
            optional = schema.subjects(qb.QB_COMPONENT_REQUIRED, terms.FALSE)
            if not self.strict_w3c:
                optional &= {spec for _dsd, spec in schema.pairs(qb.QB_COMPONENT)}
            found = {p for spec, p in schema.pairs(qb.QB_COMPONENT_PROPERTY) if spec in optional}
            return found - schema.typed(qb.QB_ATTRIBUTE_PROPERTY)

        return self._column("ic6", self.output_schema("ic6"), props)

    def ic7(self) -> DataFrame:
        """IC-7 Slice keys must be declared (ValidatorIC7.java:23-34) -> (slice_key)."""
        def keys():
            schema = self._schema()
            dsds = schema.typed(qb.QB_DSD)
            attached = {sk for dsd, sk in schema.pairs(qb.QB_SLICE_KEY_PROP) if dsd in dsds}
            return schema.typed(qb.QB_SLICE_KEY) - attached

        return self._column("ic7", self.output_schema("ic7"), keys)

    def ic8(self) -> DataFrame:
        """IC-8 Slice keys consistent with DSD (ValidatorIC8.java:24-47) -> (comp_prop).

        Deviation (documented, SURVEY.md §7.0): the reference accumulates
        slice-key props across DSDs without reset, which is
        iteration-order-nondeterministic with >1 DSD; we pair (dsd, prop)
        per the official SPARQL IC-8."""
        def props():
            schema = self._schema()
            keys = schema.typed(qb.QB_SLICE_KEY)
            key_props = schema.objects(qb.QB_COMPONENT_PROPERTY)
            return {
                p
                for dsd, sk in schema.pairs(qb.QB_SLICE_KEY_PROP)
                if sk in keys
                for p in key_props.get(sk, ())
                if p not in schema.dsd_props.get(dsd, ())
            }

        return self._column("ic8", self.output_schema("ic8"), props)

    def ic9(self) -> DataFrame:
        """IC-9 Unique slice structure (ValidatorIC9.java:23-34) -> (slice, structures, n_structures).

        Skipped when no subject is typed qb:Slice."""
        if self.store.term_value(qb.QB_SLICE) not in self._schema().classes:
            return self._skip("ic9")
        slices = self.store.typed(qb.QB_SLICE)
        return self._count_check(slices, self._hop2(qb.QB_SLICE_STRUCTURE), "slice", "structures")

    def ic10(self) -> DataFrame:
        """IC-10 Slice dimensions complete (ValidatorIC10.java:20-34) -> (slice, dim).

        Skipped without a qb:sliceStructure triple."""
        if not self._holds(qb.QB_SLICE_STRUCTURE):
            return self._skip("ic10")
        slice_dims = (
            path_join(self.store, [qb.QB_SLICE_STRUCTURE, qb.QB_COMPONENT_PROPERTY])
            .select(F.col("root").alias("slice"), F.col("leaf").alias("dim"))
            .distinct()
        )
        present = (
            self.store.df.select(F.col("subj").alias("slice"), F.col("pred").alias("dim"))
            .join(F.broadcast(slice_dims), ["slice", "dim"], "left_semi")
            .distinct()
        )
        return slice_dims.join(present, ["slice", "dim"], "left_anti")

    # ------------------------------------------------------------------
    # IC-11 / IC-12 — the fused observation-scale hot path
    # ------------------------------------------------------------------
    def ds_dims_arr(self) -> DataFrame:
        """(ds, dims sorted-array): declared dims per dataset, kept even when
        empty (a structure-bearing dataset with zero dims makes every obs
        after the first a duplicate under the reference's empty-key set)."""
        return self._frame("ds_dims_arr", self._ds_dims_rows, "ds {t}, dims array<{t}>")

    def _ds_dims_rows(self) -> list:
        """[(ds, sorted dims)] behind ds_dims_arr; also read by
        _ds_dim_pos, _tagged and ic11's wide-dataset probe."""
        def build():
            schema = self._schema()
            dimset = schema.typed(qb.QB_DIMENSION_PROPERTY)
            per_ds: dict = {}
            for ds, prop, kind in schema.ds_comp_props:
                if kind == terms.KIND_IRI and prop in dimset:
                    per_ds.setdefault(ds, set()).add(prop)
            return [(ds, sorted(per_ds.get(ds, ()))) for ds in schema.ds_list]

        return self._cached("ds_dims_rows", build)

    def _subj_clustered(self) -> bool:
        """True when the store's scan already provides hash-clustering on
        ``subj`` (the subj-bucketed at-rest table): the base then needs NO
        observation-scale Exchange at all. ``sparkPlan()`` (pre-AQE) is
        the level where a bucketed FileSourceScan reports its
        HashPartitioning; the localCheckpointed in-memory store reports
        UnknownPartitioning."""
        try:
            part = (
                self.store.df._jdf.queryExecution().sparkPlan().outputPartitioning().toString()
            )
        except Exception:  # noqa: BLE001 — introspection is best-effort
            return False
        return part.startswith("hashpartitioning(subj")

    def _tagged(self):
        """ONE filtered pass over the store keeping dimension-valued
        triples plus qb:dataSet edges, clustered by subj and persisted
        (guide §2.4): a single explicit hash(subj) repartition — skipped
        entirely when the at-rest bucketed layout already clusters by
        subj — feeds EVERY downstream ic11/ic12 operator, because
        HashPartitioning(obs) satisfies the stats aggregation's
        (obs, pred) clustering, the obs_ds dedup's (obs) clustering, the
        relevance equi-join, the per-(obs, ds) shape aggregation, the
        final left join and ic11's anti-join (subset clustering +
        requireAllClusterKeysForCoPartition=false). The previous form
        paid FOUR obs-scale exchanges: stats by (obs, pred), stats again
        by (obs), and the obs_ds subtree twice — an optimizer-inferred
        isnotnull on one branch broke exchange reuse, so the edge scan
        and its collect_set aggregation literally executed twice. The
        persist (owned, released by unpersist()) is the barrier that
        stops predicate pushdown from splitting the shared exchange back
        into per-branch scans.

        Returns (tagged df, dim-membership Column)."""
        def build():
            vals = sorted({p for _ds, dims in self._ds_dims_rows() for p in dims})
            # metadata-scale dim set: a codegen'd InSet filter — no
            # broadcast build job at all
            is_dim = F.col("pred").isin(vals) if vals else F.lit(False)
            ds_pred = self.store.lit(qb.QB_DATASET_PROP)
            tagged = self.store.df.where(is_dim | (F.col("pred") == ds_pred)).select(
                "subj", "pred", "obj"
            )
            if not self._subj_clustered():
                tagged = tagged.repartition(F.col("subj"))
            # NOT eagerly materialized: an eager count() here would let
            # consumers plan against the finalized cache's hash(subj)
            # partitioning (an unmaterialized cache reports Unknown and
            # consumers re-Exchange the small derived frames), but the
            # measured A/B put the extra materialization barrier ABOVE
            # the cost of those small exchanges (base+ic11 4.35 s lazy vs
            # 5.62 s eager at bench scale) — the fused first action wins.
            return (self._persist(tagged), is_dim)

        return self._cached("ic11_12_tagged", build)

    def _dim_rows(self) -> DataFrame:
        """Dimension-valued (subj, pred, obj) rows off the tagged cache."""
        tagged, is_dim = self._tagged()
        return tagged.where(is_dim)

    def _obs_ds_dedup(self) -> DataFrame:
        """Distinct (obs, ds) via groupBy(obs) collect_set + explode off
        the tagged cache: matches the value-SET semantics (an obs is
        checked once per dataset it belongs to) and rides the subj
        clustering — no exchange of its own."""
        tagged, _ = self._tagged()
        ds_pred = self.store.lit(qb.QB_DATASET_PROP)
        return (
            tagged.where(F.col("pred") == ds_pred)
            .select(F.col("subj").alias("obs"), F.col("obj").alias("ds"))
            .groupBy("obs")
            .agg(F.collect_set("ds").alias("_ds_set"))
            .select("obs", F.explode("_ds_set").alias("ds"))
        )

    def _ic11_12_base(self) -> DataFrame:
        """Shared per-(obs, ds) frame with the IC-12 duplicate key
        (fusion of IC-11+IC-12 over one pass, ValidatorIC11_12.java:61-85).

        The persisted frame is NARROW on purpose — (obs, ds, complete,
        present_mask, dim_key, key_h) with a single array column:
        completeness is a scalar count comparison (relevant rows are
        unique per (obs, ds, pred), so count(*) equals the number of
        present declared dims) and presence is an int64 BITMASK over the
        dataset's sorted dims array (bit i = dims[i] has a value) — a
        codegen-able long-buffer aggregate, not an array_except over
        cached string arrays; the ``missing`` array the previous base
        carried made the InMemoryRelation build + re-read the dominant
        cost of the hot path. ic11 reconstructs missing dims from the
        mask with a metadata-scale fan-out join (see ic11()); datasets
        with more than 63 declared dims get present_mask = NULL and
        ic11 falls back to a store-level anti-join for them."""
        def build():
            all_dims_pairs = F.broadcast(self._ds_dim_pos())
            # min per (obs, dim): SortAggregate over the already-clustered
            # cache — no exchange of its own; the degenerate-key partials
            # stay map-side (O(1) state per key).
            stats = self._dim_rows().groupBy(F.col("subj").alias("obs"), "pred").agg(
                F.min("obj").alias("min_val")
            )
            obs_ds = self._obs_ds_dedup()
            # Relevance by broadcast equi-join on the exploded (ds, dim)
            # pairs (codegen hash lookup; the previous array_contains join
            # condition re-scanned the dims array per row).
            relevant = stats.join(obs_ds, "obs").join(all_dims_pairs, ["ds", "pred"])
            t = self.store.term_sql_type
            if self.strict_w3c:
                # official semantics: key by the full (dim, value) pairing
                key_col = F.sort_array(
                    F.collect_list(
                        F.concat(
                            F.col("pred").cast("string"),
                            F.lit("\u0000"),
                            F.col("min_val").cast("string"),
                        )
                    )
                )
                key_t = "array<string>"
            else:
                # NoSPA value-set collapse quirk (Set<RDFNode> valueSet,
                # ValidatorIC11_12.java:70-80): collect_set == the distinct
                # the transform+array_distinct form computed
                key_col = F.sort_array(F.collect_set("min_val"))
                key_t = f"array<{t}>"
            # bit_or over shifted positions is a plain long-buffer
            # aggregate; rows from >63-dim datasets contribute NULL
            # (bit_or ignores nulls -> mask stays meaningful only when
            # every position fits, which _ds_dim_pos guarantees by
            # nulling pos for those datasets).
            agg = relevant.groupBy("obs", "ds").agg(
                F.count("*").alias("n_present"),
                F.bit_or(F.expr("shiftleft(cast(1 as bigint), pos)")).alias("mask0"),
                key_col.alias("dim_key0"),
            )
            n_dims = F.broadcast(
                self.ds_dims_arr().select("ds", F.size("dims").alias("n_dims"))
            )
            # LEFT join keeps dataSet-bearing observations with zero
            # relevant dim values (complete iff the dataset declares zero
            # dims — the empty duplicate key, the degenerate-skew shape);
            # observations without a dataSet edge drop exactly as before.
            base = (
                obs_ds.join(agg, ["obs", "ds"], "left")
                .join(n_dims, "ds", "inner")
                .select(
                    "obs",
                    "ds",
                    (F.coalesce("n_present", F.lit(0)) == F.col("n_dims")).alias(
                        "complete"
                    ),
                    F.when(
                        F.col("n_dims") <= 63,
                        F.coalesce("mask0", F.lit(0).cast("long")),
                    ).alias("present_mask"),
                    F.coalesce("dim_key0", F.expr("array()").cast(key_t)).alias(
                        "dim_key"
                    ),
                )
                .withColumn("key_h", F.xxhash64("ds", "dim_key"))
            )
            return self._persist(base)

        return self._cached("ic11_12_base", build)

    def _ds_dim_pos(self) -> DataFrame:
        """Metadata frame (ds, pred, pos): each dataset's declared dims
        with their position in the sorted dims array; pos is NULL for
        datasets declaring more than 63 dims (no bitmask slot)."""
        return self._frame(
            "ds_dim_pos",
            lambda: [
                (ds, p, i if len(dims) <= 63 else None)
                for ds, dims in self._ds_dims_rows()
                for i, p in enumerate(dims)
            ],
            "ds {t}, pred {t}, pos int",
        )

    def ic11(self) -> DataFrame:
        """IC-11 All dimensions required -> (obs, dim).

        Reference picks the *first* value per dim from a HashSet iterator
        (ValidatorIC11_12.java:75); we deterministically use the minimum
        canonical term.

        Missing dims come from the shared base's presence BITMASK: only
        incomplete (obs, ds) rows fan out against the metadata-scale
        (ds, dim, pos) broadcast, and a bit test selects the absent
        positions — no per-observation arrays and no second
        observation-scale pass (guide §1.2: the base is computed once for
        IC-11+IC-12 together). Datasets with >63 dims (present_mask NULL)
        take a store-level anti-join fallback for exactness."""
        base = self._ic11_12_base()
        pairs = F.broadcast(self._ds_dim_pos())
        incomplete = base.where(~F.col("complete"))
        masked = (
            incomplete.where(F.col("present_mask").isNotNull())
            .join(pairs, "ds")
            .where(F.expr("(shiftright(present_mask, pos) & 1) = 0"))
            .select("obs", F.col("pred").alias("dim"))
        )
        # the >63-dim fallback subtree joins the observation-scale store
        # again, so it enters the plan only when such a dataset EXISTS
        # (driver-side probe of the schema rows)
        if not any(len(dims) > 63 for _ds, dims in self._ds_dims_rows()):
            return masked.distinct()
        wide = incomplete.where(F.col("present_mask").isNull())
        # >63-dim datasets: exact anti-join limited to those rows
        expected = (
            wide.select("obs", "ds")
            .join(pairs.select("ds", F.col("pred").alias("dim")).distinct(), "ds")
            .select("obs", "dim")
        )
        present = self._dim_rows().select(
            F.col("subj").alias("obs"), F.col("pred").alias("dim")
        )
        fallback = expected.join(present, ["obs", "dim"], "left_anti")
        return masked.unionByName(fallback).distinct()

    def ic12(self) -> DataFrame:
        """IC-12 No duplicate observations -> (obs).

        Duplicate key is the *set* of chosen dimension values — NoSPA's
        value-set collapse quirk (Set<RDFNode> valueSet,
        ValidatorIC11_12.java:70-80): crossed values over two dims collide.
        The reference flags all but the hash-order-first member of each
        duplicate group; we flag all but the minimum observation id."""
        base = self._ic11_12_base()
        # dim_key/key_h are precomputed (mode-appropriate) in the shared
        # base — see _ic11_12_base.
        # Two-phase skew-safe dup detection (vs the earlier
        # Window.partitionBy(key) min-over form): phase 1 is a groupBy with
        # MAP-SIDE partial aggregation, so even a degenerate cube where
        # every observation shares one key (one dataset, zero declared
        # dims -> empty dim_key) ships only per-partition (min, count)
        # partials through the shuffle instead of every row into a single
        # window partition; phase 2 joins the (rare) duplicate groups back.
        # A window partition cannot be split — AQE's skew handling only
        # applies to joins — so the window form has an unfixable straggler
        # at 100 TB; the join here is a plain shuffle join AQE CAN split,
        # and it degenerates to broadcast when dup groups are few (the
        # common case: duplicate keys are the exception, not the rule).
        # 8-byte hash leads the key so shuffle comparison is long-first.
        keyed = base.where(F.col("complete")).select("obs", "key_h", "ds", "dim_key")
        groups = (
            keyed.groupBy("key_h", "ds", "dim_key")
            .agg(F.min("obs").alias("rep"), F.count("*").alias("n"))
            .where(F.col("n") > 1)
            .select("key_h", "ds", "dim_key", "rep")
        )
        return (
            keyed.join(groups, ["key_h", "ds", "dim_key"], "inner")
            .where(F.col("obs") != F.col("rep"))
            .select("obs")
            .distinct()
        )

    # ------------------------------------------------------------------
    # IC-13 / IC-14 — expected-property completeness per observation
    # ------------------------------------------------------------------
    def _missing_props(self, ds_props: DataFrame, out_col: str) -> DataFrame:
        """Generic 'obs is missing one of its dataset's expected props' plan.

        ds_props: metadata-scale (ds, prop). Returns (obs, <out_col>) rows.
        """
        arr = ds_props.groupBy("ds").agg(F.sort_array(F.collect_set("prop")).alias("props"))
        stats = self._obs_pred_stats(ds_props.select(F.col("prop").alias("pred")))
        per_obs = stats.groupBy("obs").agg(F.collect_set("pred").alias("present"))
        return (
            self.obs_ds()
            .join(F.broadcast(arr), "ds", "inner")
            .join(per_obs, "obs", "left")
            .withColumn(
                "present",
                F.coalesce(
                    "present", F.expr(_EMPTY_STR_ARRAY).cast(f"array<{self.store.term_sql_type}>")
                ),
            )
            .withColumn("missing", F.expr("array_except(props, present)"))
            .where(F.size("missing") > 0)
            .select("obs", F.explode("missing").alias(out_col))
            .distinct()
        )

    def ic13(self) -> DataFrame:
        """IC-13 Required attributes (ValidatorIC13.java:20-66) -> (obs, attr)."""
        def rows():
            schema = self._schema()
            required = schema.subjects(qb.QB_COMPONENT_REQUIRED, terms.TRUE)
            props: dict = {}
            for r in schema.edges(qb.QB_COMPONENT_PROPERTY):
                if r.obj_kind == terms.KIND_IRI and r.subj in required:
                    props.setdefault(r.subj, set()).add(r.obj)
            return sorted({(ds, p) for ds, spec in schema.ds_specs for p in props.get(spec, ())})

        ds_attrs = self._frame("ds_required_attrs", rows, "ds {t} NOT NULL, prop {t} NOT NULL")
        return self._missing_props(ds_attrs, "attr")

    def _mt_ds_vals(self) -> set:
        """Datasets whose component properties include qb:measureType."""
        mt = self.store.term_value(qb.QB_MEASURE_TYPE)
        return {ds for ds, prop, _kind in self._schema().ds_comp_props if prop == mt}

    def measure_type_datasets(self) -> DataFrame:
        """Datasets whose component properties include qb:measureType."""
        return self._column("mt_ds", "ds {t}", self._mt_ds_vals)

    def ic14(self) -> DataFrame:
        """IC-14 All measures present (ValidatorIC14.java:21-62) -> (obs, measure).

        Quirk kept (SURVEY.md §7.0): for measureType cubes the reference
        checks the *unfiltered* component-property set instead of skipping
        the dataset (ValidatorIC14.java:30-35)."""
        dcp = self.ds_comp_props().where(F.col("prop_kind") == terms.KIND_IRI)
        mt_ds = self.measure_type_datasets()
        without_mt = (
            dcp.join(mt_ds, "ds", "left_anti")
            .join(self.measures_defined().withColumnRenamed("subj", "prop"), "prop", "left_semi")
            .select("ds", "prop")
        )
        if self.strict_w3c:
            # official IC-14 skips measureType cubes entirely
            return self._missing_props(without_mt.distinct(), "measure")
        with_mt = dcp.join(mt_ds, "ds", "left_semi").select("ds", "prop")
        return self._missing_props(with_mt.unionByName(without_mt).distinct(), "measure")

    # ------------------------------------------------------------------
    # IC-15 / IC-16 — measure-dimension cubes
    # ------------------------------------------------------------------
    def _ds_measures_arr(self) -> DataFrame:
        """(ds, measures sorted-array) for measureType datasets."""
        def rows():
            mt_ds = self._mt_ds_vals()
            measures = self._schema().typed(qb.QB_MEASURE_PROPERTY)
            per_ds: dict = {ds: set() for ds in mt_ds}
            for ds, prop, _kind in self._schema().ds_comp_props:
                if ds in mt_ds and prop in measures:
                    per_ds[ds].add(prop)
            return [(ds, sorted(props)) for ds, props in sorted(per_ds.items())]

        return self._frame("ds_measures_arr", rows, "ds {t}, measures array<{t}>")

    def _ic15_16_base(self) -> DataFrame:
        """Per (obs in measureType cube): measureType values + measure value count
        (ValidatorIC15_16.java:25-70)."""
        def build():
            obs_mt_cube = self.obs_ds().join(self.measure_type_datasets(), "ds", "left_semi")
            mt_stats = (
                self.store.df.where(F.col("pred") == self.store.lit(qb.QB_MEASURE_TYPE))
                .groupBy(F.col("subj").alias("obs"))
                .agg(
                    F.sort_array(F.collect_set("obj")).alias("measure_types"),
                    F.count("*").alias("n_mt_stmts"),
                )
                .withColumn("n_mt", F.size("measure_types"))
            )
            meas_counts = self._obs_pred_stats(
                self.measures_defined().select(F.col("subj").alias("pred"))
            ).select("obs", F.col("pred").alias("mt"), F.col("n_vals").alias("n_meas_vals"))
            base = (
                obs_mt_cube.join(mt_stats, "obs", "left")
                .withColumn(
                    "measure_types",
                    F.coalesce(
                        "measure_types",
                        F.expr(_EMPTY_STR_ARRAY).cast(f"array<{self.store.term_sql_type}>"),
                    ),
                )
                .withColumn("n_mt", F.coalesce("n_mt", F.lit(0)))
                .withColumn("mt", F.when(F.col("n_mt") == 1, F.col("measure_types")[0]))
                .join(F.broadcast(self._ds_measures_arr()), "ds", "inner")
                .join(meas_counts, ["obs", "mt"], "left")
                .withColumn("n_meas_vals", F.coalesce("n_meas_vals", F.lit(0)))
            )
            return base

        return self._cached("ic15_16_base", build)

    def ic15(self) -> DataFrame:
        """IC-15 Measure dimension consistent -> (obs, measure_types).

        The fused reference result is split by set size: exactly-one
        measureType but wrong/absent measure value -> IC-15
        (NospaValidator.java:339-347).

        strict_w3c=True runs the official SPARQL IC-15 verbatim
        (IntegrityConstraint.java:178-187): EVERY qb:measureType binding of
        an observation in a measureType cube must have a value on that
        observation — no exactly-one split, no declared-measure check;
        output is (obs, measure) per failing binding.

        Skipped when no dataset has qb:measureType among its components."""
        if not self._mt_ds_vals():
            return self._skip("ic15")
        if self.strict_w3c:
            obs_in_mt = (
                self.obs_ds()
                .join(self.measure_type_datasets(), "ds", "left_semi")
                .select("obs")
                .distinct()
            )
            mt_edges = self.store.p(qb.QB_MEASURE_TYPE).select(
                F.col("subj").alias("obs"), F.col("obj").alias("measure")
            )
            pairs = mt_edges.join(obs_in_mt, "obs", "left_semi").distinct()
            mts = pairs.select(F.col("measure").alias("pred")).distinct()
            present = (
                self.store.df.join(F.broadcast(mts), "pred", "left_semi")
                .select(F.col("subj").alias("obs"), F.col("pred").alias("measure"))
                .distinct()
            )
            return pairs.join(present, ["obs", "measure"], "left_anti")
        base = self._ic15_16_base()
        return (
            base.where(
                (F.col("n_mt") == 1)
                & (
                    (~F.expr("array_contains(measures, mt)"))
                    | (F.col("n_meas_vals") != 1)
                )
            )
            .select("obs", "measure_types")
            .distinct()
        )

    def ic16(self) -> DataFrame:
        """IC-16 Single measure on measure-dimension observation -> (obs, measure_types).

        Set size != 1 (zero or multiple qb:measureType values) lands here,
        matching the reference's split.

        strict_w3c=True runs the official SPARQL IC-16 verbatim
        (IntegrityConstraint.java:189-202): an observation carrying
        qb:measureType ?m plus a value for some OTHER measure ?om (typed
        MeasureProperty AND declared in the dsd's components) is flagged as
        (obs, measure=?m) — per binding, independent of how many
        measureTypes the observation has.

        Skipped when no dataset has qb:measureType among its components."""
        if not self._mt_ds_vals():
            return self._skip("ic16")
        if self.strict_w3c:
            mt_edges = self.store.p(qb.QB_MEASURE_TYPE).select(
                F.col("subj").alias("obs"), F.col("obj").alias("measure")
            )
            ds_meas = (
                self.ds_comp_props()
                .join(self.measure_type_datasets(), "ds", "left_semi")
                .join(
                    self.measures_defined().withColumnRenamed("subj", "prop"), "prop", "left_semi"
                )
                .select("ds", "prop")
                .distinct()
            )
            props = ds_meas.select(F.col("prop").alias("pred")).distinct()
            obs_prop_vals = (
                self.store.df.join(F.broadcast(props), "pred", "left_semi")
                .select(F.col("subj").alias("obs"), F.col("pred").alias("prop"))
                .distinct()
            )
            return (
                self.obs_ds()
                .join(mt_edges, "obs")
                .join(F.broadcast(ds_meas), "ds")
                .join(obs_prop_vals, ["obs", "prop"], "left_semi")
                .where(F.col("prop") != F.col("measure"))
                .select("obs", "measure")
                .distinct()
            )
        base = self._ic15_16_base()
        return base.where(F.col("n_mt") != 1).select("obs", "measure_types").distinct()

    # ------------------------------------------------------------------
    # IC-17 — group-size check replacing the reference's O(n^2) loop
    # ------------------------------------------------------------------
    def ic17(self) -> DataFrame:
        """IC-17 All measures present in measure-dim cube (ValidatorIC17.java:24-96)
        -> (obs, n_unequal).

        groupBy on the per-dataset non-measure dim-value vector replaces the
        reference's pairwise loop. Reference quirks kept: observations are
        restricted to those carrying qb:measureType (:34,42); dims where an
        observation has != 1 values are SKIPPED in the pairwise equality —
        one-sidedly, per obs pair (ValidatorIC17.java:87: ``if
        (valueSet1.size() != 1 || valueSet2.size() != 1) continue``). The
        vector slot for such a dim is NULL; "clean" observations (no NULL
        slots) compare by plain vector equality, so their counts come from
        one groupBy, while "dirty" observations fall back to a per-dataset
        join that evaluates the skip-aware equality between DISTINCT value
        vectors (with multiplicities) — O(|distinct vecs| * |distinct dirty
        vecs|) per dataset, bounded even when every observation is dirty,
        vs the reference's O(|obs_ds|^2) pairwise loop.
        Violation iff the equal-count != #declared measures,
        reported as n_unequal = |obs_ds| - equal-count (:50-57).

        strict_w3c=True uses the official SPARQL reading instead: every
        declared dimension must match with BOTH values present, so an
        observation lacking a single value for some dimension matches
        nothing (equal-count 0) rather than skipping the dimension.

        Skipped without a qb:measureType triple: only observations that
        carry one are checked, in both modes."""
        if not self._holds(qb.QB_MEASURE_TYPE):
            return self._skip("ic17")
        dcp = self.ds_comp_props()
        n_meas = (
            dcp.join(self.measures_defined().withColumnRenamed("subj", "prop"), "prop", "left_semi")
            .groupBy("ds")
            .agg(F.countDistinct("prop").alias("n_measures"))
        )
        ds_dims17 = (
            dcp.where(
                (F.col("prop_kind") == terms.KIND_IRI)
                & (F.col("prop") != self.store.lit(qb.QB_MEASURE_TYPE))
            )
            .join(self.dims_defined().withColumnRenamed("subj", "prop"), "prop", "left_semi")
            .select("ds", "prop")
            .distinct()
        )
        dims_arr = (
            self.ds_list()
            .join(
                ds_dims17.groupBy("ds").agg(F.sort_array(F.collect_set("prop")).alias("dims")),
                "ds",
                "left",
            )
            .withColumn(
                "dims",
                F.coalesce("dims", F.expr(_EMPTY_STR_ARRAY).cast(f"array<{self.store.term_sql_type}>")),
            )
            .join(n_meas, "ds", "left")
            .withColumn("n_measures", F.coalesce("n_measures", F.lit(0)))
        )
        obs_with_mt = (
            self.store.subjects_with(qb.QB_MEASURE_TYPE).select(F.col("subj").alias("obs"))
        )
        stats = self._obs_pred_stats(ds_dims17.select(F.col("prop").alias("pred")))
        per_obs = stats.groupBy("obs").agg(
            F.collect_list(F.struct("pred", "n_vals", "min_val")).alias("pvs")
        )
        base = (
            self.obs_ds()
            .join(obs_with_mt, "obs", "left_semi")
            .join(F.broadcast(dims_arr), "ds", "inner")
            .join(per_obs, "obs", "left")
            .withColumn(
                "pvs",
                F.coalesce(
                    "pvs",
                    F.expr("array()").cast(
                        f"array<struct<pred:{self.store.term_sql_type},n_vals:bigint,"
                        f"min_val:{self.store.term_sql_type}>>"
                    ),
                ),
            )
            .withColumn(
                "vec",
                F.expr(
                    "transform(dims, d -> array_min(transform("
                    "filter(pvs, x -> x.pred = d and x.n_vals = 1), x -> x.min_val)))"
                ),
            )
        )
        base = base.withColumn("vec_h", F.xxhash64("ds", "vec"))
        base = base.withColumn("is_dirty", F.expr("exists(vec, x -> x is null)"))
        if self.strict_w3c:
            # official reading: a dirty observation matches nothing.
            # Two-phase (groupBy with map-side partials + join-back)
            # replacing the Window.partitionBy forms, exactly as the
            # default branch was converted in r5: a window partition
            # cannot be split, so Window.partitionBy("ds") funneled every
            # observation of a dataset through ONE task — the unfixable
            # 100 TB straggler the r5 verdict flagged on this branch. A
            # clean row's (vec_h, ds, vec) window partition can only hold
            # clean rows (a dirty vec carries a null slot and can never
            # structurally equal an all-non-null vec), so the clean-only
            # groupBy count reproduces the window count exactly.
            base = self._persist(
                base.select("obs", "ds", "vec", "vec_h", "n_measures", "is_dirty")
            )
            n_obs_ds = base.groupBy("ds").agg(F.count("*").alias("n_obs"))
            cg = (
                base.where(~F.col("is_dirty"))
                .groupBy("ds", "vec_h", "vec")
                .agg(F.count("*").alias("c"))
            )
            return (
                base.join(cg, ["ds", "vec_h", "vec"], "left")
                .withColumn(
                    "grp",
                    F.when(F.col("is_dirty"), F.lit(0)).otherwise(
                        F.coalesce("c", F.lit(0))
                    ),
                )
                .join(F.broadcast(n_obs_ds), "ds")
                .where(F.col("grp") != F.col("n_measures"))
                .select("obs", (F.col("n_obs") - F.col("grp")).alias("n_unequal"))
                .distinct()
            )
        base = self._persist(
            base.select("obs", "ds", "vec", "vec_h", "n_measures", "is_dirty")
        )
        n_obs_ds = base.groupBy("ds").agg(F.count("*").alias("n_obs"))
        clean = base.where(~F.col("is_dirty"))
        dirty = base.where(F.col("is_dirty"))
        cg = clean.groupBy("ds", "vec_h", "vec").agg(F.count("*").alias("c"))
        # clean obs1: equal clean obs2 = its own vector group (incl. itself)
        a_clean = clean.join(cg, ["ds", "vec_h", "vec"]).select(
            "obs", "ds", F.col("c").alias("eq_n")
        )
        # skip-aware pair equality: unequal iff some dim has BOTH sides
        # single-valued and the values differ (ValidatorIC17.java:85-93)
        eq = (
            "!exists(zip_with(vec1, vec2,"
            " (x, y) -> x is not null and y is not null and x != y), b -> b)"
        )
        # The skip-aware equality depends only on (vec1, vec2), so every
        # dirty-side join is keyed on DISTINCT vectors with multiplicities —
        # O(|distinct vecs| x |distinct dirty vecs|) per dataset, never
        # O(|dirty| x |obs_ds|): even a cube where EVERY obs misses a dim
        # value collapses to its (few) distinct dirty vectors first. Array
        # equi-joins/groupBys compare null elements structurally, so vecs
        # with NULL slots group and re-join exactly.
        dg = dirty.groupBy("ds", "vec_h", "vec").agg(F.count("*").alias("dc"))
        vg = base.select("ds", "vec_h", "vec").distinct()
        # dirty vec1 vs the clean groups of its dataset, fanned back per obs
        a_dirty_vec = (
            dg.select("ds", "vec_h", "vec", F.col("vec").alias("vec1"))
            .join(cg.select("ds", F.col("vec").alias("vec2"), "c"), "ds")
            .where(F.expr(eq))
            .groupBy("ds", "vec_h", "vec")
            .agg(F.sum("c").alias("eq_n"))
        )
        a_dirty = dirty.join(a_dirty_vec, ["ds", "vec_h", "vec"]).select(
            "obs", "ds", "eq_n"
        )
        # every vec1 vs the dirty vec2 multiset of its dataset (a dirty obs
        # counts itself here, mirroring the reference's self-inclusive loop)
        b_vec = (
            vg.select("ds", "vec_h", "vec", F.col("vec").alias("vec1"))
            .join(dg.select("ds", F.col("vec").alias("vec2"), "dc"), "ds")
            .where(F.expr(eq))
            .groupBy("ds", "vec_h", "vec")
            .agg(F.sum("dc").alias("eq_dirty"))
        )
        b = base.join(b_vec, ["ds", "vec_h", "vec"]).select("obs", "ds", "eq_dirty")
        equals = (
            base.select("obs", "ds", "n_measures")
            .join(a_clean.unionByName(a_dirty), ["obs", "ds"], "left")
            .join(b, ["obs", "ds"], "left")
            .withColumn(
                "eq_total",
                F.coalesce("eq_n", F.lit(0)) + F.coalesce("eq_dirty", F.lit(0)),
            )
        )
        return (
            equals.join(F.broadcast(n_obs_ds), "ds")
            .where(F.col("eq_total") != F.col("n_measures"))
            .select("obs", (F.col("n_obs") - F.col("eq_total")).alias("n_unequal"))
            .distinct()
        )

    # ------------------------------------------------------------------
    # IC-18 — dataset/slice/observation back-link consistency
    # ------------------------------------------------------------------
    def ic18(self) -> DataFrame:
        """IC-18 Consistent dataset links (ValidatorIC18.java:25-39) -> (obs, ds).

        Skipped without a qb:slice or without a qb:observation triple."""
        if not (self._holds(qb.QB_SLICE_PROP) and self._holds(qb.QB_OBSERVATION_PROP)):
            return self._skip("ic18")
        ds_slice = self.store.p(qb.QB_SLICE_PROP).select(
            F.col("subj").alias("ds"), F.col("obj").alias("slice")
        )
        slice_obs = self.store.p(qb.QB_OBSERVATION_PROP).select(
            F.col("subj").alias("slice"), F.col("obj").alias("obs")
        )
        pairs = ds_slice.join(slice_obs, "slice").select("ds", "obs").distinct()
        return pairs.join(self.obs_ds(), ["obs", "ds"], "left_anti")

    # ------------------------------------------------------------------
    # IC-19 — code-list membership (ConceptScheme direct, Collection via member+)
    # ------------------------------------------------------------------
    def _dim_cl_rows(self) -> list:
        """Sorted (dim, cl): qb:codeList values of typed DimensionProperties."""
        def build():
            dims = self._schema().typed(qb.QB_DIMENSION_PROPERTY)
            return sorted(p for p in self._schema().pairs(qb.QB_CODE_LIST) if p[0] in dims)

        return self._cached("dim_cl_rows", build)

    def _dim_code_lists(self) -> DataFrame:
        """(dim, cl): the _dim_cl_rows frame."""
        return self._frame("dim_cl", self._dim_cl_rows, "dim {t} NOT NULL, cl {t} NOT NULL")

    def _ds_code_dims(self, dim_cl: DataFrame) -> DataFrame:
        """(ds, dim): code-listed declared dimensions per dataset."""
        return (
            self.ds_comp_props()
            .where(F.col("prop_kind") == terms.KIND_IRI)
            .join(self.dims_defined().withColumnRenamed("subj", "prop"), "prop", "left_semi")
            .join(dim_cl.select(F.col("dim").alias("prop")).distinct(), "prop", "left_semi")
            .select("ds", F.col("prop").alias("dim"))
            .distinct()
        )

    def _obs_dim_single_vals(self, dim_cl: DataFrame) -> DataFrame:
        """(obs, dim, value) where the obs has exactly one value for a
        code-listed dimension of its own dataset (valueSet.size()==1 guard,
        ValidatorIC19.java:120-124 / ValidatorIC20_21.java:120-125)."""
        ds_dims = self._ds_code_dims(dim_cl)
        stats = self._obs_pred_stats(ds_dims.select(F.col("dim").alias("pred")))
        vals = stats.where(F.col("n_vals") == 1).select(
            "obs", F.col("pred").alias("dim"), F.col("min_val").alias("value")
        )
        return (
            self.obs_ds()
            .join(F.broadcast(ds_dims), "ds")
            .join(vals, ["obs", "dim"], "inner")
            .select("obs", "dim", "value")
        )

    def _obs_dim_all_vals(self, dim_cl: DataFrame) -> DataFrame:
        """(obs, dim, value): EVERY value binding of a code-listed dimension
        of the observation's own dataset — the official SPARQL's
        ``?obs ?dim ?v`` with no single-value guard (strict mode)."""
        ds_dims = self._ds_code_dims(dim_cl)
        vals = self.store.df.join(
            F.broadcast(ds_dims.select(F.col("dim").alias("pred")).distinct()),
            "pred",
            "left_semi",
        ).select(
            F.col("subj").alias("obs"), F.col("pred").alias("dim"), F.col("obj").alias("value")
        )
        return (
            self.obs_ds()
            .join(F.broadcast(ds_dims), "ds")
            .join(vals, ["obs", "dim"], "inner")
            .select("obs", "dim", "value")
        )

    def ic19(self) -> DataFrame:
        """IC-19 Codes from code list (ValidatorIC19.java:22-158)
        -> (value, code_lists sorted-array), keyed by VALUE like NoSPA
        (not by obs/dim as in the SPARQL twin).

        Deviation (documented): the reference accumulates the dim->codelist
        maps across datasets in hash order (ValidatorIC19.java:24-55); we
        pair each observation with the dimensions of its own dataset, the
        official SPARQL reading.

        strict_w3c=True runs the official SPARQL IC-19 verbatim
        (IntegrityConstraint.java:246-263): EVERY ``?obs ?dim ?v`` binding is
        checked (no single-value guard), and the output is the (obs, dim)
        pairs with some failing binding instead of NoSPA's value-keyed rows.

        Skipped when no typed DimensionProperty has a qb:codeList."""
        if not self._dim_cl_rows():
            return self._skip("ic19")
        dim_cl = self._dim_code_lists()
        schemes = self.store.typed(qb.SKOS_CONCEPT_SCHEME).select(F.col("subj").alias("cl"))
        collections = self.store.typed(qb.SKOS_COLLECTION).select(F.col("subj").alias("cl"))
        dim_ccl = dim_cl.join(schemes, "cl", "left_semi")
        dim_lcl = dim_cl.join(collections, "cl", "left_semi")

        concepts = self.store.typed(qb.SKOS_CONCEPT).select(F.col("subj").alias("value"))
        in_scheme = self.store.p(qb.SKOS_IN_SCHEME).select(
            F.col("subj").alias("value"), F.col("obj").alias("cl")
        )

        if self.strict_w3c:
            member = self.store.p(qb.SKOS_MEMBER).select(
                F.col("subj").alias("src"), F.col("obj").alias("dst")
            )
            lcl_cls = dim_lcl.select("cl").distinct()
            seeds = lcl_cls.join(member, lcl_cls["cl"] == member["src"], "inner").select(
                "cl", F.col("dst").alias("node")
            )
            reach = transitive_closure(seeds, member).withColumnRenamed("node", "value")
            pairs = self._obs_dim_all_vals(dim_ccl.unionByName(dim_lcl).distinct())
            p_c = pairs.join(F.broadcast(dim_ccl), "dim")
            ok_c = p_c.join(in_scheme, ["value", "cl"], "left_semi").join(
                concepts, "value", "left_semi"
            )
            fail_c = p_c.join(ok_c, ["obs", "dim", "value", "cl"], "left_anti")
            p_l = pairs.join(F.broadcast(dim_lcl), "dim")
            ok_l = p_l.join(reach, ["cl", "value"], "left_semi").join(
                concepts, "value", "left_semi"
            )
            fail_l = p_l.join(ok_l, ["obs", "dim", "value", "cl"], "left_anti")
            return fail_c.unionByName(fail_l).select("obs", "dim").distinct()

        vals = self._obs_dim_single_vals(
            dim_ccl.unionByName(dim_lcl).distinct()
        ).select("dim", "value").distinct()

        # ConceptScheme branch: value must be typed skos:Concept AND be
        # skos:inScheme one of the dim's ConceptScheme code lists.
        cpairs = vals.join(F.broadcast(dim_ccl.select("dim").distinct()), "dim", "left_semi")
        ok_c = (
            cpairs.join(F.broadcast(dim_ccl), "dim")
            .join(in_scheme, ["value", "cl"], "left_semi")
            .join(concepts, "value", "left_semi")
            .select("dim", "value")
            .distinct()
        )
        fail_c = cpairs.join(ok_c, ["dim", "value"], "left_anti").join(
            F.broadcast(dim_ccl), "dim"
        ).select("value", "cl")

        # Collection branch: value must be typed skos:Concept AND reachable
        # via skos:member+ from one of the dim's Collection code lists.
        member = self.store.p(qb.SKOS_MEMBER).select(
            F.col("subj").alias("src"), F.col("obj").alias("dst")
        )
        lcl_cls = dim_lcl.select("cl").distinct()
        seeds = (
            lcl_cls.join(member, lcl_cls["cl"] == member["src"], "inner")
            .select("cl", F.col("dst").alias("node"))
        )
        reach = transitive_closure(seeds, member).withColumnRenamed("node", "value")
        lpairs = vals.join(F.broadcast(dim_lcl.select("dim").distinct()), "dim", "left_semi")
        ok_l = (
            lpairs.join(F.broadcast(dim_lcl), "dim")
            .join(reach, ["cl", "value"], "left_semi")
            .join(concepts, "value", "left_semi")
            .select("dim", "value")
            .distinct()
        )
        fail_l = lpairs.join(ok_l, ["dim", "value"], "left_anti").join(
            F.broadcast(dim_lcl), "dim"
        ).select("value", "cl")

        return (
            fail_c.unionByName(fail_l)
            .groupBy("value")
            .agg(F.sort_array(F.collect_set("cl")).alias("code_lists"))
        )

    # ------------------------------------------------------------------
    # IC-20 / IC-21 — hierarchical code lists (pcp* closure)
    # ------------------------------------------------------------------
    def _hcl(self) -> DataFrame:
        """(cl): subjects typed qb:HierarchicalCodeList — shared by every
        IC-20/21 sub-plan (memoized like the other metadata frames)."""
        return self._column(
            "hcl", "cl {t} NOT NULL", lambda: self._schema().typed(qb.QB_HIERARCHICAL_CODE_LIST)
        )

    def _pcp_raw(self) -> DataFrame:
        """(cl, p, obj_kind): parentChildProperty declarations on typed
        hierarchical code lists, before the direct/inverse kind split."""
        def rows():
            hcl = self._schema().typed(qb.QB_HIERARCHICAL_CODE_LIST)
            pcp = self._schema().edges(qb.QB_PARENT_CHILD_PROPERTY)
            return sorted({(r.subj, r.obj, r.obj_kind) for r in pcp if r.subj in hcl})

        return self._frame(
            "pcp_raw", rows, "cl {t} NOT NULL, p {t} NOT NULL, obj_kind string NOT NULL"
        )

    def _hcl_roots(self) -> DataFrame:
        """(cl, node): qb:hierarchyRoot declarations on typed lists."""
        def rows():
            hcl = self._schema().typed(qb.QB_HIERARCHICAL_CODE_LIST)
            return sorted(p for p in self._schema().pairs(qb.QB_HIERARCHY_ROOT) if p[0] in hcl)

        return self._frame("hcl_roots", rows, "cl {t} NOT NULL, node {t} NOT NULL")

    def _hierarchy_conn(self, direction: str) -> DataFrame:
        """(cl, node) reachable-from-root sets per hierarchical code list.

        direction 'direct': root -pcp*-> node (IC-20);
        direction 'inverse': node -pcp*-> root, computed as closure over
        flipped edges (ValidatorBase.java:264-268 swaps subject/object).
        Code lists with no pcp declared for the direction fall back to
        root membership only (ValidatorIC20_21.java:144-147)."""
        pcp_raw = self._pcp_raw()
        if direction == "direct":
            cl_pcp = pcp_raw.where(F.col("obj_kind") == terms.KIND_IRI).select("cl", F.col("p").alias("pcp"))
        else:
            inv = self.store.p(qb.OWL_INVERSE_OF, with_kind=True).where(
                F.col("obj_kind") == terms.KIND_IRI
            ).select(F.col("subj").alias("p"), F.col("obj").alias("pcp"))
            cl_pcp = (
                pcp_raw.where(F.col("obj_kind") == terms.KIND_BNODE)
                .join(inv, "p")
                .select("cl", "pcp")
            )
        cl_pcp = cl_pcp.distinct()
        roots = self._hcl_roots()

        pcp_list = cl_pcp.select(F.col("pcp").alias("pred")).distinct()
        edges = self.store.df.join(F.broadcast(pcp_list), "pred", "left_semi")
        if direction == "direct":
            edges = edges.select(F.col("pred").alias("pcp"), F.col("subj").alias("src"), F.col("obj").alias("dst"))
        else:
            edges = edges.select(F.col("pred").alias("pcp"), F.col("obj").alias("src"), F.col("subj").alias("dst"))

        seeds = roots.join(cl_pcp, "cl").select("cl", "pcp", "node")
        reach = transitive_closure(seeds, edges, edge_tags=("pcp",)).select("cl", "node").distinct()
        no_pcp_roots = roots.join(cl_pcp.select("cl").distinct(), "cl", "left_anti").select("cl", "node")
        return reach.unionByName(no_pcp_roots).distinct()

    def _global_pcps(self, direction: str) -> DataFrame:
        """(pcp): the direction's parentChildProperties across ALL typed
        hierarchical code lists — the official IC-20A/21A result set
        (IntegrityConstraint.java:265-271,280-288), which SparqlValidator
        substitutes into IC-20B/21B one at a time regardless of which list
        declared them (SparqlValidator.java:219-234)."""
        pcp_raw = self._pcp_raw()
        if direction == "direct":
            return pcp_raw.where(F.col("obj_kind") == terms.KIND_IRI).select(
                F.col("p").alias("pcp")
            ).distinct()
        inv = (
            self.store.p(qb.OWL_INVERSE_OF, with_kind=True)
            .where(F.col("obj_kind") == terms.KIND_IRI)
            .select(F.col("subj").alias("p"), F.col("obj").alias("pcp"))
        )
        return (
            pcp_raw.where(F.col("obj_kind") == terms.KIND_BNODE)
            .join(inv, "p")
            .select("pcp")
            .distinct()
        )

    def _ic20_21_strict(self, direction: str) -> DataFrame:
        """Official IC-20/21 as the reference's SPARQL twin executes it
        (SparqlValidator.validateIC20_21, SparqlValidator.java:219-234):
        each GLOBALLY declared pcp instantiates its own
        ``hierarchyRoot/<p>*`` reachability query over EVERY hierarchical
        code list, and the violation set is the UNION across pcps — a value
        is flagged for a list when SOME global pcp fails to connect it.
        Zero declared pcps -> zero violations (the B query never runs).
        No single-value guard: every ``?obs ?dim ?v`` binding is checked."""
        dim_hcl = self._dim_code_lists().join(self._hcl(), "cl", "left_semi")
        pcps = self._global_pcps(direction)
        roots = self._hcl_roots()
        edge_base = self.store.df.join(
            F.broadcast(pcps.select(F.col("pcp").alias("pred"))), "pred", "left_semi"
        )
        if direction == "direct":
            edges = edge_base.select(
                F.col("pred").alias("pcp"), F.col("subj").alias("src"), F.col("obj").alias("dst")
            )
        else:
            edges = edge_base.select(
                F.col("pred").alias("pcp"), F.col("obj").alias("src"), F.col("subj").alias("dst")
            )
        seeds = roots.crossJoin(F.broadcast(pcps)).select("cl", "pcp", "node")
        reach = transitive_closure(seeds, edges, edge_tags=("pcp",))
        vals = (
            self._obs_dim_all_vals(dim_hcl)
            .select("dim", "value")
            .distinct()
            .join(F.broadcast(dim_hcl), "dim")
            .select("cl", "value")
            .distinct()
        )
        pairs = vals.crossJoin(F.broadcast(pcps))
        bad = pairs.join(
            reach.withColumnRenamed("node", "value"), ["cl", "pcp", "value"], "left_anti"
        )
        return (
            bad.select("cl", "value")
            .distinct()
            .groupBy("value")
            .agg(F.sort_array(F.collect_set("cl")).alias("code_lists"))
        )

    def _ic20_21(self, direction: str) -> DataFrame:
        if self.strict_w3c:
            return self._ic20_21_strict(direction)
        dim_hcl = self._dim_code_lists().join(self._hcl(), "cl", "left_semi")
        conn = self._hierarchy_conn(direction).withColumnRenamed("node", "value")
        vals = self._obs_dim_single_vals(dim_hcl).select("dim", "value").distinct()
        ok = (
            vals.join(F.broadcast(dim_hcl), "dim")
            .join(conn, ["cl", "value"], "left_semi")
            .select("dim", "value")
            .distinct()
        )
        return (
            vals.join(ok, ["dim", "value"], "left_anti")
            .join(F.broadcast(dim_hcl), "dim")
            .groupBy("value")
            .agg(F.sort_array(F.collect_set("cl")).alias("code_lists"))
        )

    def _hierarchical(self) -> bool:
        """Whether some typed DimensionProperty's code list is a typed
        qb:HierarchicalCodeList: IC-20/21 check only those dimensions."""
        hcl = self._schema().typed(qb.QB_HIERARCHICAL_CODE_LIST)
        return any(cl in hcl for _dim, cl in self._dim_cl_rows())

    def ic20(self) -> DataFrame:
        """IC-20 Codes from hierarchy, direct pcp (ValidatorIC20_21.java:30-192)
        -> (value, code_lists). strict_w3c=True switches to the official
        per-global-pcp union semantics (see _ic20_21_strict). Skipped
        without a hierarchical code list on a dimension."""
        if not self._hierarchical():
            return self._skip("ic20")
        return self._ic20_21("direct")

    def ic21(self) -> DataFrame:
        """IC-21 Codes from hierarchy, inverse pcp -> (value, code_lists).
        strict_w3c=True switches to the official per-global-pcp union
        semantics (see _ic20_21_strict). Skipped without a hierarchical
        code list on a dimension."""
        if not self._hierarchical():
            return self._skip("ic21")
        return self._ic20_21("inverse")

    # ------------------------------------------------------------------
    def validate_all(self) -> dict[str, DataFrame]:
        """All 21 constraints, mirroring NospaValidator.validateAll()
        (nonsparql/NospaValidator.java:83-103)."""
        return {f"ic{i}": getattr(self, f"ic{i}")() for i in range(1, 22)}
