"""Data Cube normalization N1-N5 as immutable DataFrame transforms.

Reference semantics: nonsparql/Normalizer.java (phase 1 type/property
closure at :26-71, phase 2 attachment push-down at :90-189, insertion at
:197-206); SPARQL twin sparql/NormalizationAlgorithm.java:7-89. The
reference mutates the Jena model in place with set semantics (re-adding a
triple is a no-op); here every rule is a projection/join producing new
triple rows, unioned and deduplicated — INSERT-only and idempotent, as
required by SURVEY.md §7.0.

Scale shape: the schema sides come from the driver-held schema slice
(plans/schema.py), one capped filter+collect of the input; N2 is derived
from it entirely in Python, and the N3-N5 (ds, component) sides become
local relations, so a cube without dataset- or slice-attached components
folds those push-downs away at plan time. Only the observation-scale
rules run as Spark plans: N1's type closure and the N3-N5 joins against
the qb:dataSet, qb:slice and qb:observation edges. normalize() returns a
materialized store (one localCheckpoint of the deduplicated result), so
no caller materializes it again.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import qb, terms
from ..plans.algebra import TripleStore
from ..plans.schema import SchemaSlice
from ..session import local_frame


def _type_rows(store: TripleStore, subjects: DataFrame, rdf_class: str) -> DataFrame:
    """(subj) -> (subj, rdf:type, <class>) triple rows (store.lit keeps the
    emitted constants in the store's term representation — string or id)."""
    return subjects.select(
        F.col("subj"),
        store.lit(qb.RDF_TYPE).alias("pred"),
        store.lit(rdf_class).alias("obj"),
        F.lit(terms.KIND_IRI).alias("obj_kind"),
        F.lit(None).cast("string").alias("obj_datatype"),
        F.lit(None).cast("string").alias("obj_lang"),
    )


def _obj_as_subj(store: TripleStore, pred: str) -> DataFrame:
    """Resource objects of ``pred``, promoted to a subject column.

    Mirrors the reference's ``obs.isResource()`` guard
    (Normalizer.java:28,35,107): literals are never typed.
    """
    return (
        store.df.where(
            (F.col("pred") == store.lit(pred)) & (F.col("obj_kind") != terms.KIND_LITERAL)
        )
        .select(F.col("obj").alias("subj"))
        .distinct()
    )


def _n2_rows(store: TripleStore, schema: SchemaSlice) -> set:
    """N2 (Normalizer.java:54-71) from the driver-held schema slice:
    ?spec qb:dimension|measure|attribute ?p  =>
    ?p a qb:{Dimension,Measure,Attribute}Property (resource ?p only) ;
    ?spec qb:componentProperty ?p (the edge's object columns kept)."""
    tv = store.term_value
    rdf_type, comp_prop = tv(qb.RDF_TYPE), tv(qb.QB_COMPONENT_PROPERTY)
    out = set()
    for comp_pred, comp_class in (
        (qb.QB_DIMENSION, qb.QB_DIMENSION_PROPERTY),
        (qb.QB_MEASURE, qb.QB_MEASURE_PROPERTY),
        (qb.QB_ATTRIBUTE, qb.QB_ATTRIBUTE_PROPERTY),
    ):
        for r in schema.edges(comp_pred):
            if r.obj_kind != terms.KIND_LITERAL:
                out.add((r.obj, rdf_type, tv(comp_class), terms.KIND_IRI, None, None))
            out.add((r.subj, comp_prop, r.obj, r.obj_kind, r.obj_datatype, r.obj_lang))
    return out


def normalize_phase1(store: TripleStore) -> TripleStore:
    """N1 (type closure) + N2 (property closure), Normalizer.java:26-71.

    N1's branches scan the store; N2 is a local relation derived from the
    store's schema slice (a slice over METADATA_CAP raises ValueError).

    Returns the store unioned with the derived triples WITHOUT the set-dedup
    shuffle (a multiset): normalize() pays for one full-output dedup total
    instead of one per phase."""
    return _phase1(store, _n2_rows(store, SchemaSlice(store)))


def _phase1(store: TripleStore, n2: set) -> TripleStore:
    """normalize_phase1 with its N2 rows given."""
    rel = store.df
    new_parts: list[DataFrame] = []

    # N1a: ?slice qb:observation ?o  =>  ?o a qb:Observation
    new_parts.append(
        _type_rows(store, _obj_as_subj(store, qb.QB_OBSERVATION_PROP), qb.QB_OBSERVATION)
    )

    # N1b: ?o qb:dataSet ?ds  =>  ?o a qb:Observation ; ?ds a qb:DataSet
    ds_edges = rel.where(F.col("pred") == store.lit(qb.QB_DATASET_PROP))
    new_parts.append(_type_rows(store, ds_edges.select("subj").distinct(), qb.QB_OBSERVATION))
    new_parts.append(_type_rows(store, _obj_as_subj(store, qb.QB_DATASET_PROP), qb.QB_DATASET))

    # N1c: ?ds qb:slice ?s  =>  ?s a qb:Slice
    new_parts.append(_type_rows(store, _obj_as_subj(store, qb.QB_SLICE_PROP), qb.QB_SLICE))

    derived = new_parts[0]
    for part in new_parts[1:]:
        derived = derived.unionByName(part)
    # dedupe the derived side first (it is internally highly duplicated:
    # N1a and N1b both type every observation) so the final set-union
    # shuffle carries fewer rows.
    # full-column dedup: the non-key columns are branch constants (see
    # normalize() — codegen HashAggregate instead of SortAggregate+First)
    derived = derived.dropDuplicates()
    n2_df = local_frame(rel.sparkSession, n2, rel.select(*terms.TRIPLE_COLS).schema)
    return store.with_df(rel.unionByName(derived).unionByName(n2_df))


def _push_down_comps(store: TripleStore, schema: SchemaSlice) -> tuple[set, set]:
    """The (ds, comp) pairs whose values phase 2 pushes down, from the
    store's driver-held schema slice (?ds qb:structure/qb:component ?spec,
    IRI ?spec qb:componentProperty ?comp; Normalizer.java:91-92,107,142):

    - onto observations (N3): specs with qb:componentAttachment qb:DataSet;
    - from slices onto their observations: specs with
      qb:componentAttachment qb:Slice (N4) and every comp typed
      qb:DimensionProperty (N5). Both rules copy the slice's values of the
      comp to the slice's observations, so one pair set serves them."""
    tv = store.term_value
    comps: dict = {}
    for r in schema.edges(qb.QB_COMPONENT_PROPERTY):
        if r.obj_kind == terms.KIND_IRI:
            comps.setdefault(r.subj, set()).add(r.obj)
    attached = schema.pairs(qb.QB_COMPONENT_ATTACHMENT)
    on_ds = {spec for spec, at in attached if at == tv(qb.QB_DATASET)}
    on_slice = {spec for spec, at in attached if at == tv(qb.QB_SLICE)}
    dims = schema.typed(qb.QB_DIMENSION_PROPERTY)
    ds_pairs, slice_pairs = set(), set()
    for ds, spec in schema.ds_specs:
        for comp in comps.get(spec, ()):
            if spec in on_ds:
                ds_pairs.add((ds, comp))
            if spec in on_slice or comp in dims:
                slice_pairs.add((ds, comp))
    return ds_pairs, slice_pairs


def _values(df: DataFrame, keys: DataFrame, key: str) -> DataFrame:
    """(key, comp) |><| T(subj=key, pred=comp): the comp's values on each key."""
    return (
        F.broadcast(keys)
        .join(df, (df["subj"] == keys[key]) & (df["pred"] == keys["comp"]), "inner")
        .select(key, "comp", "obj", "obj_kind", "obj_datatype", "obj_lang")
    )


def _emit(values: DataFrame, target_col: str) -> DataFrame:
    """Shape (target, comp, obj...) rows into canonical triple rows."""
    return values.select(
        F.col(target_col).alias("subj"),
        F.col("comp").alias("pred"),
        "obj",
        "obj_kind",
        "obj_datatype",
        "obj_lang",
    )


def normalize_phase2(store: TripleStore) -> TripleStore:
    """N3-N5 attachment push-down (Normalizer.java:90-189).

    N3: dataset-attached component values copied onto every observation of
        the dataset; N4: slice-attached component values copied from each
        slice onto its member observations; N5: any *dimension* value
        sitting on a slice pushed to member observations.

    The (ds, comp) sides are local relations built from the store's
    schema slice (see _push_down_comps); an empty one folds its push-down
    out of the plan. Returns the store unioned with the derived triples, a
    multiset like phase 1's: duplicate observation-side rows only
    duplicate derived rows that normalize()'s final dedup removes.
    """
    return _phase2(store, SchemaSlice(store))


def _phase2(store: TripleStore, schema: SchemaSlice) -> TripleStore:
    """normalize_phase2 with the store's schema slice given."""
    df = store.df
    # terms, never null: the derived pred column keeps the store's nullability
    cols = "ds {t} NOT NULL, comp {t} NOT NULL".format(t=store.term_sql_type)
    ds_pairs, slice_pairs = _push_down_comps(store, schema)
    # the value joins read only the pushed-down components' triples; the
    # filter lets Catalyst prune phase 1's N1 rows (all rdf:type) from
    # those scans unless rdf:type is itself a pushed-down component
    comps = sorted({comp for _, comp in ds_pairs | slice_pairs})
    comp_values = df.where(F.col("pred").isin(comps))
    ds_comp = local_frame(df.sparkSession, ds_pairs, cols)
    slice_ds_comp = local_frame(df.sparkSession, slice_pairs, cols)

    obs_ds = store.p(qb.QB_DATASET_PROP).select(
        F.col("subj").alias("obs"), F.col("obj").alias("ds")
    )
    ds_slice = df.where(
        (F.col("pred") == store.lit(qb.QB_SLICE_PROP)) & (F.col("obj_kind") != terms.KIND_LITERAL)
    ).select(F.col("subj").alias("ds"), F.col("obj").alias("slice"))
    slice_obs = df.where(
        (F.col("pred") == store.lit(qb.QB_OBSERVATION_PROP))
        & (F.col("obj_kind") != terms.KIND_LITERAL)
    ).select(F.col("subj").alias("slice"), F.col("obj").alias("obs"))

    # N3: the dataset's values of its dataset-attached components
    n3 = _emit(obs_ds.join(F.broadcast(_values(comp_values, ds_comp, "ds")), "ds"), "obs")
    # N4 + N5: the slice's values of its slice-attached components and dims
    slice_comp = slice_ds_comp.join(ds_slice, "ds").select("slice", "comp").distinct()
    n45 = _emit(
        slice_obs.join(F.broadcast(_values(comp_values, slice_comp, "slice")), "slice"), "obs"
    )
    return store.with_df(df.unionByName(n3).unionByName(n45))


def normalize(store: TripleStore) -> TripleStore:
    """Phase 1 then phase 2, matching NospaValidator.normalize() ordering
    (nonsparql/NospaValidator.java:72-78).

    The phases return multisets and ONE dropDuplicates finishes the set
    semantics: the full-output dedup is the only observation-scale shuffle
    in normalization, so paying it once instead of once per phase halves
    the shuffle volume — the dominant cost at 100 TB. Output is identical
    (set semantics restored at the end; phase 2 only ever *reads* metadata
    projections that are themselves deduplicated).

    The schema slice is collected once, from the input: phase 2 reads
    only its component, componentAttachment and DimensionProperty parts,
    to which phase 1 adds nothing but the N2 rows (N1 types observations,
    datasets and slices), so there the input's slice plus N2 reads as
    phase 1's output's would.

    The returned store is materialized: the deduplicated result is
    localCheckpointed before normalize returns, so every later scan (each
    IC, each count) reads the normalized rows instead of re-running the
    normalization. Phase 1 is not materialized on its own: phase 2's value
    joins filter on the pushed-down components, so their scans of phase 1's
    output carry no N1 branch, and the one final job derives N1 once."""
    schema = SchemaSlice(store)
    n2 = _n2_rows(store, schema)
    multiset = _phase2(_phase1(store, n2), schema.plus(n2))
    # FULL-column dedup on purpose: a subset-key dropDuplicates plans as
    # an Aggregate with First(obj_kind)/First(obj_datatype)/First(obj_lang)
    # — string buffers that force SortAggregate (two sorts of every row by
    # long-URI keys) — while grouping on all six columns is a pure codegen
    # HashAggregate with no aggregate functions. The canonical term
    # encoding makes (obj_kind, obj_datatype, obj_lang) functionally
    # dependent on obj (literals carry datatype/lang inside the term,
    # IRIs/bnodes are disjoint representations), so the row set is
    # identical — and Jena's set semantics key on full node identity
    # anyway (a literal and an IRI with equal lexical form are distinct
    # triples in the reference model).
    return multiset.with_df(multiset.df.dropDuplicates().localCheckpoint(eager=True))
