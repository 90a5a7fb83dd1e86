"""Data Cube normalization N1-N5 as immutable DataFrame transforms.

Reference semantics: nonsparql/Normalizer.java (phase 1 type/property
closure at :26-71, phase 2 attachment push-down at :90-189, insertion at
:197-206); SPARQL twin sparql/NormalizationAlgorithm.java:7-89. The
reference mutates the Jena model in place with set semantics (re-adding a
triple is a no-op); here every rule is a projection/join producing new
triple rows, unioned and deduplicated — INSERT-only and idempotent, as
required by SURVEY.md §7.0.

Scale shape: every derived-triple join is (huge observation-side) x
(tiny schema-side); the schema sides are explicitly broadcast so phase 2
adds no shuffle over the observation table beyond the final dedup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import qb, terms
from ..plans.algebra import TripleStore, path_join, star_fetch


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


def normalize_phase1(store: TripleStore) -> TripleStore:
    """N1 (type closure) + N2 (property closure), Normalizer.java:26-71.

    Branch scans hit the (checkpointed/cached) store directly — in-memory
    rescans are cheaper than materializing a filtered cache.

    Returns the store unioned with the derived triples WITHOUT the set-dedup
    shuffle (a multiset): normalize() pays for one full-output dedup total
    instead of one per phase."""
    rel = store.df
    rel_store = store
    new_parts: list[DataFrame] = []

    # N1a: ?slice qb:observation ?o  =>  ?o a qb:Observation
    new_parts.append(
        _type_rows(store, _obj_as_subj(rel_store, qb.QB_OBSERVATION_PROP), qb.QB_OBSERVATION)
    )

    # N1b: ?o qb:dataSet ?ds  =>  ?o a qb:Observation ; ?ds a qb:DataSet
    ds_edges = rel.where(F.col("pred") == store.lit(qb.QB_DATASET_PROP))
    new_parts.append(_type_rows(store, ds_edges.select("subj").distinct(), qb.QB_OBSERVATION))
    new_parts.append(
        _type_rows(store, _obj_as_subj(rel_store, qb.QB_DATASET_PROP), qb.QB_DATASET)
    )

    # N1c: ?ds qb:slice ?s  =>  ?s a qb:Slice
    new_parts.append(_type_rows(store, _obj_as_subj(rel_store, qb.QB_SLICE_PROP), qb.QB_SLICE))

    # N2: ?spec qb:dimension|measure|attribute ?p  =>
    #     ?p a qb:{Dimension,Measure,Attribute}Property ;
    #     ?spec qb:componentProperty ?p
    for comp_pred, comp_class in (
        (qb.QB_DIMENSION, qb.QB_DIMENSION_PROPERTY),
        (qb.QB_MEASURE, qb.QB_MEASURE_PROPERTY),
        (qb.QB_ATTRIBUTE, qb.QB_ATTRIBUTE_PROPERTY),
    ):
        edges = rel.where(F.col("pred") == store.lit(comp_pred))
        new_parts.append(_type_rows(store, _obj_as_subj(rel_store, comp_pred), comp_class))
        new_parts.append(
            edges.select(
                "subj",
                store.lit(qb.QB_COMPONENT_PROPERTY).alias("pred"),
                "obj",
                "obj_kind",
                "obj_datatype",
                "obj_lang",
            )
        )

    derived = new_parts[0]
    for part in new_parts[1:]:
        derived = derived.unionByName(part)
    # dedupe the derived side first (it is internally highly duplicated:
    # N1a and N1b both type every observation) so the final set-union
    # shuffle carries fewer rows.
    # full-column dedup: the non-key columns are branch constants (see
    # normalize() — codegen HashAggregate instead of SortAggregate+First)
    derived = derived.dropDuplicates()
    return store.with_df(store.df.unionByName(derived))


def _ds_specs(store: TripleStore) -> DataFrame:
    """(ds, spec) pairs: ?ds qb:structure/qb:component ?spec (Normalizer.java:91-92)."""
    return path_join(store, [qb.QB_STRUCTURE, qb.QB_COMPONENT]).select(
        F.col("root").alias("ds"), F.col("leaf").alias("spec")
    )


def _attached_comps(store: TripleStore, attachment: str) -> DataFrame:
    """(spec, comp) for specs marked qb:componentAttachment <attachment>,
    keeping only IRI-valued component properties (comp.isURIResource(),
    Normalizer.java:107,142)."""
    fetched = star_fetch(
        store,
        [(qb.QB_COMPONENT_ATTACHMENT, attachment)],
        qb.QB_COMPONENT_PROPERTY,
        with_kind=True,
    )
    return fetched.where(F.col("obj_kind") == terms.KIND_IRI).select(
        F.col("subj").alias("spec"), F.col("obj").alias("comp")
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

    Returns the store unioned with the derived triples, a multiset like
    phase 1's. Safe over a multiset store: the metadata sides all carry
    explicit distinct()s, and duplicate observation-side rows only
    duplicate derived rows that normalize()'s final dedup removes.
    """
    df = store.df
    ds_specs = _ds_specs(store)

    obs_ds = store.p(qb.QB_DATASET_PROP).select(
        F.col("subj").alias("obs"), F.col("obj").alias("ds")
    )
    ds_slice = (
        df.where(
            (F.col("pred") == store.lit(qb.QB_SLICE_PROP))
            & (F.col("obj_kind") != terms.KIND_LITERAL)
        )
        .select(F.col("subj").alias("ds"), F.col("obj").alias("slice"))
    )
    slice_obs = (
        df.where(
            (F.col("pred") == store.lit(qb.QB_OBSERVATION_PROP))
            & (F.col("obj_kind") != terms.KIND_LITERAL)
        )
        .select(F.col("subj").alias("slice"), F.col("obj").alias("obs"))
    )

    # --- N3: componentAttachment qb:DataSet -------------------------------
    ds_comp = F.broadcast(
        ds_specs.join(_attached_comps(store, qb.QB_DATASET), "spec").select("ds", "comp").distinct()
    )
    # values of the component on the dataset itself: (ds, comp) |><| T(subj=ds, pred=comp)
    ds_vals = ds_comp.join(
        df,
        (df["subj"] == ds_comp["ds"]) & (df["pred"] == ds_comp["comp"]),
        "inner",
    ).select("ds", "comp", "obj", "obj_kind", "obj_datatype", "obj_lang")
    n3 = _emit(obs_ds.join(F.broadcast(ds_vals), "ds"), "obs")

    # --- N4: componentAttachment qb:Slice ---------------------------------
    slice_comp = (
        ds_specs.join(_attached_comps(store, qb.QB_SLICE), "spec")
        .select("ds", "comp")
        .distinct()
        .join(ds_slice, "ds")
        .select("slice", "comp")
        .distinct()
    )
    slice_vals = F.broadcast(slice_comp).join(
        df,
        (df["subj"] == slice_comp["slice"]) & (df["pred"] == slice_comp["comp"]),
        "inner",
    ).select("slice", "comp", "obj", "obj_kind", "obj_datatype", "obj_lang")
    n4 = _emit(slice_obs.join(F.broadcast(slice_vals), "slice"), "obs")

    # --- N5: dimension values sitting on slices ---------------------------
    dims_defined = store.typed(qb.QB_DIMENSION_PROPERTY).select(F.col("subj").alias("comp"))
    spec_comps = (
        store.p(qb.QB_COMPONENT_PROPERTY, with_kind=True)
        .where(F.col("obj_kind") == terms.KIND_IRI)
        .select(F.col("subj").alias("spec"), F.col("obj").alias("comp"))
    )
    dim_comp = (
        ds_specs.join(spec_comps, "spec")
        .select("ds", "comp")
        .join(F.broadcast(dims_defined), "comp", "left_semi")
        .distinct()
        .join(ds_slice, "ds")
        .select("slice", "comp")
        .distinct()
    )
    dim_vals = F.broadcast(dim_comp).join(
        df,
        (df["subj"] == dim_comp["slice"]) & (df["pred"] == dim_comp["comp"]),
        "inner",
    ).select("slice", "comp", "obj", "obj_kind", "obj_datatype", "obj_lang")
    n5 = _emit(slice_obs.join(F.broadcast(dim_vals), "slice"), "obs")

    derived = n3.unionByName(n4).unionByName(n5)
    return store.with_df(store.df.unionByName(derived))


def normalize(store: TripleStore) -> TripleStore:
    """Phase 1 then phase 2, matching NospaValidator.normalize() ordering
    (nonsparql/NospaValidator.java:72-78).

    The phases return multisets and ONE dropDuplicates finishes the set
    semantics: the full-output dedup is the only observation-scale shuffle
    in normalization, so paying it once instead of once per phase halves
    the shuffle volume — the dominant cost at 100 TB. Output is identical
    (set semantics restored at the end; phase 2 only ever *reads* metadata
    projections that are themselves deduplicated).

    Phase 1's multiset result is materialized (localCheckpoint — a narrow
    write, no shuffle) before phase 2, which scans the store ~8 times; an
    unmaterialized union would re-execute the phase-1 derivation per scan
    (with the per-phase dedup the shuffle exchange used to serve that
    reuse role — keep the materialization when touching this)."""
    p1 = normalize_phase1(store)
    p1 = p1.with_df(p1.df.localCheckpoint(eager=True))
    multiset = normalize_phase2(p1)
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
    return multiset.with_df(multiset.df.dropDuplicates())
