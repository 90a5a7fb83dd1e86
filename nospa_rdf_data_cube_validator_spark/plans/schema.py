"""The schema slice of a triple store, held on the driver.

DSDs, component specs, slice keys, code lists and hierarchies are
human-authored: they stay schema-scale at any observation scale. The
reference keeps them, with the rest of the model, in memory
(nonsparql/NospaValidator.java:17). Here ONE capped filter+collect job
fetches the triples of this vocabulary, and its readers derive what they
need from the collected rows in Python, with no further pass over the
store:

- normalization: N2 and the N3-N5 (ds, comp) sides;
- IC-2..IC-8 in full: structure, components, componentRequired,
  rdfs:range, qb:codeList, qb:sliceKey and the typed DataSets, DSDs and
  SliceKeys;
- the metadata sides of the other ICs (IC-13's required attributes, the
  per-dataset dimensions and measures, code lists, hierarchies).

Observation-scale predicates (qb:dataSet, qb:observation, qb:slice,
qb:measureType, skos:inScheme/member, rdf:type qb:Observation /
skos:Concept) are deliberately NOT in the slice. Whether the store holds
them at all is in the catalog the same job observes (the distinct
predicates and rdf:type classes): the validator skips the ICs whose
driving vocabulary is absent.
"""

from __future__ import annotations

from functools import cached_property

from pyspark.sql import Observation, Row
from pyspark.sql import functions as F

from .. import qb, terms
from .algebra import TripleStore

#: predicates whose every triple belongs to the schema slice
SLICE_PREDS = (
    qb.QB_STRUCTURE,
    qb.QB_COMPONENT,
    qb.QB_COMPONENT_PROPERTY,
    qb.QB_DIMENSION,
    qb.QB_MEASURE,
    qb.QB_ATTRIBUTE,
    qb.QB_COMPONENT_ATTACHMENT,
    qb.QB_CODE_LIST,
    qb.QB_PARENT_CHILD_PROPERTY,
    qb.QB_HIERARCHY_ROOT,
    qb.RDFS_RANGE,
    qb.QB_COMPONENT_REQUIRED,
    qb.QB_SLICE_KEY_PROP,
)
#: rdf:type classes whose typing triples belong to the schema slice
SLICE_CLASSES = (
    qb.QB_DIMENSION_PROPERTY,
    qb.QB_MEASURE_PROPERTY,
    qb.QB_ATTRIBUTE_PROPERTY,
    qb.QB_HIERARCHICAL_CODE_LIST,
    qb.QB_DATASET,
    qb.QB_DSD,
    qb.QB_SLICE_KEY,
)
#: a store whose schema slice holds more triples than this is rejected
#: (ValueError): the slice is held on the driver and there is no
#: distributed fallback.
METADATA_CAP = 1_000_000


class SchemaSlice:
    """The collected schema-slice rows of ``store``, indexed by predicate,
    and the store's catalog: its distinct predicates (``preds``) and
    ``rdf:type`` classes (``classes``).

    The catalog is observed on the same scan as the slice (one job): the
    metrics sit below the slice filter, so they see every triple. Term
    values are the store's own (strings, or ids for an encoded store);
    vocabulary constants go through ``store.term_value``."""

    def __init__(self, store: TripleStore):
        tv = self._tv = store.term_value
        cond = F.col("pred").isin([tv(p) for p in SLICE_PREDS]) | (
            (F.col("pred") == tv(qb.RDF_TYPE)) & F.col("obj").isin([tv(c) for c in SLICE_CLASSES])
        )
        catalog = Observation()
        scan = store.df.observe(
            catalog,
            F.collect_set("pred").alias("preds"),
            F.collect_set(F.when(F.col("pred") == tv(qb.RDF_TYPE), F.col("obj"))).alias("classes"),
        )
        rows = scan.where(cond).limit(METADATA_CAP + 1).collect()
        if len(rows) > METADATA_CAP:
            raise ValueError(
                f"schema slice exceeds METADATA_CAP={METADATA_CAP} triples "
                "(structure, component, slice-key, code-list and hierarchy declarations)"
            )
        self.preds, self.classes = (set(catalog.get[k]) for k in ("preds", "classes"))
        self._by_pred: dict = {}
        for r in rows:
            self._by_pred.setdefault(r.pred, []).append(r)

    def plus(self, rows) -> "SchemaSlice":
        """The slice (and catalog) of the store with the triple tuples
        ``rows`` added, with no further job: normalization's phase 2 reads
        its input's slice plus the N2 rows phase 1 derived from it."""
        out = object.__new__(SchemaSlice)
        out._tv, out.preds, out.classes = self._tv, set(self.preds), set(self.classes)
        out._by_pred = {p: list(rs) for p, rs in self._by_pred.items()}
        rdf_type = self._tv(qb.RDF_TYPE)
        slice_preds = {self._tv(p) for p in SLICE_PREDS}
        slice_classes = {self._tv(c) for c in SLICE_CLASSES}
        for t in rows:
            r = Row(**dict(zip(terms.TRIPLE_COLS, t)))
            out.preds.add(r.pred)
            if r.pred == rdf_type:
                out.classes.add(r.obj)
            if r.pred in slice_preds or (r.pred == rdf_type and r.obj in slice_classes):
                out._by_pred.setdefault(r.pred, []).append(r)
        return out

    def edges(self, pred: str) -> list:
        """The slice's full triple rows of one predicate."""
        return self._by_pred.get(self._tv(pred), [])

    def pairs(self, pred: str) -> set:
        """Distinct (subj, obj) of ``pred``."""
        return {(r.subj, r.obj) for r in self.edges(pred)}

    def objects(self, pred: str) -> dict:
        """subj -> the set of its objects of ``pred``."""
        out: dict = {}
        for r in self.edges(pred):
            out.setdefault(r.subj, set()).add(r.obj)
        return out

    def subjects(self, pred: str, obj: str) -> set:
        """Subjects of ``pred`` with the constant term ``obj``."""
        value = self._tv(obj)
        return {r.subj for r in self.edges(pred) if r.obj == value}

    def typed(self, rdf_class: str) -> set:
        """Subjects typed ``rdf_class`` (one of SLICE_CLASSES)."""
        return self.subjects(qb.RDF_TYPE, rdf_class)

    @cached_property
    def ds_specs(self) -> set:
        """(ds, spec): ?ds qb:structure/qb:component ?spec."""
        specs = self.objects(qb.QB_COMPONENT)
        structure = self.pairs(qb.QB_STRUCTURE)
        return {(ds, spec) for ds, dsd in structure for spec in specs.get(dsd, ())}

    @cached_property
    def dsd_props(self) -> dict:
        """dsd -> {prop}: ?dsd qb:component/qb:componentProperty ?prop."""
        props = self.objects(qb.QB_COMPONENT_PROPERTY)
        return {
            dsd: {p for spec in specs for p in props.get(spec, ())}
            for dsd, specs in self.objects(qb.QB_COMPONENT).items()
        }

    @cached_property
    def ds_comp_props(self) -> list:
        """Sorted distinct (ds, prop, prop_kind): ?ds qb:structure/
        qb:component/qb:componentProperty ?prop."""
        props: dict = {}
        for r in self.edges(qb.QB_COMPONENT_PROPERTY):
            props.setdefault(r.subj, set()).add((r.obj, r.obj_kind))
        return sorted(
            {(ds, p, kind) for ds, spec in self.ds_specs for p, kind in props.get(spec, ())}
        )

    @cached_property
    def ds_list(self) -> list:
        """Sorted datasets: the subjects of qb:structure."""
        return sorted({ds for ds, _dsd in self.pairs(qb.QB_STRUCTURE)})
