"""The schema slice of a triple store, held on the driver.

DSDs, component specs, component properties, code lists and hierarchies
are human-authored: they stay schema-scale at any observation scale. The
reference keeps them, with the rest of the model, in memory
(nonsparql/NospaValidator.java:17) and its normalizer and validators read
them straight from it. Here ONE capped filter+collect job over the store
fetches the triples of this vocabulary, and normalization (N2 and the
N3-N5 schema sides) and the validator's metadata frames are derived from
the collected rows in Python, with no further pass over the store.

Observation-scale predicates (qb:dataSet, qb:observation, qb:slice,
qb:measureType, skos:inScheme/member, rdf:type qb:Observation /
skos:Concept) are deliberately NOT in the slice.
"""

from __future__ import annotations

from functools import cached_property

from pyspark.sql import functions as F

from .. import qb
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
)
#: rdf:type classes whose typing triples belong to the schema slice
SLICE_CLASSES = (
    qb.QB_DIMENSION_PROPERTY,
    qb.QB_MEASURE_PROPERTY,
    qb.QB_ATTRIBUTE_PROPERTY,
    qb.QB_HIERARCHICAL_CODE_LIST,
)
#: a store whose schema slice holds more triples than this is rejected
#: (ValueError): the slice is held on the driver and there is no
#: distributed fallback.
METADATA_CAP = 1_000_000


class SchemaSlice:
    """The collected schema-slice rows of ``store``, indexed by predicate.

    Term values are the store's own (strings, or ids for an encoded
    store); vocabulary constants go through ``store.term_value``."""

    def __init__(self, store: TripleStore):
        tv = self._tv = store.term_value
        cond = F.col("pred").isin([tv(p) for p in SLICE_PREDS]) | (
            (F.col("pred") == tv(qb.RDF_TYPE)) & F.col("obj").isin([tv(c) for c in SLICE_CLASSES])
        )
        rows = store.df.where(cond).limit(METADATA_CAP + 1).collect()
        if len(rows) > METADATA_CAP:
            raise ValueError(
                f"schema slice exceeds METADATA_CAP={METADATA_CAP} triples "
                "(structure, component, code-list and hierarchy declarations)"
            )
        self._by_pred: dict = {}
        for r in rows:
            self._by_pred.setdefault(r.pred, []).append(r)

    def edges(self, pred: str) -> list:
        """The slice's full triple rows of one predicate."""
        return self._by_pred.get(self._tv(pred), [])

    def pairs(self, pred: str) -> set:
        """Distinct (subj, obj) of ``pred``."""
        return {(r.subj, r.obj) for r in self.edges(pred)}

    def typed(self, rdf_class: str) -> set:
        """Subjects typed ``rdf_class`` (one of SLICE_CLASSES)."""
        cls = self._tv(rdf_class)
        return {r.subj for r in self.edges(qb.RDF_TYPE) if r.obj == cls}

    @cached_property
    def ds_specs(self) -> set:
        """(ds, spec): ?ds qb:structure/qb:component ?spec."""
        specs: dict = {}
        for dsd, spec in self.pairs(qb.QB_COMPONENT):
            specs.setdefault(dsd, set()).add(spec)
        structure = self.pairs(qb.QB_STRUCTURE)
        return {(ds, spec) for ds, dsd in structure for spec in specs.get(dsd, ())}

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
