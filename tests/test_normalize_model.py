"""normalize() against a plain-Python model of N1-N5.

The model reads Normalizer.java's rules directly (phase 1 at :26-71,
phase 2 at :90-189) over a set of triple rows; normalize()'s complete
output row set must equal it on the golden cube and on the golden cube
plus each mutation of tests/fixtures.py, for the string store and for the
encoded store (decoded)."""

import pytest

from nospa_rdf_data_cube_validator_spark import qb, terms
from nospa_rdf_data_cube_validator_spark.operators.normalize import normalize
from nospa_rdf_data_cube_validator_spark.plans.algebra import TripleStore
from nospa_rdf_data_cube_validator_spark.plans.encoding import encode_store

from . import fixtures as fx

_COMP_CLASSES = {
    qb.QB_DIMENSION: qb.QB_DIMENSION_PROPERTY,
    qb.QB_MEASURE: qb.QB_MEASURE_PROPERTY,
    qb.QB_ATTRIBUTE: qb.QB_ATTRIBUTE_PROPERTY,
}


def _typed(subj: str, rdf_class: str) -> tuple:
    return (subj, qb.RDF_TYPE, rdf_class, terms.KIND_IRI, None, None)


def model_normalize(rows) -> set:
    """N1-N5 over triple rows (subj, pred, obj, obj_kind, obj_datatype,
    obj_lang) with set semantics."""
    p1 = set(rows)
    for s, p, o, kind, dt, lang in list(p1):
        resource = kind != terms.KIND_LITERAL
        # N1: type closure
        if p == qb.QB_OBSERVATION_PROP and resource:
            p1.add(_typed(o, qb.QB_OBSERVATION))
        if p == qb.QB_DATASET_PROP:
            p1.add(_typed(s, qb.QB_OBSERVATION))
            if resource:
                p1.add(_typed(o, qb.QB_DATASET))
        if p == qb.QB_SLICE_PROP and resource:
            p1.add(_typed(o, qb.QB_SLICE))
        # N2: component property closure
        if p in _COMP_CLASSES:
            if resource:
                p1.add(_typed(o, _COMP_CLASSES[p]))
            p1.add((s, qb.QB_COMPONENT_PROPERTY, o, kind, dt, lang))

    def objs(subj, pred, resource_only=False, kind=None):
        return [
            t[2]
            for t in p1
            if t[0] == subj and t[1] == pred
            and not (resource_only and t[3] == terms.KIND_LITERAL)
            and (kind is None or t[3] == kind)
        ]

    def values(subj, pred):
        return [t[2:] for t in p1 if t[0] == subj and t[1] == pred]

    def subjs(pred, obj=None):
        return {t[0] for t in p1 if t[1] == pred and (obj is None or t[2] == obj)}

    out = set(p1)
    dims = subjs(qb.RDF_TYPE, qb.QB_DIMENSION_PROPERTY)
    for ds in subjs(qb.QB_STRUCTURE):
        observations = {t[0] for t in p1 if t[1] == qb.QB_DATASET_PROP and t[2] == ds}
        slices = objs(ds, qb.QB_SLICE_PROP, resource_only=True)
        for dsd in objs(ds, qb.QB_STRUCTURE):
            for spec in objs(dsd, qb.QB_COMPONENT):
                attachments = objs(spec, qb.QB_COMPONENT_ATTACHMENT)
                for comp in objs(spec, qb.QB_COMPONENT_PROPERTY, kind=terms.KIND_IRI):
                    # N3: dataset-attached values onto every observation
                    if qb.QB_DATASET in attachments:
                        for obs in observations:
                            out.update((obs, comp) + v for v in values(ds, comp))
                    # N4: slice-attached values, N5: dimension values on a
                    # slice, onto the slice's observations
                    if qb.QB_SLICE in attachments or comp in dims:
                        for sl in slices:
                            for obs in objs(sl, qb.QB_OBSERVATION_PROP, resource_only=True):
                                out.update((obs, comp) + v for v in values(sl, comp))
    return out


CASES = ["golden"] + sorted(n for n in dir(fx) if n.startswith("mut_"))


def _rows(case: str) -> list:
    return fx.golden_rows() + ([] if case == "golden" else getattr(fx, case)())


def _collect(df) -> set:
    return {tuple(r) for r in df.select(*terms.TRIPLE_COLS).collect()}


def test_model_derives_the_golden_closure():
    """The model itself: N2 types sex, N3 pushes unitMeasure, N4/N5 push
    the slice's refPeriod and sex onto o11."""
    out = model_normalize(fx.golden_rows())
    assert _typed(fx.SEX, qb.QB_DIMENSION_PROPERTY) in out
    o11 = {t[1] for t in out if t[0] == fx.obs_uri(1, 1)}
    assert {fx.UNIT_MEASURE, fx.REF_PERIOD, fx.SEX} <= o11


@pytest.mark.parametrize("case", CASES)
def test_normalize_matches_model(spark, case):
    rows = _rows(case)
    raw = TripleStore(terms.triples_df(spark, rows))
    assert _collect(normalize(raw).df) == model_normalize(rows)


@pytest.mark.parametrize("case", CASES)
def test_encoded_normalize_matches_model(spark, case):
    rows = _rows(case)
    enc = encode_store(TripleStore(terms.triples_df(spark, rows)))
    norm = normalize(enc)
    assert _collect(enc.decode(norm.df, ["subj", "pred", "obj"])) == model_normalize(rows)


def _rdf_type_pushed_down_rows() -> list:
    """The golden cube with a dataset-attached component spec whose
    component property is rdf:type, and without the dataset's stated
    ``a qb:DataSet``: the dataset's only type is the one N1 derives from
    its observations' qb:dataSet edges, and N3 pushes it onto them."""
    stated = (fx.DATASET, qb.RDF_TYPE, qb.QB_DATASET)
    return [r for r in fx.golden_rows() if r[:3] != stated] + [
        terms.iri_row(fx.DSD, qb.QB_COMPONENT, "_:ctype"),
        terms.iri_row("_:ctype", qb.QB_COMPONENT_PROPERTY, qb.RDF_TYPE),
        terms.iri_row("_:ctype", qb.QB_COMPONENT_ATTACHMENT, qb.QB_DATASET),
    ]


def test_rdf_type_component_pushes_n1_rows(spark):
    """Phase 2's value scans keep only the pushed-down components' rows,
    which prunes phase 1's N1 rows (all rdf:type) from them; when rdf:type
    is itself a pushed-down component, the N1-derived ``?ds a qb:DataSet``
    still reaches every observation, on the string and the encoded store."""
    rows = _rdf_type_pushed_down_rows()
    want = model_normalize(rows)
    assert _typed(fx.obs_uri(1, 1), qb.QB_DATASET) in want
    raw = TripleStore(terms.triples_df(spark, rows))
    assert _collect(normalize(raw).df) == want
    enc = encode_store(raw)
    assert _collect(enc.decode(normalize(enc).df, ["subj", "pred", "obj"])) == want
