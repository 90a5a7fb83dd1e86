"""Mutation tests: each seeds one violation class into the golden cube and
asserts the exact violating set for the targeted IC (FIXTURES.md §4)."""

import pytest

from nospa_rdf_data_cube_validator_spark import terms
from nospa_rdf_data_cube_validator_spark.operators.normalize import normalize
from nospa_rdf_data_cube_validator_spark.operators.validate import CubeValidator
from nospa_rdf_data_cube_validator_spark.plans.algebra import TripleStore

from . import fixtures as fx

EG = fx.EG


def _validator(spark, extra_rows):
    store = TripleStore(terms.triples_df(spark, fx.golden_rows() + extra_rows))
    normalized = normalize(store)
    return CubeValidator(normalized)


def _pairs(df, c1, c2):
    return {(r[c1], r[c2]) for r in df.collect()}


def _col_set(df, col):
    return {r[col] for r in df.select(col).collect()}


def test_ic1(spark):
    v = _validator(spark, fx.mut_ic1())
    got = {(r["obs"], r["n_datasets"]) for r in v.ic1().collect()}
    assert got == {(EG + "oNoDs", 0), (EG + "o11", 2)}


def test_ic2(spark):
    v = _validator(spark, fx.mut_ic2())
    assert _col_set(v.ic2(), "ds") == {EG + "ds2"}


def test_ic3(spark):
    v = _validator(spark, fx.mut_ic3())
    assert _col_set(v.ic3(), "dsd") == {EG + "dsd2"}


def test_ic4(spark):
    v = _validator(spark, fx.mut_ic4())
    assert _col_set(v.ic4(), "dim") == {EG + "noRangeDim", fx.SEX}


def test_ic5(spark):
    v = _validator(spark, fx.mut_ic5())
    assert _col_set(v.ic5(), "dim") == {EG + "conceptDim"}


def test_ic6(spark):
    v = _validator(spark, fx.mut_ic6())
    assert _col_set(v.ic6(), "comp_prop") == {fx.REF_AREA}


def test_ic7(spark):
    v = _validator(spark, fx.mut_ic7())
    assert _col_set(v.ic7(), "slice_key") == {EG + "orphanKey"}


def test_ic8(spark):
    v = _validator(spark, fx.mut_ic8())
    assert _col_set(v.ic8(), "comp_prop") == {EG + "notInDsd"}


def test_ic9(spark):
    v = _validator(spark, fx.mut_ic9())
    got = {(r["slice"], r["n_structures"]) for r in v.ic9().collect()}
    assert got == {(EG + "slice7", 0)}


def test_ic10(spark):
    v = _validator(spark, fx.mut_ic10())
    assert _pairs(v.ic10(), "slice", "dim") == {(EG + "slice8", fx.SEX)}


def test_ic11(spark):
    v = _validator(spark, fx.mut_ic11())
    expect = {(EG + "o71", d) for d in (fx.REF_AREA, fx.REF_PERIOD, fx.SEX)}
    assert _pairs(v.ic11(), "obs", "dim") == expect


def test_ic12_exact_and_crossed_duplicates(spark):
    v = _validator(spark, fx.mut_ic12())
    # dup group {o11, o72, o73, o74}; all but the minimum (o11) are flagged.
    # o74 has *crossed* refArea/refPeriod values — NoSPA's value-set key
    # collides it with o11 (SURVEY.md §7.0).
    assert _col_set(v.ic12(), "obs") == {EG + "o72", EG + "o73", EG + "o74"}


def test_ic13(spark):
    v = _validator(spark, fx.mut_ic13())
    assert _pairs(v.ic13(), "obs", "attr") == {(EG + "o76", fx.UNIT_MEASURE)}


def test_ic14(spark):
    v = _validator(spark, fx.mut_ic14())
    assert _pairs(v.ic14(), "obs", "measure") == {(EG + "o77", EG + "mortality")}


def test_ic14_measure_type_cube_quirk(spark):
    # For measureType cubes the reference checks the UNFILTERED component
    # set (ValidatorIC14.java:30-35): every obs misses the other measure.
    v = _validator(spark, fx.measure_type_cube())
    got = _pairs(v.ic14(), "obs", "measure")
    assert (EG + "o78", EG + "mortality") in got
    assert (EG + "o79", fx.LIFE_EXP) in got


def test_ic15(spark):
    v = _validator(spark, fx.mut_ic15())
    assert _col_set(v.ic15(), "obs") == {EG + "o90"}


def test_ic16(spark):
    v = _validator(spark, fx.mut_ic16())
    got = {(r["obs"], tuple(r["measure_types"])) for r in v.ic16().collect()}
    assert got == {(EG + "o91", (LIFE := fx.LIFE_EXP, EG + "mortality")[:2])} or got == {
        (EG + "o91", tuple(sorted([fx.LIFE_EXP, EG + "mortality"])))
    }


def test_ic17(spark):
    v = _validator(spark, fx.mut_ic17())
    # group {o92} (refArea=cardiff) has size 1 != 2 measures; n_obs=3 so
    # n_unequal = 3 - 1 = 2.
    got = {(r["obs"], r["n_unequal"]) for r in v.ic17().collect()}
    assert got == {(EG + "o92", 2)}


def test_ic17_passes_on_complete_groups(spark):
    v = _validator(spark, fx.measure_type_cube())
    assert v.ic17().collect() == []


def test_ic18(spark):
    v = _validator(spark, fx.mut_ic18())
    assert _pairs(v.ic18(), "obs", "ds") == {(EG + "o99", fx.DATASET)}


def test_ic19(spark):
    v = _validator(spark, fx.mut_ic19())
    got = {(r["value"], tuple(r["code_lists"])) for r in v.ic19().collect()}
    assert got == {
        (EG + "unknownC", (EG + "cities",)),
        (EG + "outC", (EG + "colCities",)),
    }


def test_ic20(spark):
    v = _validator(spark, fx.mut_ic20())
    got = {(r["value"], tuple(r["code_lists"])) for r in v.ic20().collect()}
    assert got == {(EG + "island", (EG + "geoHier",))}


def test_ic21_quirk_direct_only_hierarchy(spark):
    # Reference quirk: with no inverse pcp declared, IC-21 degenerates to
    # root membership (ValidatorIC20_21.java:144-147) — every non-root
    # value is flagged.
    v = _validator(spark, fx.mut_ic20())
    got = _col_set(v.ic21(), "value")
    assert got == {EG + "island", EG + "leafGeo"}


def test_ic21(spark):
    v = _validator(spark, fx.mut_ic21())
    got = {(r["value"], tuple(r["code_lists"])) for r in v.ic21().collect()}
    assert got == {(EG + "island2", (EG + "geoHier2",))}


def test_ic20_quirk_inverse_only_hierarchy(spark):
    # Mirror quirk: inverse-only hierarchy -> IC-20 falls back to root
    # membership, flagging the valid leaf too.
    v = _validator(spark, fx.mut_ic21())
    got = _col_set(v.ic20(), "value")
    assert got == {EG + "island2", EG + "leaf2"}


def _strict_validator(spark, extra_rows):
    from nospa_rdf_data_cube_validator_spark.operators.validate import CubeValidator as _CV

    store = TripleStore(terms.triples_df(spark, fx.golden_rows() + extra_rows))
    normalized = normalize(store)
    return _CV(normalized, strict_w3c=True)


def test_ic12_strict_mode_keys_by_dim(spark):
    # strict W3C semantics: crossed values are NOT duplicates; exact dups are.
    v = _strict_validator(spark, fx.mut_ic12())
    assert _col_set(v.ic12(), "obs") == {EG + "o72", EG + "o73"}


def test_ic14_strict_mode_skips_measure_type_cubes(spark):
    v = _strict_validator(spark, fx.measure_type_cube())
    assert v.ic14().collect() == []


def test_ic17_one_sided_skip(spark):
    """Reference parity for the one-sided skip: an obs with NO value for a
    dim compares equal to every obs (the dim is skipped per pair), so the
    equal-set is all 3 obs != 2 measures -> all flagged, 0 unequal each."""
    v = _validator(spark, fx.mut_ic17_one_sided())
    got = {(r["obs"], r["n_unequal"]) for r in v.ic17().collect()}
    assert got == {(EG + "o78", 0), (EG + "o79", 0), (EG + "o93", 0)}


def test_ic17_one_sided_skip_strict(spark):
    """strict_w3c: the official reading makes a value-less obs match nothing
    (equal-count 0, n_unequal 3); the complete pair o78/o79 still passes."""
    store = TripleStore(terms.triples_df(spark, fx.golden_rows() + fx.mut_ic17_one_sided()))
    normalized = normalize(store)
    v = CubeValidator(normalized, strict_w3c=True)
    got = {(r["obs"], r["n_unequal"]) for r in v.ic17().collect()}
    assert got == {(EG + "o93", 3)}


def test_ic17_brute_force_parity(spark):
    """Property check: the set-at-a-time plan equals a literal transcription
    of the reference's O(n^2) loop on a cube mixing clean, value-less, and
    double-valued observations."""
    from nospa_rdf_data_cube_validator_spark import qb as _qb

    rows = fx.measure_type_cube() + fx.mut_ic17_one_sided()[len(fx.measure_type_cube()):]
    # o94: TWO refArea values (also dirty under the skip rule)
    rows += [
        fx.iri_row(EG + "o94", _qb.RDF_TYPE, _qb.QB_OBSERVATION),
        fx.iri_row(EG + "o94", _qb.QB_DATASET_PROP, EG + "ds4"),
        fx.iri_row(EG + "o94", fx.REF_AREA, fx.AREAS[0]),
        fx.iri_row(EG + "o94", fx.REF_AREA, fx.AREAS[1]),
        fx.iri_row(EG + "o94", _qb.QB_MEASURE_TYPE, LIFE := fx.LIFE_EXP),
        fx.lit_row(EG + "o94", LIFE, "50.0", datatype=fx.XSD + "decimal"),
    ]
    # o95/o96: clean pair on AREAS[1], sized 2 == 2 measures (not flagged)
    for name, mt in (("o95", LIFE), ("o96", EG + "mortality")):
        rows += [
            fx.iri_row(EG + name, _qb.RDF_TYPE, _qb.QB_OBSERVATION),
            fx.iri_row(EG + name, _qb.QB_DATASET_PROP, EG + "ds4"),
            fx.iri_row(EG + name, fx.REF_AREA, fx.AREAS[1]),
            fx.iri_row(EG + name, _qb.QB_MEASURE_TYPE, mt),
            fx.lit_row(EG + name, mt, "1.0", datatype=fx.XSD + "decimal"),
        ]
    v = _validator(spark, rows)
    got = {(r["obs"], r["n_unequal"]) for r in v.ic17().collect()}

    # literal reference loop (ValidatorIC17.java:75-96) on the same data
    obs_vals = {}
    for o in ("o78", "o79", "o93", "o94", "o95", "o96"):
        obs_vals[EG + o] = set()
    area_of = {
        EG + "o78": {fx.AREAS[0]},
        EG + "o79": {fx.AREAS[0]},
        EG + "o93": set(),
        EG + "o94": {fx.AREAS[0], fx.AREAS[1]},
        EG + "o95": {fx.AREAS[1]},
        EG + "o96": {fx.AREAS[1]},
    }
    obs_list = sorted(area_of)
    n_measures = 2
    expect = set()
    for o1 in obs_list:
        unequal = 0
        for o2 in obs_list:
            v1, v2 = area_of[o1], area_of[o2]
            if len(v1) == 1 and len(v2) == 1 and v1 != v2:
                unequal += 1
        if len(obs_list) - unequal != n_measures:
            expect.add((o1, unequal))
    assert got == expect


def test_ic6_strict_checks_unreferenced_specs(spark):
    """An optional non-attribute spec NOT referenced by any qb:component is
    invisible under the NoSPA scope quirk (ValidatorIC6.java:27-28) but
    flagged by the official SPARQL IC-6 (strict_w3c)."""
    from nospa_rdf_data_cube_validator_spark import qb as _qb

    rows = [
        fx.lit_row("_:orphan", _qb.QB_COMPONENT_REQUIRED, "false", fx.XSD + "boolean"),
        fx.iri_row("_:orphan", _qb.QB_COMPONENT_PROPERTY, EG + "notAnAttribute"),
    ]
    store = TripleStore(terms.triples_df(spark, fx.golden_rows() + rows))
    normalized = normalize(store)
    assert EG + "notAnAttribute" not in _col_set(CubeValidator(normalized).ic6(), "comp_prop")
    strict = CubeValidator(normalized, strict_w3c=True)
    assert EG + "notAnAttribute" in _col_set(strict.ic6(), "comp_prop")
