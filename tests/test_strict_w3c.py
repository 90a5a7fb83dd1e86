"""strict_w3c differential suite: the dual-validator capability of the
reference (non-SPARQL NospaValidator vs sparql/SparqlValidator running the
official queries, README.md:53-77) mapped onto one engine with two modes.

Two claims are pinned here:

1. For ICs 1-5, 7-11, 13, 18 the NoSPA plan coincides with the official
   SPARQL (IntegrityConstraint.java:16-147,223-244) — both modes must return
   IDENTICAL violation frames on the golden fixture + the IC's mutation.
2. For the quirk-bearing ICs (15, 16, 19, 20, 21 here; 6/12/14/17 are pinned
   in test_ic_mutations.py) the strict branch must reproduce the official
   query semantics exactly — including the SparqlValidator.validateIC20_21
   per-global-pcp union (SparqlValidator.java:219-234).
"""

import pytest

from nospa_rdf_data_cube_validator_spark import terms
from nospa_rdf_data_cube_validator_spark.operators.normalize import normalize
from nospa_rdf_data_cube_validator_spark.operators.validate import CubeValidator
from nospa_rdf_data_cube_validator_spark.plans.algebra import TripleStore

from . import fixtures as fx

EG = fx.EG


def _both_modes(spark, extra_rows):
    store = TripleStore(terms.triples_df(spark, fx.golden_rows() + extra_rows))
    normalized = normalize(store)
    return CubeValidator(normalized), CubeValidator(normalized, strict_w3c=True)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


IDENTICAL_ICS = [1, 2, 3, 4, 5, 7, 8, 9, 10, 11, 13, 18]


@pytest.mark.parametrize("n", IDENTICAL_ICS)
def test_identical_ics_agree_across_modes(spark, n):
    """Both modes produce byte-identical violation frames for the ICs whose
    NoSPA plan IS the official SPARQL — on the golden cube seeded with the
    IC's own mutation (so the agreement is over NON-empty results)."""
    default, strict = _both_modes(spark, getattr(fx, f"mut_ic{n}")())
    d = _rows(getattr(default, f"ic{n}")())
    s = _rows(getattr(strict, f"ic{n}")())
    assert d == s
    assert d, f"mutation for IC-{n} produced no violations — test is vacuous"


def test_ic15_strict_per_binding(spark):
    """Official IC-15: (obs, measure) per failing qb:measureType binding."""
    _, strict = _both_modes(spark, fx.mut_ic15())
    got = {(r["obs"], r["measure"]) for r in strict.ic15().collect()}
    assert got == {(EG + "o90", EG + "mortality")}


def test_ic16_strict_flags_other_measure_values(spark):
    """Official IC-16: an obs with measureType ?m and a value for some other
    declared measure is flagged per measureType binding — o91 carries both
    measureTypes and both values, so BOTH bindings fail."""
    default, strict = _both_modes(spark, fx.mut_ic16())
    got = {(r["obs"], r["measure"]) for r in strict.ic16().collect()}
    assert got == {(EG + "o91", fx.LIFE_EXP), (EG + "o91", EG + "mortality")}
    # the clean pair o78/o79 (one measureType, one matching value) passes
    assert not {r["obs"] for r in strict.ic16().collect()} - {EG + "o91"}
    # default mode reports the fused NoSPA shape for the same seed
    assert {r["obs"] for r in default.ic16().collect()} == {EG + "o91"}


def test_ic19_strict_outputs_obs_dim_pairs(spark):
    """Official IC-19: (obs, dim) pairs with some failing value binding."""
    default, strict = _both_modes(spark, fx.mut_ic19())
    got = {(r["obs"], r["dim"]) for r in strict.ic19().collect()}
    assert got == {(EG + "o82", EG + "city"), (EG + "o82", EG + "city2")}
    # default (NoSPA value-keyed) flags the same underlying values
    assert {r["value"] for r in default.ic19().collect()} == {
        EG + "unknownC",
        EG + "outC",
    }


def test_ic20_strict_matches_on_declared_pcp(spark):
    """With the hierarchy's own direct pcp declared, strict and default agree
    on the unreachable value."""
    default, strict = _both_modes(spark, fx.mut_ic20())
    assert _rows(strict.ic20()) == _rows(default.ic20())
    assert {r["value"] for r in strict.ic20().collect()} == {EG + "island"}


def test_ic21_strict_no_inverse_pcp_means_no_violations(spark):
    """SparqlValidator.validateIC20_21 returns immediately when IC-21A finds
    no inverse pcp (SparqlValidator.java:220) — zero violations, whereas
    NoSPA's quirk degrades to root-membership and flags every non-root."""
    default, strict = _both_modes(spark, fx.mut_ic20())
    assert strict.ic21().collect() == []
    assert {r["value"] for r in default.ic21().collect()} == {
        EG + "island",
        EG + "leafGeo",
    }


def test_ic20_strict_no_direct_pcp_means_no_violations(spark):
    """Mirror of the above for IC-20 over an inverse-only hierarchy."""
    default, strict = _both_modes(spark, fx.mut_ic21())
    assert strict.ic20().collect() == []
    assert {r["value"] for r in default.ic20().collect()} == {
        EG + "island2",
        EG + "leaf2",
    }


def test_ic20_strict_global_pcp_union_quirk(spark):
    """The official twin substitutes EVERY globally declared pcp into the
    reachability query for EVERY hierarchical code list and unions the
    violations (SparqlValidator.java:219-234): with geoHier declaring
    hasPart and geoHier2 declaring only an inverse pcp, geoHier2's values
    are checked against hasPart too — its root has no hasPart edges, so
    every non-root geoHier2 value is flagged alongside geoHier's island."""
    _, strict = _both_modes(spark, fx.mut_ic20() + fx.mut_ic21())
    got = {(r["value"], tuple(r["code_lists"])) for r in strict.ic20().collect()}
    assert got == {
        (EG + "island", (EG + "geoHier",)),
        (EG + "leaf2", (EG + "geoHier2",)),
        (EG + "island2", (EG + "geoHier2",)),
    }


def test_ic21_strict_respects_single_value_bindings(spark):
    """Inverse hierarchy with its pcp declared: strict flags exactly the
    unreachable value (per-binding, no single-value guard needed here)."""
    _, strict = _both_modes(spark, fx.mut_ic21())
    got = {(r["value"], tuple(r["code_lists"])) for r in strict.ic21().collect()}
    assert got == {(EG + "island2", (EG + "geoHier2",))}
