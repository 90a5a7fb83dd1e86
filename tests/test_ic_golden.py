"""Golden-fixture tests: normalize the transcribed test.ttl cube and check
all 21 ICs. The only expected violation is IC-4 on sdmx-dimension:sex (typed
DimensionProperty by N2, no rdfs:range declared in the standalone file)."""

import pytest

from nospa_rdf_data_cube_validator_spark import qb, terms
from nospa_rdf_data_cube_validator_spark.operators.normalize import (
    normalize,
    normalize_phase1,
    normalize_phase2,
)
from nospa_rdf_data_cube_validator_spark.operators.validate import CubeValidator
from nospa_rdf_data_cube_validator_spark.plans import schema
from nospa_rdf_data_cube_validator_spark.plans.algebra import TripleStore

from . import fixtures as fx


@pytest.fixture(scope="module")
def golden_store(spark):
    store = TripleStore(terms.triples_df(spark, fx.golden_rows()))
    normalized = normalize(store)
    normalized.df = normalized.df.localCheckpoint(eager=True)
    yield normalized


@pytest.fixture(scope="module")
def validator(golden_store):
    return CubeValidator(golden_store)


def _col_set(df, col):
    return {r[col] for r in df.select(col).collect()}


def test_normalization_types_observations(spark, golden_store):
    obs = _col_set(TripleStore(golden_store.df).typed(qb.QB_OBSERVATION), "subj")
    assert len(obs) == 24
    assert fx.obs_uri(1, 1) in obs


def test_normalization_pushes_slice_dims(golden_store):
    # o11 must have gained refPeriod + sex from slice1 (N4/N5) and
    # unitMeasure from the dataset (N3).
    import pyspark.sql.functions as F

    preds = _col_set(
        golden_store.df.where(F.col("subj") == fx.obs_uri(1, 1)).select("pred"), "pred"
    )
    assert fx.REF_PERIOD in preds
    assert fx.SEX in preds
    assert fx.UNIT_MEASURE in preds


def test_normalization_idempotent(spark, golden_store):
    again = normalize(TripleStore(golden_store.df))
    assert again.df.count() == golden_store.df.count()


def test_phase1_component_property_closure(spark):
    store = TripleStore(terms.triples_df(spark, fx.golden_rows()))
    p1 = normalize_phase1(store)
    comp_props = _col_set(p1.p(qb.QB_COMPONENT_PROPERTY), "obj")
    assert {fx.REF_AREA, fx.REF_PERIOD, fx.SEX, fx.LIFE_EXP, fx.UNIT_MEASURE} <= comp_props


@pytest.mark.parametrize("ic", [f"ic{i}" for i in range(1, 22) if i != 4])
def test_golden_cube_passes(validator, ic):
    df = getattr(validator, ic)()
    rows = df.collect()
    assert rows == [], f"{ic} should pass on the golden cube, got {rows}"


def test_golden_cube_ic4_flags_sex(validator):
    assert _col_set(validator.ic4(), "dim") == {fx.SEX}


@pytest.mark.parametrize(
    "ic", [f"ic{i}" for i in range(2, 9)] + ["ic15", "ic16", "ic19", "ic20", "ic21"]
)
def test_absent_features_plan_away(golden_store, ic):
    """No IC here plans a scan of the store on the golden cube.

    - IC-2..IC-8 read only schema vocabulary, so each is computed on the
      driver from the schema slice and is a local relation on any cube (on
      the golden cube every one is empty except ic4's one row).
    - The golden cube has no qb:measureType, no qb:codeList and no
      hierarchical code list, so the metadata frames IC-15/16/19/20/21 join
      are empty local relations and the optimizer folds each of them into
      an empty LocalRelation: no observation-scale scan is left to run."""
    plan = getattr(CubeValidator(golden_store), ic)()._jdf.queryExecution().optimizedPlan()
    assert plan.getClass().getSimpleName() == "LocalRelation"
    assert "LogicalRDD" not in plan.toString()


def test_validate_all_job_count(golden_store, spark_jobs):
    """Building all 21 IC plans runs only the driver-side metadata collects;
    the empty-feature ICs cost no job of their own."""
    assert spark_jobs(lambda: CubeValidator(golden_store).validate_all()) <= 2


def test_schema_slice_over_cap_is_rejected(golden_store, monkeypatch):
    """The schema slice is held on the driver; one larger than
    METADATA_CAP triples is rejected instead of validated some other way."""
    monkeypatch.setattr(schema, "METADATA_CAP", 5)
    with pytest.raises(ValueError, match="METADATA_CAP"):
        CubeValidator(golden_store).validate_all()


def test_normalize_rejects_schema_slice_over_cap(spark, monkeypatch):
    """normalize derives N2 and its push-down sides from the same capped
    driver-held slice, so an over-cap schema is rejected there too."""
    monkeypatch.setattr(schema, "METADATA_CAP", 5)
    with pytest.raises(ValueError, match="METADATA_CAP"):
        normalize(TripleStore(terms.triples_df(spark, fx.golden_rows())))


def test_unattached_push_downs_plan_away(spark):
    """Without qb:componentAttachment (the benchmark cube's shape) the N3
    and N4 (ds, comp) sides are empty: phase 2 optimizes to the phase-1
    store plus the one slice push-down arm, which N4 shares with N5 and
    which here carries only N5's dimension pairs."""
    rows = [r for r in fx.golden_rows() if r[1] != qb.QB_COMPONENT_ATTACHMENT]
    p1 = normalize_phase1(TripleStore(terms.triples_df(spark, rows)))
    p1 = p1.with_df(p1.df.localCheckpoint(eager=True))
    plan = normalize_phase2(p1).df._jdf.queryExecution().optimizedPlan()
    assert plan.getClass().getSimpleName() == "Union"
    assert plan.children().size() == 2
