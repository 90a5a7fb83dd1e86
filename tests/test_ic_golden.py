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


def _sliceless_rows() -> list[tuple]:
    """golden_rows without its slices and slice key: no qb:Slice,
    qb:slice, qb:sliceStructure, qb:observation or slice-key triple."""
    drop = set(fx.SLICES) | {fx.SLICE_KEY}
    return [r for r in fx.golden_rows() if r[0] not in drop and r[2] not in drop]


@pytest.fixture(scope="module")
def sliceless_store(spark):
    return normalize(TripleStore(terms.triples_df(spark, _sliceless_rows())))


#: the ICs that test_absent_features_plan_away checks on the slice-less cube
SLICE_ICS = ("ic9", "ic10", "ic18")


@pytest.mark.parametrize(
    "ic", [f"ic{i}" for i in range(2, 11)] + [f"ic{i}" for i in range(15, 22)]
)
def test_absent_features_plan_away(request, spark_jobs, ic):
    """No IC here plans a scan of the store, or runs a job, once the
    validator holds the schema slice.

    - IC-2..IC-8 read only schema vocabulary, so each is computed on the
      driver from the schema slice and is a local relation on any cube (on
      the golden cube every one is empty except ic4's one row).
    - The golden cube has no qb:measureType, no qb:codeList and no
      hierarchical code list, so IC-15/16/17/19/20/21 return the empty
      frame of their declared schema without building a plan; so do
      IC-9/10/18 on the slice-less variant of the cube."""
    store = request.getfixturevalue("sliceless_store" if ic in SLICE_ICS else "golden_store")
    v = CubeValidator(store)
    v._schema()  # the one slice collect, which also observes the catalog
    assert spark_jobs(lambda: getattr(v, ic)()) == 0
    plan = getattr(v, ic)()._jdf.queryExecution().optimizedPlan()
    assert plan.getClass().getSimpleName() == "LocalRelation"
    assert "LogicalRDD" not in plan.toString()


@pytest.mark.parametrize("ic", ["ic9", "ic10", "ic17", "ic18"])
def test_skipped_ic_writes_in_one_job(sliceless_store, spark_jobs, tmp_path, ic):
    """A skipped IC's report table is one local write: on the slice-less
    cube IC-9/10/18 have no slice to check and IC-17 no qb:measureType
    (their full plans wrote in 3/3/4/9 jobs)."""
    df = getattr(CubeValidator(sliceless_store), ic)()
    assert spark_jobs(lambda: df.write.parquet(str(tmp_path / ic))) == 1


#: the ICs that are local relations on the slice-less cube: the schema-only
#: IC-2..IC-8 and the ICs skipped for absent vocabulary
SLICELESS_LOCAL_ICS = {f"ic{i}" for i in range(2, 11)} | {f"ic{i}" for i in range(15, 22)}


def test_report_commits_local_ics_without_jobs(spark, sliceless_store, spark_jobs, tmp_path, monkeypatch):
    """A local-relation IC result is committed from the driver: it adds no
    Spark job to the report, reads back through Spark with the IC's
    declared columns and its own rows, and the report (counts, markdown
    after the timestamp line, read-back schemas) equals one whose tables
    all go through df.write."""
    from nospa_rdf_data_cube_validator_spark import report
    from nospa_rdf_data_cube_validator_spark.session import is_local

    def columns(struct):
        return [(f.name, f.dataType.simpleString()) for f in struct]

    def rows(df):
        return sorted(map(tuple, df.collect()), key=repr)

    with CubeValidator(sliceless_store) as v:
        results = v.validate_all()
        local = {ic: df for ic, df in results.items() if is_local(df)}
        assert set(local) == SLICELESS_LOCAL_ICS
        assert spark_jobs(lambda: report.write_validation_report(local, str(tmp_path / "local"))) == 0
        for ic, df in local.items():
            back = spark.read.parquet(str(tmp_path / "local" / ic))
            assert columns(back.schema) == columns(v.output_schema(ic))
            assert rows(back) == rows(df)

        text, counts = report.write_validation_report(results, str(tmp_path / "driver"))
        monkeypatch.setattr(report, "is_local", lambda df: False)
        spark_text, spark_counts = report.write_validation_report(results, str(tmp_path / "spark"))
    assert counts == spark_counts and counts["ic4"] == 1
    assert text.split("\n", 1)[1] == spark_text.split("\n", 1)[1]
    for ic in results:
        driver_back = spark.read.parquet(str(tmp_path / "driver" / ic))
        assert driver_back.schema == spark.read.parquet(str(tmp_path / "spark" / ic)).schema


def _full_vocabulary_rows() -> list[tuple]:
    """Every vocabulary an IC guard looks for: slices (golden),
    qb:measureType, code lists and a hierarchical code list."""
    return fx.golden_rows() + fx.measure_type_cube() + fx.codelist_cube() + fx.hierarchy_cube_direct()


@pytest.mark.parametrize("strict", [False, True], ids=["nospa", "strict"])
@pytest.mark.parametrize("encoded", [False, True], ids=["string", "encoded"])
def test_built_plans_have_declared_schema(spark, monkeypatch, encoded, strict):
    """Each IC's full plan has the schema its skip frame is declared with,
    on a cube where no guard fires (_skip is made to fail)."""
    from nospa_rdf_data_cube_validator_spark.plans.encoding import encode_store

    raw = TripleStore(terms.triples_df(spark, _full_vocabulary_rows()))
    store = normalize(encode_store(raw) if encoded else raw)

    def no_skip(self, ic):
        raise AssertionError(f"{ic} skipped on the full-vocabulary cube")

    monkeypatch.setattr(CubeValidator, "_skip", no_skip)
    with CubeValidator(store, strict_w3c=strict) as v:
        for ic, df in v.validate_all().items():
            assert df.schema == v.output_schema(ic), ic


def test_validate_all_job_count(golden_store, spark_jobs):
    """Building all 21 IC plans runs only the driver-side metadata collect:
    the schema slice, whose scan also observes the catalog that the
    absent-vocabulary guards read. No IC costs a job of its own."""
    assert spark_jobs(lambda: CubeValidator(golden_store).validate_all()) == 1


def test_schema_slice_catalog_sees_every_triple(golden_store):
    """The catalog observed on the slice's scan holds the store's distinct
    predicates and rdf:type classes, also when the capped collect scans a
    store of many partitions in more than one job."""
    store = golden_store.with_df(golden_store.df.repartition(9))
    slice_ = schema.SchemaSlice(store)
    assert slice_.preds == {r.pred for r in store.df.select("pred").distinct().collect()}
    typed = store.df.where(store.df.pred == qb.RDF_TYPE).select("obj").distinct()
    assert slice_.classes == {r.obj for r in typed.collect()}


def test_normalize_job_count(spark, spark_jobs):
    """normalize collects the schema slice of its input once (phase 2
    reads that slice plus the N2 rows; a second collect made it one job
    more) and materializes only its deduplicated result: 13 jobs, where a
    phase-1 checkpoint plus a caller's checkpoint of the result took 6 + 8.
    The result is a LogicalRDD, which a count reads without re-running any
    normalization: it costs what a count of the materialized input costs."""
    store = TripleStore(terms.triples_df(spark, fx.golden_rows()).localCheckpoint(eager=True))
    out = []
    assert spark_jobs(lambda: out.append(normalize(store))) == 13
    plan = out[0].df._jdf.queryExecution().optimizedPlan()
    assert plan.getClass().getSimpleName() == "LogicalRDD"
    assert spark_jobs(out[0].df.count) == spark_jobs(store.df.count)


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
