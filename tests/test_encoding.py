"""Dictionary-encoded engine: exactness parity with the string engine.

The encoded store must be a drop-in: same normalization closure, same 21
violation sets (value-identical after decode), with min()-selections
preserved by the order-preserving dictionary."""

import pytest
from pyspark.sql import functions as F

from nospa_rdf_data_cube_validator_spark import terms
from nospa_rdf_data_cube_validator_spark.operators.normalize import normalize
from nospa_rdf_data_cube_validator_spark.operators.validate import CubeValidator
from nospa_rdf_data_cube_validator_spark.plans.algebra import TripleStore
from nospa_rdf_data_cube_validator_spark.plans.encoding import (
    build_dictionary,
    encode_store,
)

from . import fixtures as fx


@pytest.fixture(scope="module")
def engines(spark):
    """(string CubeValidator, encoded CubeValidator, encoded store) over the
    golden fixture + every mutation — one normalize per engine."""
    rows = (
        fx.golden_rows()
        + fx.mut_ic17()
        + fx.mut_ic15()
        + fx.mut_ic16()
        + fx.mut_ic18()
    )
    raw = TripleStore(terms.triples_df(spark, rows))
    s_norm = normalize(raw)
    enc = encode_store(raw)
    e_norm = normalize(enc)
    return CubeValidator(s_norm), CubeValidator(e_norm), e_norm


def test_dictionary_is_order_preserving(spark):
    df = terms.triples_df(spark, fx.golden_rows())
    d = build_dictionary(df)
    rows = sorted((r["term"], r["id"]) for r in d.collect())
    ids = [i for _, i in rows]
    assert ids == sorted(ids), "ids must be ranked by term string order"
    # the engine contract is ORDER PRESERVATION + uniqueness (so that
    # min(id) == id(min(term)) for every representative pick); density was
    # an implementation detail of the old RDD zipWithIndex path and is not
    # required — the r06 JVM-only assignment is sparse by design
    assert len(set(ids)) == len(ids), "ids must be unique"


def test_dictionary_is_order_preserving_across_sort_partitions(spark):
    """With AQE's coalescing the golden dictionary sorts into one partition;
    without it the global sort keeps the session's range partitions, so
    the ids' partition bits (``id >> 33``) differ and must still rank by
    term."""
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        d = build_dictionary(terms.triples_df(spark, fx.golden_rows()))
        rows = sorted((r["term"], r["id"]) for r in d.collect())
    finally:
        spark.conf.set(key, old)
    ids = [i for _, i in rows]
    assert len(set(ids)) == len(ids), "ids must be unique"
    assert ids == sorted(ids), "ids must be ranked by term string order"
    assert len({i >> 33 for i in ids}) >= 2, "the sort ran in one partition"


def test_encoded_normalization_row_parity(spark, engines):
    sv, ev, e_store = engines
    assert sv.store.df.count() == ev.store.df.count()
    # decode the whole encoded store and compare the triple sets exactly
    dec = e_store.decode(ev.store.df, ["subj", "pred", "obj"]).select(
        "subj", "pred", "obj"
    )
    k = ["subj", "pred", "obj"]
    sdf = sv.store.df.select(*k)
    assert sdf.join(dec, k, "left_anti").count() == 0
    assert dec.join(sdf, k, "left_anti").count() == 0


def test_encoded_all_21_ics_value_parity(engines):
    sv, ev, e_store = engines
    s_all, e_all = sv.validate_all(), ev.validate_all()
    for name in s_all:
        cols = sv.term_columns(name)
        s_rows = {tuple(r[c] for c in cols) for r in s_all[name].select(*cols).collect()}
        e_dec = e_store.decode(e_all[name].select(*cols), cols)
        e_rows = {tuple(r[c] for c in cols) for r in e_dec.collect()}
        assert s_rows == e_rows, f"{name}: {s_rows ^ e_rows}"


def test_decode_never_shuffles_the_dictionary(spark, engines):
    """decode()'s physical plan must reach the dictionary only through a
    broadcast: the violation frame's distinct ids broadcast INTO a
    left-semi filter of the dictionary, and the filtered slice broadcasts
    into the decode join. A SortMergeJoin or shuffle Exchange on the
    dictionary side would stream the (100 TB-scale) dictionary — the exact
    regression this pins (Spark ignores a broadcast hint on the PRESERVED
    side of a left-outer join, so the old broadcast(df) formulation
    silently shuffled the dictionary)."""
    _, ev, e_store = engines
    small = ev.store.df.limit(10).select("subj", "pred", "obj")
    plan = (
        e_store.decode(small, ["subj", "pred", "obj"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


@pytest.mark.parametrize("n", [2, 3, 4, 5, 6, 7, 8, 13])
def test_encoded_schema_ics_match_on_violating_cube(spark, n):
    """The schema-only ICs (IC-2..IC-8, and IC-13's required-attribute side)
    compare slice terms against vocabulary constants such as the typed
    booleans and skos:Concept; on a cube that violates icN, the encoded
    store decodes to the string store's icN rows, and they are not empty.
    One normalize per mutation: several mutations reuse eg:ds2."""
    raw = TripleStore(terms.triples_df(spark, fx.golden_rows() + getattr(fx, f"mut_ic{n}")()))
    s_norm = normalize(raw)
    e_norm = normalize(encode_store(raw))
    ic = f"ic{n}"
    s_df = getattr(CubeValidator(s_norm), ic)()
    ev = CubeValidator(e_norm)
    e_df = getattr(ev, ic)()
    # term-valued key columns decoded; scalar columns (ic2's n_dsds) as is;
    # the id-space array columns are left out
    cols = [c for c, t in s_df.dtypes if not t.startswith("array")]
    e_dec = e_norm.decode(e_df.select(*cols), ev.term_columns(ic))
    want = {tuple(r[c] for c in cols) for r in s_df.select(*cols).collect()}
    got = {tuple(r[c] for c in cols) for r in e_dec.collect()}
    assert got == want and len(want) > 0, (want, got)


def test_dictionary_ids_survive_unpersist(spark):
    """encode_store's dictionary keeps every term's id after the frame is
    unpersisted: a recomputation would number the terms anew, and the
    triples already encoded would decode to other terms."""
    enc = encode_store(TripleStore(terms.triples_df(spark, fx.golden_rows())))
    before = {r["term"]: r["id"] for r in enc.dictionary.collect()}
    enc.dictionary.unpersist()
    after = {r["term"]: r["id"] for r in enc.dictionary.collect()}
    assert after == before


def test_encoded_ic12_representative_choice_matches(spark):
    """The IC-12 'all but the MINIMUM obs' pick must survive encoding —
    guaranteed only because the dictionary is order-preserving."""
    rows = fx.golden_rows() + fx.mut_ic12()
    raw = TripleStore(terms.triples_df(spark, rows))
    s_norm = normalize(raw)
    e_norm = normalize(encode_store(raw))
    s = {r["obs"] for r in CubeValidator(s_norm).ic12().collect()}
    e_df = CubeValidator(e_norm).ic12()
    e = {r["obs"] for r in e_norm.decode(e_df, ["obs"]).collect()}
    assert s == e and len(s) > 0


def _cached_plans(spark) -> list[str]:
    """The analyzed plans of the DataFrames the session's cache manager holds."""
    cached = spark._jsparkSession.sharedState().cacheManager().cachedData()
    return sorted(cached.apply(i).plan().toString() for i in range(cached.size()))


def test_validate_store_decodes_encoded_report(spark, tmp_path):
    """validate_store over an encoded store writes IRIs, not term ids: the
    committed ic12 table holds the same obs IRIs as the string store's, and
    the validator's caches are released by the time it returns."""
    import os

    import pyarrow.parquet as pq

    from nospa_rdf_data_cube_validator_spark.pipeline import validate_store

    raw = TripleStore(terms.triples_df(spark, fx.golden_rows() + fx.mut_ic12()))
    s_norm = normalize(raw)
    e_norm = normalize(encode_store(raw))
    want = {r["obs"] for r in CubeValidator(s_norm).ic12().collect()}

    before = _cached_plans(spark)
    _, counts = validate_store(e_norm, str(tmp_path / "report"))
    assert _cached_plans(spark) == before

    table = pq.read_table(os.path.join(tmp_path, "report", "violations", "ic12"))
    assert table.schema.field("obs").type == "string"
    got = table.column("obs").to_pylist()
    assert counts["ic12"] == len(got) == len(want) > 0
    assert set(got) == want


@pytest.mark.parametrize("ic", ["ic15", "ic16", "ic19"])
def test_validate_store_decodes_strict_report(spark, tmp_path, ic):
    """validate_store(strict_w3c=True) decodes the columns of the strict
    plans: on the mutation cube of an IC whose strict output differs from
    NoSPA's (IC-15/16: (obs, measure); IC-19: (obs, dim)), the encoded
    store's committed counts and term columns equal the string store's."""
    import os

    import pyarrow.parquet as pq

    from nospa_rdf_data_cube_validator_spark.pipeline import validate_store

    raw = TripleStore(terms.triples_df(spark, getattr(fx, f"mut_{ic}")()))
    reports = {}
    for name, store in (("str", raw), ("enc", encode_store(raw))):
        norm = normalize(store)
        reports[name] = validate_store(norm, str(tmp_path / name), strict_w3c=True)[1]
    assert reports["enc"] == reports["str"] and reports["str"][ic] > 0
    cols = ["obs", "dim" if ic == "ic19" else "measure"]

    def rows(name):
        table = pq.read_table(os.path.join(tmp_path, name, "violations", ic))
        assert all(table.schema.field(c).type == "string" for c in cols)
        return sorted(zip(*(table.column(c).to_pylist() for c in cols)))

    assert rows("enc") == rows("str")


def test_pipeline_encoded_snapshots_and_resume(spark, tmp_path):
    """encoded=True adds term_dict + triples_encoded snapshots; validation
    over ids yields zero violations on the constructed cube; a second run
    resumes from the encoded snapshots (manifest short-circuit)."""
    import os

    from nospa_rdf_data_cube_validator_spark.pipeline import run_pipeline, validate_store
    from nospa_rdf_data_cube_validator_spark.sources.transcripts import synth_transcripts

    wd = str(tmp_path / "enc_wd")
    tr = synth_transcripts(spark, n_convs=15, base_turns=5, hot_convs=1, hot_turns=30)
    res = run_pipeline(spark, tr, wd, validate=True, encoded=True)
    _, counts = validate_store(res["store"], str(tmp_path / "report"))
    assert len(counts) == 21
    for name, n in counts.items():
        assert n == 0, name
    assert res["triples_encoded"].schema["subj"].dataType.typeName() == "long"
    assert os.path.exists(os.path.join(wd, "term_dict"))
    # the decoded edge count matches the string triples snapshot
    dec = res["store"].decode(
        res["triples_encoded"].select("subj", "pred", "obj"), ["subj", "pred", "obj"]
    )
    assert dec.count() == res["triples"].count()
    # resume must short-circuit from the manifest: stage entries (incl.
    # their recorded build seconds) are byte-identical after the second run
    # — deterministic, unlike a wall-clock bound on this shared host
    manifest_path = os.path.join(wd, "_MANIFEST.json")
    before = open(manifest_path).read()
    res2 = run_pipeline(spark, tr, wd, validate=False, encoded=True)
    assert res2["triples_encoded"].count() == res["triples_encoded"].count()
    assert open(manifest_path).read() == before


def test_pipeline_bucketed_encoded_atrest(spark, tmp_path):
    """validate=True + encoded=True: the validate store IS the subj-bucketed
    cube_atrest table — per-observation (subj, pred) aggregations plan with
    NO Exchange, violations still all-zero (plan property + correctness),
    and a re-run resumes the table from the session catalog."""
    import json
    import os

    from nospa_rdf_data_cube_validator_spark.pipeline import run_pipeline, validate_store
    from nospa_rdf_data_cube_validator_spark.sources.transcripts import synth_transcripts

    wd = str(tmp_path / "bkt_wd")
    tr = synth_transcripts(spark, n_convs=15, base_turns=5, hot_convs=1, hot_turns=30)
    res = run_pipeline(spark, tr, wd, validate=True, encoded=True, buckets=4)
    _, counts = validate_store(res["store"], str(tmp_path / "report"))
    assert len(counts) == 21
    for name, n in counts.items():
        assert n == 0, name
    store_df = res["store"].df
    assert store_df.schema["subj"].dataType.typeName() == "long"
    plan = store_df.groupBy("subj", "pred").count()._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    manifest = json.load(open(os.path.join(wd, "_MANIFEST.json")))
    assert manifest["stages"]["cube_atrest"]["done"]
    # run_table's lineage (from the table's part-file footers) totals its rows
    lineage = spark.read.parquet(os.path.join(wd, "_lineage_cube_atrest"))
    rows = manifest["stages"]["cube_atrest"]["rows"]
    assert lineage.agg(F.sum("row_count")).collect()[0][0] == rows == store_df.count()
    # same-session resume: the manifest (incl. recorded seconds) is untouched
    before = open(os.path.join(wd, "_MANIFEST.json")).read()
    res2 = run_pipeline(spark, tr, wd, validate=True, encoded=True, buckets=4)
    assert open(os.path.join(wd, "_MANIFEST.json")).read() == before
