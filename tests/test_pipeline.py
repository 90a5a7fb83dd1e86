"""Tests for the KG-construction pipeline: extraction invariants, linking
ambiguity, canonicalization chains, checkpoint-resume, RDF sources."""

import glob
import os

import pytest
from pyspark.sql import functions as F

from nospa_rdf_data_cube_validator_spark import qb
from nospa_rdf_data_cube_validator_spark.functions import entities as E
from nospa_rdf_data_cube_validator_spark.functions.extraction import extract_mentions
from nospa_rdf_data_cube_validator_spark.functions.linking import (
    alias_edges,
    canonicalize,
    link_mentions,
    resolve_aliases,
    surface_dict,
)
from nospa_rdf_data_cube_validator_spark.pipeline import StageRunner, run_pipeline, validate_store
from nospa_rdf_data_cube_validator_spark.plans import schema
from nospa_rdf_data_cube_validator_spark.session import is_local, local_frame
from nospa_rdf_data_cube_validator_spark.sources.rdf import (
    read_ntriples,
    read_turtle,
    write_ntriples,
)
from nospa_rdf_data_cube_validator_spark.sources.transcripts import read_transcripts, synth_transcripts


@pytest.fixture(scope="module")
def transcripts(spark):
    return synth_transcripts(spark, n_convs=20, base_turns=5, hot_convs=1, hot_turns=50)


def test_transcripts_deterministic(spark, transcripts):
    again = synth_transcripts(spark, n_convs=20, base_turns=5, hot_convs=1, hot_turns=50)
    a = sorted(map(tuple, transcripts.collect()))
    b = sorted(map(tuple, again.collect()))
    assert a == b
    # heavy tail present
    sizes = dict(
        transcripts.groupBy("conv_id").count().collect()
    )


def test_extraction_one_mention_per_turn(transcripts):
    n_turns = transcripts.count()
    mentions = extract_mentions(transcripts)
    assert mentions.count() == n_turns  # every generated turn embeds one template
    # keys preserved
    assert mentions.select("conv_id", "turn_idx").distinct().count() == n_turns


def test_extraction_per_turn_text_equality(spark, transcripts):
    """Invariant: extraction output joined back on (conv_id, turn_idx)
    reconstructs the turn's mention surfaces regardless of partitioning."""
    mentions = extract_mentions(transcripts.repartition(13))
    joined = mentions.join(transcripts, ["conv_id", "turn_idx"])
    bad = joined.where(
        ~F.col("text").contains(F.col("subj_surface"))
        | ~F.col("text").contains(F.col("obj_surface"))
    )
    assert bad.count() == 0


def test_linking_ambiguity_resolves_to_min_iri(spark):
    mentions = spark.createDataFrame(
        [("c1", 0, "visited", "A. Morgan", "Cardiff")],
        "conv_id string, turn_idx int, rel string, subj_surface string, obj_surface string",
    )
    linked = link_mentions(mentions, surface_dict(spark)).collect()
    # "A. Morgan" is ambiguous (alice | morgan_org); min IRI wins -> alice
    assert linked[0]["subj_entity"] == E.entity_iri("alice")


def test_surface_dict_is_one_local_row_per_surface(spark):
    """surface_dict resolves each surface to its minimum candidate on the
    driver: unique surfaces, and a plan with nothing left to aggregate."""
    d = surface_dict(spark)
    assert d._jdf.queryExecution().optimizedPlan().getClass().getSimpleName() == "LocalRelation"
    got = [(r["surface"], r["entity"]) for r in d.collect()]
    assert len({s for s, _ in got}) == len(got)
    candidates: dict[str, set[str]] = {}
    for s, _ei, _si, iri in E.surface_rows():
        candidates.setdefault(s, set()).add(iri)
    assert dict(got) == {s: min(c) for s, c in candidates.items()}


def test_canonicalization_chain(spark):
    amap = {r["entity"]: r["canonical"] for r in resolve_aliases(alias_edges(spark)).collect()}
    assert amap[E.entity_iri("ons_dup2")] == E.entity_iri("ons")  # 2-hop chain
    assert amap[E.entity_iri("cardiff_dup")] == E.entity_iri("cardiff")
    assert amap == E.canonical_map()


@pytest.mark.parametrize(
    "edges, want",
    [
        ([("a", "b"), ("b", "a")], set()),
        ([("a", "b"), ("a", "c")], {("a", "b"), ("a", "c")}),
        ([("a", "b"), ("b", "c"), ("c", "b")], set()),
        ([("a", "b"), ("b", "c"), ("a", "d")], {("a", "c"), ("a", "d"), ("b", "c")}),
    ],
    ids=["cycle", "fan_out", "chain_into_cycle", "chain_and_fan_out"],
)
def test_resolve_aliases_maps_sources_to_chain_terminals(spark, edges, want):
    """Only reached nodes that are no source become canonicals: a cycle
    maps nowhere and a fan-out maps one source to each terminal."""
    resolved = resolve_aliases(local_frame(spark, edges, "src string, dst string"))
    assert {(r["entity"], r["canonical"]) for r in resolved.collect()} == want


def test_resolve_aliases_rejects_edges_over_cap(spark, monkeypatch):
    """The alias list is closed on the driver; one longer than
    METADATA_CAP edges is rejected instead of closed some other way."""
    monkeypatch.setattr(schema, "METADATA_CAP", len(E.ALIAS_EDGES) - 1)
    with pytest.raises(ValueError, match="METADATA_CAP"):
        resolve_aliases(alias_edges(spark))


def test_canonical_stage_jobs(spark, spark_jobs, transcripts, tmp_path, monkeypatch):
    """The alias map is a local relation, so the canonical stage's two
    broadcasts of it run no job: the stage commits in at most 2 jobs (a
    Spark-side closure of the map made it 4)."""
    assert is_local(resolve_aliases(alias_edges(spark)))
    jobs: dict[str, int] = {}
    run = StageRunner.run

    def counted(self, stage, build, rerun=False):
        out = []
        jobs[stage] = spark_jobs(lambda: out.append(run(self, stage, build, rerun)))
        return out[0]

    monkeypatch.setattr(StageRunner, "run", counted)
    run_pipeline(spark, transcripts, str(tmp_path / "wd"), validate=False, encoded=False)
    assert jobs["canonical"] <= 2


def test_read_transcripts_parquet_without_iceberg_probe(spark, transcripts, tmp_path, monkeypatch):
    """A parquet table is read as parquet, with no trial Iceberg read."""
    from pyspark.sql.readwriter import DataFrameReader

    path = str(tmp_path / "transcripts")
    transcripts.write.parquet(path)
    formats = []
    fmt = DataFrameReader.format

    def recorded(self, source):
        formats.append(source)
        return fmt(self, source)

    monkeypatch.setattr(DataFrameReader, "format", recorded)
    got = read_transcripts(spark, path)
    assert formats == []
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, transcripts.collect()))


def test_read_transcripts_iceberg_layout_fails_loudly(spark, transcripts, tmp_path):
    """A path with a metadata/ directory is an Iceberg table: it is read by
    the Iceberg source and its failure propagates (a session without the
    Iceberg runtime cannot read it), never falling back to the data files
    as parquet."""
    path = tmp_path / "transcripts"
    transcripts.write.parquet(str(path))
    (path / "metadata").mkdir()
    with pytest.raises(Exception, match="(?i)iceberg"):
        read_transcripts(spark, str(path)).collect()


def test_canonicalize_rewrites(spark):
    linked = spark.createDataFrame(
        [("c1", 0, "visited", "x", "y", E.entity_iri("ons_dup2"), E.entity_iri("newport"))],
        "conv_id string, turn_idx int, rel string, subj_surface string, obj_surface string,"
        " subj_entity string, obj_entity string",
    )
    canon = canonicalize(linked, resolve_aliases(alias_edges(spark))).collect()[0]
    assert canon["subj_entity"] == E.entity_iri("ons")
    assert canon["obj_entity"] == E.entity_iri("newport")


def test_pipeline_end_to_end_and_resume(spark, transcripts, tmp_path):
    wd = str(tmp_path / "wd")
    res = run_pipeline(spark, transcripts, wd, validate=True)
    assert res["triples"].count() > 0
    _, counts = validate_store(res["store"], str(tmp_path / "report"))
    assert len(counts) == 21
    for name, n in counts.items():
        assert n == 0, f"{name} violated on constructed cube"
    # manifest written, lineage rows exist
    assert os.path.exists(os.path.join(wd, "_MANIFEST.json"))
    lineage = spark.read.parquet(os.path.join(wd, "_lineage_mentions"))
    assert lineage.agg(F.sum("row_count")).collect()[0][0] == res["mentions"].count()
    # resume: second run must reuse snapshots (manifest short-circuits)
    runner = StageRunner(spark, wd)
    assert runner.manifest["stages"]["triples"]["done"]
    res2 = run_pipeline(spark, transcripts, wd, validate=False)
    assert res2["triples"].count() == res["triples"].count()


@pytest.fixture(scope="module")
def encoded_build(spark, transcripts, tmp_path_factory):
    """(work dir, session cache entries before, after) of one
    ``run_pipeline(validate=False, encoded=True)`` over the small
    transcripts."""
    cache = spark._jsparkSession.sharedState().cacheManager()
    wd = str(tmp_path_factory.mktemp("encoded_build") / "wd")
    before = cache.numCachedEntries()
    run_pipeline(spark, transcripts, wd, validate=False, encoded=True)
    return wd, before, cache.numCachedEntries()


def test_pipeline_leaves_no_cached_frame(encoded_build):
    """Every stage reads committed snapshots, so a run caches nothing that
    would outlive it in the session."""
    _, before, after = encoded_build
    assert after == before


def test_term_dict_is_one_sorted_range_per_file(spark, encoded_build):
    """The dictionary's global sort coalesces into at most the session's
    shuffle partitions, and the committed ids are unique and rank by
    term."""
    wd = encoded_build[0]
    path = os.path.join(wd, "term_dict", "v1")
    files = glob.glob(os.path.join(path, "part-*.parquet"))
    assert 1 <= len(files) <= int(spark.conf.get("spark.sql.shuffle.partitions"))
    rows = sorted((r["term"], r["id"]) for r in spark.read.parquet(path).collect())
    ids = [i for _, i in rows]
    assert len(set(ids)) == len(ids)
    assert ids == sorted(ids)


def test_turtle_parses_reference_fixture(spark):
    df = read_turtle(spark, "/root/reference/test.ttl")
    assert df.count() == 206
    # spot checks: typed literal, lang literal, bnode component
    assert (
        df.where(
            (F.col("pred") == "http://example.org/ns#lifeExpectancy")
            & (F.col("obj_datatype") == qb.XSD_DECIMAL)
        ).count()
        == 24
    )
    assert df.where(F.col("obj_lang") == "en").count() > 0
    assert df.where((F.col("pred") == qb.QB_COMPONENT) & (F.col("obj_kind") == "bnode")).count() == 5


def test_ntriples_roundtrip(spark, tmp_path):
    df = read_turtle(spark, "/root/reference/test.ttl")
    path = str(tmp_path / "nt")
    write_ntriples(df, path)
    back = read_ntriples(spark, path)
    k = ["subj", "pred", "obj"]
    assert back.count() == df.count()
    assert df.join(back, k, "left_anti").count() == 0
    assert back.join(df, k, "left_anti").count() == 0


def test_validation_report(spark, tmp_path):
    from nospa_rdf_data_cube_validator_spark.report import write_validation_report

    ok = spark.createDataFrame([], "obs string")
    bad = spark.createDataFrame([("a", 2)], "obs string, n_datasets long")
    text, counts = write_validation_report(
        {"ic1": bad, "ic2": ok}, md_path=str(tmp_path), parquet_dir=str(tmp_path / "v")
    )
    assert "Integrity Constraint 1" in text and "| a | 2 |" in text
    assert "Integrity Constraint 2" in text and "Pass." in text
    assert spark.read.parquet(str(tmp_path / "v" / "ic1")).count() == 1
    import glob

    assert glob.glob(str(tmp_path / "validation_result_*.md"))


def test_validation_report_reads_back_committed_tables(spark, tmp_path):
    """The markdown sample and the counts come from the parquet just
    written: a multi-partition table longer than the sample is truncated
    to its first rows by the first column, nulls first, ties broken on the
    full row (so the partition layout cannot change it), and each count
    equals the rows in the committed files; an empty IC reads "Pass." and
    is still committed."""
    import glob

    import pyarrow.parquet as pq

    from nospa_rdf_data_cube_validator_spark.report import write_validation_report

    rows = [(None if i % 7 == 0 else f"o{i % 5}", f"d{i % 3}", i) for i in range(40)]
    schema = "obs string, dim string, n long"
    empty = spark.createDataFrame([], "obs string")

    def section(layout):
        bad = spark.createDataFrame(rows, schema).repartition(layout, "n")
        text, counts = write_validation_report(
            {"ic11": bad, "ic2": empty}, parquet_dir=str(tmp_path / f"v{layout}"), sample_rows=8
        )
        return text.split("\n", 1)[1], counts  # drop the timestamped title

    text, counts = section(3)
    assert text == section(1)[0]
    assert counts == {"ic11": 40, "ic2": 0}
    on_disk = {
        ic: sum(pq.read_metadata(f).num_rows for f in glob.glob(str(tmp_path / "v3" / ic / "*.parquet")))
        for ic in counts
    }
    assert on_disk == counts
    assert all(os.path.exists(tmp_path / "v3" / ic / "_SUCCESS") for ic in counts)

    want = sorted(rows, key=lambda r: [(v is not None, v) for v in r])[:8]
    body = text.split("## Integrity Constraint 2", 1)[0]
    table = [ln for ln in body.splitlines() if ln.startswith("| ")]
    assert table[0] == "| obs | dim | n |"
    assert table[1:9] == ["| " + " | ".join(str(v) for v in r) + " |" for r in want]
    assert table[1].startswith("| None |") and table[8].startswith("| o0 |")
    assert table[9] == "| ... truncated at 8 rows ... |" and len(table) == 10
    assert text.split("## Integrity Constraint 2: Unique DSD", 1)[1].strip() == "Pass."


def test_cli_validate_exit_code(spark, tmp_path):
    """`main.py validate` exits 2 when any IC fails and 0 when all pass:
    the golden cube flags IC-4 (sdmx-dimension:sex has no rdfs:range);
    declaring the range makes it clean."""
    import argparse

    import main as cli
    from nospa_rdf_data_cube_validator_spark import terms
    from nospa_rdf_data_cube_validator_spark.sources.rdf import write_ntriples

    from . import fixtures as fx

    def validate(name, rows):
        cube = str(tmp_path / f"{name}.nt")
        write_ntriples(terms.triples_df(spark, rows), cube)
        args = argparse.Namespace(input=cube, report=str(tmp_path / name), strict=False)
        return cli.cmd_validate(spark, args)

    assert validate("golden", fx.golden_rows()) == 2
    sex_range = terms.iri_row(fx.SEX, fx.RDFS + "range", fx.SDMX_CODE + "Sex")
    assert validate("clean", fx.golden_rows() + [sex_range]) == 0


def test_ntriples_roundtrip_control_chars(spark, tmp_path):
    """Literals with newline/CR/tab must survive a write->read roundtrip
    (the writer escapes them; unescaped they split the line and vanish)."""
    from nospa_rdf_data_cube_validator_spark import terms

    rows = [
        terms.lit_row("http://x/s1", "http://x/p", 'multi\nline "quoted" \t tabbed \r cr'),
        terms.lit_row("http://x/s2", "http://x/p", "back\\slash", "http://www.w3.org/2001/XMLSchema#string"),
        terms.iri_row("http://x/s3", "http://x/p", "http://x/o"),
    ]
    df = terms.triples_df(spark, rows)
    path = str(tmp_path / "ctrl_nt")
    write_ntriples(df, path)
    back = read_ntriples(spark, path)
    k = ["subj", "pred", "obj"]
    assert back.count() == 3
    assert df.join(back, k, "left_anti").count() == 0
    assert back.join(df, k, "left_anti").count() == 0


def test_ntriples_malformed_raises(spark, tmp_path):
    """Jena parity: malformed N-Triples input fails loudly by default and
    is droppable only on request."""
    import pytest as _pytest

    p = tmp_path / "bad.nt"
    p.write_text("<http://x/s> <http://x/p> <http://x/o> .\nnot a triple line\n")
    with _pytest.raises(Exception, match="malformed"):
        read_ntriples(spark, str(p)).count()
    assert read_ntriples(spark, str(p), on_malformed="drop").count() == 1


def test_ntriples_malformed_raises_at_read(spark, tmp_path):
    """The read is eager: a malformed line fails the read_ntriples call
    itself, before the caller runs any action on its frame."""
    p = tmp_path / "bad.nt"
    p.write_text("<http://x/s> <http://x/p> <http://x/o> .\nnot a triple line\n")
    with pytest.raises(Exception, match="malformed"):
        read_ntriples(spark, str(p))


def test_ntriples_parsed_once(spark, tmp_path):
    """Neither the read nor normalize over it plans the Python parse: every
    line went through it once, inside read_ntriples."""
    from nospa_rdf_data_cube_validator_spark import terms
    from nospa_rdf_data_cube_validator_spark.operators.normalize import normalize
    from nospa_rdf_data_cube_validator_spark.plans.algebra import TripleStore

    from . import fixtures as fx

    path = str(tmp_path / "golden_nt")
    write_ntriples(terms.triples_df(spark, fx.golden_rows()), path)
    read = read_ntriples(spark, path)
    for df in (read, normalize(TripleStore(read)).df):
        assert "MapInPandas" not in df._jdf.queryExecution().optimizedPlan().toString()


def test_rdfxml_parses_cube_subset(spark, tmp_path):
    """RDF/XML reader (the reference's default format, Main.java:24-25):
    typed nodes, rdf:about/nodeID, rdf:resource, datatyped and lang
    literals, parseType=Resource, nested nodes, property attributes."""
    from nospa_rdf_data_cube_validator_spark import qb
    from nospa_rdf_data_cube_validator_spark.sources.rdf import read_rdf

    xml = """<?xml version="1.0"?>
<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
         xmlns:qb="http://purl.org/linked-data/cube#"
         xmlns:eg="http://example.org/ns#"
         xmlns:rdfs="http://www.w3.org/2000/01/rdf-schema#">
  <qb:DataSet rdf:about="http://example.org/ds1">
    <qb:structure rdf:resource="http://example.org/dsd1"/>
    <rdfs:label xml:lang="en">dataset one</rdfs:label>
  </qb:DataSet>
  <qb:DataStructureDefinition rdf:about="http://example.org/dsd1">
    <qb:component rdf:parseType="Resource">
      <qb:componentProperty rdf:resource="http://example.org/ns#refArea"/>
    </qb:component>
    <qb:component>
      <rdf:Description rdf:nodeID="c2">
        <qb:componentProperty rdf:resource="http://example.org/ns#pop"/>
      </rdf:Description>
    </qb:component>
  </qb:DataStructureDefinition>
  <rdf:Description rdf:about="http://example.org/obs1" eg:note="inline attr">
    <rdf:type rdf:resource="http://purl.org/linked-data/cube#Observation"/>
    <qb:dataSet rdf:resource="http://example.org/ds1"/>
    <eg:pop rdf:datatype="http://www.w3.org/2001/XMLSchema#decimal">1.5</eg:pop>
  </rdf:Description>
</rdf:RDF>"""
    p = tmp_path / "cube.rdf"
    p.write_text(xml)
    df = read_rdf(spark, str(p))
    rows = {(r["subj"], r["pred"], r["obj"], r["obj_kind"]) for r in df.collect()}
    EX = "http://example.org/"
    assert (EX + "ds1", qb.RDF_TYPE, qb.QB_DATASET, "iri") in rows
    assert (EX + "ds1", qb.QB_STRUCTURE, EX + "dsd1", "iri") in rows
    from nospa_rdf_data_cube_validator_spark import terms as _t

    assert (EX + "ds1", "http://www.w3.org/2000/01/rdf-schema#label",
            _t.encode_literal("dataset one", "", "en"), "literal") in rows
    assert (EX + "obs1", qb.RDF_TYPE, qb.QB_OBSERVATION, "iri") in rows
    # parseType=Resource bnode carries the componentProperty
    comp_bnodes = {o for s, p_, o, k in rows if p_ == qb.QB_COMPONENT and k == "bnode"}
    assert len(comp_bnodes) == 2
    cprops = {o for s, p_, o, _ in rows if p_ == qb.QB_COMPONENT_PROPERTY and s in comp_bnodes}
    assert cprops == {EX + "ns#refArea", EX + "ns#pop"}
    # datatyped literal and property attribute
    assert (EX + "obs1", EX + "ns#pop", _t.encode_literal("1.5", qb.XSD_DECIMAL), "literal") in rows
    assert (EX + "obs1", EX + "ns#note", _t.encode_literal("inline attr"), "literal") in rows
    # end-to-end: the parsed cube validates like any other store
    from nospa_rdf_data_cube_validator_spark.operators.validate import CubeValidator
    from nospa_rdf_data_cube_validator_spark.plans.algebra import TripleStore
    assert CubeValidator(TripleStore(df)).ic2().count() == 0


def test_turtle_export_roundtrip(spark, tmp_path):
    """write_turtle -> read_turtle roundtrip on the reference fixture, with
    prefix compaction; every part file is a self-contained Turtle doc."""
    import glob

    from nospa_rdf_data_cube_validator_spark import qb
    from nospa_rdf_data_cube_validator_spark.sources.rdf import write_turtle

    df = read_turtle(spark, "/root/reference/test.ttl")
    path = str(tmp_path / "ttl_out")
    write_turtle(
        df.repartition(3), path, prefixes={"qb": qb.PREFIX_CUBE, "skos": qb.PREFIX_SKOS}
    )
    parts = sorted(glob.glob(path + "/part-*"))
    assert len(parts) == 3
    merged_rows = []
    for p in parts:
        text = open(p).read()
        assert text.startswith("@prefix qb:")
        merged_rows += _TurtleParser_rows(text)
    back = spark.createDataFrame(merged_rows, df.schema).dropDuplicates(["subj", "pred", "obj"])
    k = ["subj", "pred", "obj"]
    assert back.count() == df.count()
    assert df.join(back, k, "left_anti").count() == 0


def _TurtleParser_rows(text):
    from nospa_rdf_data_cube_validator_spark.sources.rdf import _TurtleParser

    return _TurtleParser(text).parse()


def test_turtle_compaction_never_touches_literals(spark, tmp_path):
    """Prefix compaction applies per IRI term, never inside literal text, and
    a local name ending in '.' stays in <> form (pfx:foo. would swallow the
    triple terminator)."""
    from nospa_rdf_data_cube_validator_spark import terms as _t
    from nospa_rdf_data_cube_validator_spark.sources.rdf import write_turtle

    NS = "http://example.org/v#"
    rows = [
        # literal text that LOOKS like a compactable IRI — must stay verbatim
        _t.lit_row("http://example.org/v#s", NS + "p", f"see <{NS}target> here"),
        # trailing-dot local name — must NOT compact
        _t.iri_row(NS + "s", NS + "p", NS + "v1."),
        # safe local name — must compact
        _t.iri_row(NS + "s", NS + "p", NS + "ok"),
    ]
    df = _t.triples_df(spark, rows)
    path = str(tmp_path / "ttl_lit")
    write_turtle(df.coalesce(1), path, prefixes={"ex": NS})
    import glob

    text = open(glob.glob(path + "/part-*")[0]).read()
    assert f'"see <{NS}target> here"' in text, text
    assert f"<{NS}v1.>" in text, text
    assert "ex:ok ." in text, text
    # and the whole document re-parses to the same triple set
    back = spark.createDataFrame(_TurtleParser_rows(text), df.schema)
    assert back.join(df, ["subj", "pred", "obj"], "left_anti").count() == 0
    assert back.count() == df.count()


_RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
_XML_HEAD = (
    '<?xml version="1.0"?>\n<rdf:RDF '
    'xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" '
    'xmlns:eg="http://example.org/ns#">'
)


def test_rdfxml_collection_builds_first_rest_list(spark, tmp_path):
    """parseType=Collection children become an rdf:first/rdf:rest list
    terminated by rdf:nil (Jena parity)."""
    from nospa_rdf_data_cube_validator_spark.sources.rdf import read_rdf

    xml = (
        _XML_HEAD + '<rdf:Description rdf:about="http://example.org/x">'
        '<eg:members rdf:parseType="Collection">'
        '<rdf:Description rdf:about="http://example.org/a"/>'
        '<rdf:Description rdf:about="http://example.org/b"/>'
        "</eg:members></rdf:Description></rdf:RDF>"
    )
    p = tmp_path / "coll.rdf"
    p.write_text(xml)
    rows = {(r["subj"], r["pred"], r["obj"]) for r in read_rdf(spark, str(p)).collect()}
    head = next(o for s, pr, o in rows if pr == "http://example.org/ns#members")
    assert (head, _RDF + "first", "http://example.org/a") in rows
    nxt = next(o for s, pr, o in rows if s == head and pr == _RDF + "rest")
    assert (nxt, _RDF + "first", "http://example.org/b") in rows
    assert (nxt, _RDF + "rest", _RDF + "nil") in rows


def test_rdfxml_xmlliteral_and_containers(spark, tmp_path):
    """parseType=Literal keeps inner XML as an rdf:XMLLiteral; rdf:li in a
    container node element numbers rdf:_1, rdf:_2 in document order."""
    from nospa_rdf_data_cube_validator_spark import terms as _t
    from nospa_rdf_data_cube_validator_spark.sources.rdf import read_rdf

    xml = (
        _XML_HEAD + '<rdf:Description rdf:about="http://example.org/x">'
        '<eg:blob rdf:parseType="Literal"><b>markup</b></eg:blob>'
        "</rdf:Description>"
        '<rdf:Seq rdf:about="http://example.org/bag">'
        '<rdf:li rdf:resource="http://example.org/a"/>'
        '<rdf:li rdf:resource="http://example.org/b"/>'
        "</rdf:Seq></rdf:RDF>"
    )
    p = tmp_path / "mix.rdf"
    p.write_text(xml)
    rows = {(r["subj"], r["pred"], r["obj"]) for r in read_rdf(spark, str(p)).collect()}
    assert (
        "http://example.org/x",
        "http://example.org/ns#blob",
        _t.encode_literal("<b>markup</b>", _RDF + "XMLLiteral"),
    ) in rows
    assert ("http://example.org/bag", _RDF + "_1", "http://example.org/a") in rows
    assert ("http://example.org/bag", _RDF + "_2", "http://example.org/b") in rows
    assert ("http://example.org/bag", qb.RDF_TYPE, _RDF + "Seq") in rows


def test_rdfxml_li_counter_shared_inside_parsetype_resource(spark, tmp_path):
    """Sibling rdf:li under ONE parseType=Resource node share a counter
    (_1, _2, ...), same as a node element — not each restarting at _1."""
    from nospa_rdf_data_cube_validator_spark.sources.rdf import read_rdf

    xml = (
        _XML_HEAD + '<rdf:Description rdf:about="http://example.org/x">'
        '<eg:items rdf:parseType="Resource">'
        '<rdf:li rdf:resource="http://example.org/a"/>'
        '<rdf:li rdf:resource="http://example.org/b"/>'
        '<rdf:li rdf:resource="http://example.org/c"/>'
        "</eg:items></rdf:Description></rdf:RDF>"
    )
    p = tmp_path / "res_li.rdf"
    p.write_text(xml)
    rows = read_rdf(spark, str(p)).collect()
    li = sorted((r["pred"], r["obj"]) for r in rows if r["pred"].startswith(_RDF + "_"))
    assert li == [
        (_RDF + "_1", "http://example.org/a"),
        (_RDF + "_2", "http://example.org/b"),
        (_RDF + "_3", "http://example.org/c"),
    ]


def test_rdfxml_writer_roundtrip(spark, tmp_path):
    """S2 parity: exportModel's DEFAULT Jena serialization is RDF/XML. The
    distributed writer must roundtrip through our own reader exactly —
    the reference fixture plus the nasty cases (XML entities in IRIs and
    lexical forms, CR/LF/TAB control chars via character references that
    survive XML line-end normalization, lang tags, bnode subjects and
    objects). Unsplittable predicates fail loudly (Jena parity)."""
    from nospa_rdf_data_cube_validator_spark import terms as _t
    from nospa_rdf_data_cube_validator_spark.sources.rdf import (
        read_rdfxml_dir,
        read_turtle,
        write_rdfxml,
    )

    t = read_turtle(spark, "/root/reference/test.ttl")
    out = str(tmp_path / "xml_rt")
    write_rdfxml(t, out)
    rt = read_rdfxml_dir(spark, out)
    assert t.join(rt, ["subj", "pred", "obj"], "left_anti").count() == 0
    assert rt.join(t, ["subj", "pred", "obj"], "left_anti").count() == 0
    assert rt.count() == 206

    rows = [
        _t.lit_row("http://x/s", "http://x/ns#p", 'a<&>"\r\n\tz', qb.PREFIX_XSD + "string"),
        _t.lit_row("http://x/s", "http://x/ns#q", "bonjour", "", "fr"),
        _t.bnode_row("_:b1", "http://x/ns#r", "_:b2"),
        _t.iri_row("http://x/s", "http://x/ns#r", "http://y/o?a=1&b=<2>"),
    ]
    df = _t.triples_df(spark, rows)
    out2 = str(tmp_path / "xml_rt2")
    write_rdfxml(df, out2)
    rt2 = read_rdfxml_dir(spark, out2)
    assert df.join(rt2, ["subj", "pred", "obj"], "left_anti").count() == 0
    assert rt2.join(df, ["subj", "pred", "obj"], "left_anti").count() == 0

    bad = _t.triples_df(spark, [_t.iri_row("http://x/s", "http://x/123", "http://y/o")])
    with pytest.raises(ValueError, match="cannot split predicate"):
        write_rdfxml(bad, str(tmp_path / "xml_rt3"))

    # XML 1.0 cannot represent C0 controls AT ALL (no character reference
    # exists) — the writer must refuse rather than emit an unparseable
    # document (hypothesis found this; N-Triples is the lossless path)
    ctrl = _t.triples_df(spark, [_t.lit_row("http://x/s", "http://x/ns#p", "bad\x1fchar")])
    with pytest.raises(Exception, match="C0 control"):
        write_rdfxml(ctrl, str(tmp_path / "xml_rt4"))
    # ... and the guard covers the rdf:datatype attribute too, not just
    # subj/obj (a C0 in the datatype IRI renders into the attribute raw)
    ctrl_dt = _t.triples_df(
        spark, [_t.lit_row("http://x/s", "http://x/ns#p", "ok", "http://x/dt\x01bad")]
    )
    with pytest.raises(Exception, match="C0 control"):
        write_rdfxml(ctrl_dt, str(tmp_path / "xml_rt5"))
    # ... and the xml:lang attribute (rendered escaped, guarded for C0)
    ctrl_lang = _t.triples_df(
        spark, [_t.lit_row("http://x/s", "http://x/ns#p", "ok", "", "en\x02")]
    )
    with pytest.raises(Exception, match="C0 control"):
        write_rdfxml(ctrl_lang, str(tmp_path / "xml_rt6"))
    # ... and namespace URIs with '&' are escaped in the xmlns header
    amp = _t.triples_df(
        spark, [_t.iri_row("http://x/s", "http://x/q?a=1&b=2/p", "http://y/o")]
    )
    out3 = str(tmp_path / "xml_rt7")
    write_rdfxml(amp, out3)
    rt3 = read_rdfxml_dir(spark, out3)
    assert rt3.count() == 1 and rt3.collect()[0]["pred"] == "http://x/q?a=1&b=2/p"


def test_rdfxml_dir_anonymous_bnodes_distinct_across_files(spark, tmp_path):
    """read_rdfxml_dir parses each part file with a fresh parser; its
    GENERATED anonymous labels must not collide across files (two distinct
    anonymous nodes in two files would wrongly merge), while explicit
    rdf:nodeID labels still merge by definition."""
    from nospa_rdf_data_cube_validator_spark.sources.rdf import read_rdfxml_dir

    d = tmp_path / "xmlparts"
    d.mkdir()
    doc = (
        '<?xml version="1.0"?>'
        '<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"'
        ' xmlns:eg="http://example.org/ns#">'
        '<rdf:Description rdf:about="http://example.org/s{i}">'
        "<eg:p><rdf:Description><eg:q>v{i}</eg:q></rdf:Description></eg:p>"
        "</rdf:Description></rdf:RDF>"
    )
    for i in range(2):
        (d / f"part-{i:05d}").write_text(doc.format(i=i))
    df = read_rdfxml_dir(spark, str(d))
    # 2 files x (s_i --p--> anon, anon --q--> v_i): 4 triples, and the two
    # anonymous objects must be DISTINCT bnode labels
    anon = [
        r["obj"]
        for r in df.where(F.col("pred") == "http://example.org/ns#p").collect()
    ]
    assert len(anon) == 2 and anon[0] != anon[1], anon
    assert df.count() == 4


def test_rdfxml_dir_parsed_once(spark, tmp_path):
    """read_rdfxml_dir is eager like read_ntriples: a directory with one
    malformed document fails the call itself, and neither the read of a
    well-formed directory nor normalize over it plans the Python parse."""
    from nospa_rdf_data_cube_validator_spark import terms
    from nospa_rdf_data_cube_validator_spark.operators.normalize import normalize
    from nospa_rdf_data_cube_validator_spark.plans.algebra import TripleStore
    from nospa_rdf_data_cube_validator_spark.sources.rdf import read_rdfxml_dir, write_rdfxml

    from . import fixtures as fx

    path = str(tmp_path / "golden_xml")
    write_rdfxml(terms.triples_df(spark, fx.golden_rows()), path)
    read = read_rdfxml_dir(spark, path)
    for df in (read, normalize(TripleStore(read)).df):
        assert "MapInPandas" not in df._jdf.queryExecution().optimizedPlan().toString()

    bad = tmp_path / "bad_xml"
    bad.mkdir()
    (bad / "part-00000").write_text(
        '<?xml version="1.0"?><rdf:RDF'
        ' xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"'
        ' xmlns:eg="http://example.org/ns#"><rdf:Description'
        ' rdf:about="http://example.org/s"><eg:p>v</eg:p></rdf:Description></rdf:RDF>'
    )
    (bad / "part-00001").write_text('<?xml version="1.0"?><rdf:RDF><unclosed')
    with pytest.raises(Exception, match="ParseError|not well-formed|no element found"):
        read_rdfxml_dir(spark, str(bad))


def test_turtle_whitespace_before_datatype_marker(spark, tmp_path):
    """Turtle's '^^' is a separate terminal: whitespace between the string
    and the datatype marker is legal and must parse identically to the
    fused form (previously misreported as N3-only syntax)."""
    p = tmp_path / "ws_dt.ttl"
    p.write_text(
        "@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .\n"
        '<http://e/s> <http://e/p> "42" ^^ xsd:int .\n'
        '<http://e/s> <http://e/q> "42"^^xsd:int .\n'
        '<http://e/s> <http://e/r> """long""" ^^ <http://e/dt> .\n'
    )
    df = read_turtle(spark, str(p))
    rows = {r["pred"]: (r["obj"], r["obj_datatype"]) for r in df.collect()}
    assert rows["http://e/p"] == rows["http://e/q"] == (
        "literal:http://www.w3.org/2001/XMLSchema#int::42",
        "http://www.w3.org/2001/XMLSchema#int",
    )
    assert rows["http://e/r"][1] == "http://e/dt"
    # but '^^' with no datatype after it still fails loudly
    bad = tmp_path / "bad_dt.ttl"
    bad.write_text('<http://e/s> <http://e/p> "x" ^^ .\n')
    with pytest.raises(Exception, match="expected datatype IRI"):
        read_turtle(spark, str(bad))


def test_driver_parsed_store_has_no_python_rdd(spark, tmp_path):
    """The Turtle reader's store (and the empty RDF/XML directory frame) is a
    local relation: no ``LogicalRDD`` node, so scanning it never runs Python
    workers. Duplicate triples are still dropped."""
    from nospa_rdf_data_cube_validator_spark.sources.rdf import read_rdfxml_dir

    p = tmp_path / "small.ttl"
    p.write_text(
        "@prefix eg: <http://example.org/ns#> .\n"
        'eg:s eg:p eg:o ; eg:q "v"@en .\n'
        "eg:s eg:p eg:o .\n"
    )
    df = read_turtle(spark, str(p))
    assert "LogicalRDD" not in df._jdf.queryExecution().optimizedPlan().toString()
    assert df.count() == 2
    empty = tmp_path / "no_parts"
    empty.mkdir()
    plan = read_rdfxml_dir(spark, str(empty))._jdf.queryExecution().optimizedPlan()
    assert plan.getClass().getSimpleName() == "LocalRelation"


def test_turtle_rejects_n3_only_syntax(spark, tmp_path):
    """The .n3 dispatch is a Turtle-compatible SUBSET: N3 formulas/rules/
    quantifiers must fail loudly (Jena parity: reference parses N3 fully,
    Main.java:30-33; silently emitting garbage triples is the one wrong
    answer). Unrecognized syntax in general also raises."""
    from nospa_rdf_data_cube_validator_spark.sources.rdf import read_rdf

    p = tmp_path / "rules.n3"
    p.write_text("@prefix : <http://x/> .\n{ :a :b :c } => { :d :e :f } .\n")
    with pytest.raises(ValueError, match="N3-only"):
        read_rdf(spark, str(p))
    p2 = tmp_path / "junk.ttl"
    p2.write_text("@prefix : <http://x/> .\n:a :b %%junk .\n")
    with pytest.raises(ValueError, match="unsupported Turtle syntax"):
        read_rdf(spark, str(p2))


def test_rdfxml_invalid_parsetype_fails_loudly(spark, tmp_path):
    from nospa_rdf_data_cube_validator_spark.sources.rdf import read_rdf

    xml = (
        _XML_HEAD + '<rdf:Description rdf:about="http://example.org/x">'
        '<eg:p rdf:parseType="Bogus">text</eg:p>'
        "</rdf:Description></rdf:RDF>"
    )
    p = tmp_path / "bad.rdf"
    p.write_text(xml)
    with pytest.raises(ValueError, match="parseType"):
        read_rdf(spark, str(p))


def test_bucketed_layout_skips_obs_shuffle(spark, tmp_path):
    """The bucketed snapshot's HashPartitioning(subj) must satisfy the
    per-observation aggregation's clustering, so the physical plan for the
    IC hot path's (subj, pred) groupBy over the bucketed table contains NO
    Exchange — the 100 TB scan-without-reshuffle property."""
    from nospa_rdf_data_cube_validator_spark.sources.rdf import write_bucketed

    import shutil

    df = read_turtle(spark, "/root/reference/test.ttl")
    spark.sql("DROP TABLE IF EXISTS t_bucketed")
    # a previous SESSION's managed-table directory survives the catalog
    # (in-memory catalog + on-disk warehouse): remove the orphan location
    shutil.rmtree(
        spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:") + "/t_bucketed",
        ignore_errors=True,
    )
    write_bucketed(df, "t_bucketed", buckets=4)
    back = spark.table("t_bucketed")
    assert back.count() == df.count()
    agg = back.groupBy("subj", "pred").count()
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    # an unbucketed read of the same data DOES need the exchange
    plain_path = str(tmp_path / "plain")
    df.write.parquet(plain_path)
    plan2 = (
        spark.read.parquet(plain_path)
        .groupBy("subj", "pred")
        .count()
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" in plan2


def test_ntriples_roundtrip_property(spark, tmp_path):
    """Property test (hypothesis): arbitrary unicode literals — quotes,
    backslashes, control characters, RTL text, emoji — survive the
    N-Triples write->read roundtrip exactly. One batched roundtrip per
    example keeps Spark overhead bounded."""
    from hypothesis import given, settings, strategies as st

    from nospa_rdf_data_cube_validator_spark import terms

    lex = st.text(
        alphabet=st.characters(blacklist_characters="\x00", blacklist_categories=("Cs",)),
        max_size=40,
    )
    langs = st.sampled_from(["", "en", "de-AT"])
    dts = st.sampled_from(["", "http://www.w3.org/2001/XMLSchema#string"])
    rows_strategy = st.lists(st.tuples(lex, dts, langs), min_size=1, max_size=25)

    counter = {"n": 0}

    @settings(max_examples=5, deadline=None)
    @given(rows_strategy)
    def run(batch):
        counter["n"] += 1
        rows = [
            terms.lit_row(f"http://x/s{i}", "http://x/p", lx, dt if not lg else "", lg)
            for i, (lx, dt, lg) in enumerate(batch)
        ]
        df = terms.triples_df(spark, rows)
        path = str(tmp_path / f"prop_nt_{counter['n']}")
        write_ntriples(df, path)
        back = read_ntriples(spark, path)
        k = ["subj", "pred", "obj"]
        assert back.count() == df.count()
        assert df.join(back, k, "left_anti").count() == 0
        assert back.join(df, k, "left_anti").count() == 0

    run()


def test_rdfxml_roundtrip_property(spark, tmp_path):
    """Property test: arbitrary XML-representable unicode literals
    (entities, TAB/LF/CR, RTL, emoji), lang tags, datatypes, bnode objects
    — the RDF/XML write->read roundtrip is exact for all of them
    (character references must survive XML line-end + attribute-value
    normalization). Characters XML 1.0 CANNOT represent (C0 controls
    other than TAB/LF/CR — found by this very test) are excluded here and
    pinned as fail-loud below."""
    from hypothesis import given, settings, strategies as st

    from nospa_rdf_data_cube_validator_spark import terms
    from nospa_rdf_data_cube_validator_spark.sources.rdf import (
        read_rdfxml_dir,
        write_rdfxml,
    )

    xml_illegal = "".join(
        chr(c) for c in range(0x20) if c not in (0x9, 0xA, 0xD)
    ) + "￾￿"
    lex = st.text(
        alphabet=st.characters(blacklist_characters=xml_illegal, blacklist_categories=("Cs",)),
        max_size=40,
    )
    kinds = st.sampled_from(["plain", "lang", "typed", "iri", "bnode"])
    rows_strategy = st.lists(st.tuples(kinds, lex), min_size=1, max_size=20)

    counter = {"n": 0}

    @settings(max_examples=5, deadline=None)
    @given(rows_strategy)
    def run(batch):
        counter["n"] += 1
        rows = []
        for i, (kind, lx) in enumerate(batch):
            s, p = f"http://x/s{i}", "http://x/ns#p"
            if kind == "plain":
                rows.append(terms.lit_row(s, p, lx))
            elif kind == "lang":
                rows.append(terms.lit_row(s, p, lx, "", "en"))
            elif kind == "typed":
                rows.append(terms.lit_row(s, p, lx, qb.PREFIX_XSD + "string"))
            elif kind == "iri":
                rows.append(terms.iri_row(s, p, f"http://y/o{i}"))
            else:
                rows.append(terms.bnode_row(s, p, f"_:b{i}"))
        df = terms.triples_df(spark, rows)
        path = str(tmp_path / f"prop_xml_{counter['n']}")
        write_rdfxml(df, path)
        back = read_rdfxml_dir(spark, path)
        k = ["subj", "pred", "obj"]
        assert back.count() == df.count()
        assert df.join(back, k, "left_anti").count() == 0
        assert back.join(df, k, "left_anti").count() == 0

    run()


def test_bmp_wav_roundtrip_property():
    """Property test (pure Python, no Spark): every (width, height, fill)
    builds a BMP whose header parses back exactly; every (rate, samples)
    builds a WAV whose rate/duration parse back exactly — including the
    floor-division duration edge cases."""
    from hypothesis import given, settings, strategies as st

    from nospa_rdf_data_cube_validator_spark.operators import multimodal as mm

    @settings(max_examples=200, deadline=None)
    @given(
        st.integers(min_value=1, max_value=2000),
        st.integers(min_value=1, max_value=64),
        st.binary(max_size=32),
    )
    def run_bmp(w, h, fill):
        assert mm.parse_bmp_header(mm.build_bmp(w, h, fill)) == (w, h)

    @settings(max_examples=200, deadline=None)
    @given(
        st.integers(min_value=1, max_value=192000),
        st.integers(min_value=0, max_value=100000),
        st.binary(max_size=32),
    )
    def run_wav(rate, n, fill):
        sr, dur = mm.parse_wav_header(mm.build_wav(rate, n, fill))
        assert sr == rate and dur == (2 * n * 1000) // (2 * rate)

    @settings(max_examples=200, deadline=None)
    @given(
        st.integers(min_value=1, max_value=4096),
        st.integers(min_value=1, max_value=4096),
        st.integers(min_value=0, max_value=200),
        st.binary(max_size=32),
    )
    def run_avi(w, h, n, fill):
        avi = mm.build_avi(w, h, n, fill)
        assert len(avi) == 100 + 24 * n
        assert mm.parse_avi_header(avi) == (w, h, n, n * 40)
        assert mm.parse_avi_frames(avi) == [(i, 108 + 24 * i, 16) for i in range(n)]

    run_bmp()
    run_wav()
    run_avi()


def test_turtle_roundtrip_property(spark, tmp_path):
    """Property test: arbitrary local-name suffixes (incl. ones that are NOT
    safe PN local names — trailing dots, leading digits, '%', '/') and
    literals that LOOK like compactable IRIs all survive the prefixed
    Turtle write->read roundtrip exactly — compaction must only ever fire
    where re-parsing is lossless."""
    from hypothesis import given, settings, strategies as st

    from nospa_rdf_data_cube_validator_spark import terms
    from nospa_rdf_data_cube_validator_spark.sources.rdf import write_turtle

    NS = "http://example.org/t#"
    # IRI-legal suffix characters, deliberately including PN-unsafe ones
    suffix = st.text(
        alphabet="abcXYZ019._-~%/!$&'()*+,;=:@",
        min_size=1,
        max_size=12,
    )
    lex = st.one_of(
        st.text(
            alphabet=st.characters(blacklist_characters="\x00", blacklist_categories=("Cs",)),
            max_size=30,
        ),
        suffix.map(lambda s: f"see <{NS}{s}> and ex:{s} here"),
    )
    rows_strategy = st.lists(
        st.tuples(st.booleans(), suffix, lex), min_size=1, max_size=20
    )

    counter = {"n": 0}

    @settings(max_examples=5, deadline=None)
    @given(rows_strategy)
    def run(batch):
        counter["n"] += 1
        rows = []
        for i, (as_iri, sfx, lx) in enumerate(batch):
            subj = f"{NS}s{i}"
            if as_iri:
                rows.append(terms.iri_row(subj, NS + "p", NS + sfx))
            else:
                rows.append(terms.lit_row(subj, NS + "p", lx))
        df = terms.triples_df(spark, rows)
        path = str(tmp_path / f"prop_ttl_{counter['n']}")
        write_turtle(df.coalesce(1), path, prefixes={"ex": NS})
        import glob

        text = open(glob.glob(path + "/part-*")[0]).read()
        back = spark.createDataFrame(_TurtleParser_rows(text), df.schema)
        k = ["subj", "pred", "obj"]
        assert back.count() == df.count()
        assert df.join(back, k, "left_anti").count() == 0
        assert back.join(df, k, "left_anti").count() == 0

    run()


def test_turtle_collections_and_long_literals(spark):
    """Turtle collections expand to rdf:first/rdf:rest lists (nested + empty
    + subject position) and triple-quoted long literals keep embedded quotes
    and newlines."""
    from nospa_rdf_data_cube_validator_spark import terms as _t

    ttl = '''@prefix ex: <http://example.org/> .
ex:s ex:list ( ex:a "two" ( ex:nested ) ) .
ex:s ex:empty () .
( ex:x ) ex:isSubject ex:ok .
ex:s ex:long """line one
line "quoted" two""" .
'''
    rows = _TurtleParser_rows(ttl)
    trip = {(s, p, o) for s, p, o, *_ in rows}
    first, rest, nil = (_RDF + x for x in ("first", "rest", "nil"))
    # chain: s -list-> c1(-first->a) -rest-> c2(-first->"two") -rest-> c3(-first-> nested-cell) -rest-> nil
    head = next(o for s, p, o in trip if p == "http://example.org/list")
    c1 = head
    assert (c1, first, "http://example.org/a") in trip
    c2 = next(o for s, p, o in trip if s == c1 and p == rest)
    assert (c2, first, _t.encode_literal("two")) in trip
    c3 = next(o for s, p, o in trip if s == c2 and p == rest)
    inner = next(o for s, p, o in trip if s == c3 and p == first)
    assert (inner, first, "http://example.org/nested") in trip
    assert (inner, rest, nil) in trip
    assert (c3, rest, nil) in trip
    assert ("http://example.org/s", "http://example.org/empty", nil) in trip
    subj_cell = next(s for s, p, o in trip if p == "http://example.org/isSubject")
    assert (subj_cell, first, "http://example.org/x") in trip
    assert (
        "http://example.org/s",
        "http://example.org/long",
        _t.encode_literal('line one\nline "quoted" two'),
    ) in trip


def test_stage_runner_versioned_snapshots_time_travel(spark, tmp_path):
    """Iceberg-discipline snapshots: a rerun writes a NEW version and flips
    the manifest pointer; the prior version stays readable via
    read_snapshot (time travel); a crashed (uncommitted) version dir is
    cleared on the next attempt instead of corrupting anything."""
    import shutil

    wd = str(tmp_path / "ver_wd")
    runner = StageRunner(spark, wd)
    df1 = spark.createDataFrame([(1,), (2,)], "x int")
    out1 = runner.run("nums", lambda: df1)
    assert out1.count() == 2
    assert runner.manifest["stages"]["nums"]["version"] == 1
    # resume: same version, no rebuild
    assert runner.run("nums", lambda: (_ for _ in ()).throw(AssertionError("rebuilt"))).count() == 2
    # rerun -> v2; v1 still readable
    out2 = runner.run("nums", lambda: spark.createDataFrame([(1,), (2,), (3,)], "x int"), rerun=True)
    assert out2.count() == 3
    assert runner.manifest["stages"]["nums"]["version"] == 2
    assert runner.read_snapshot("nums").count() == 3
    assert runner.read_snapshot("nums", version=1).count() == 2
    assert [h["version"] for h in runner.manifest["stages"]["nums"]["history"]] == [1, 2]
    with pytest.raises(KeyError, match="no version 9"):
        runner.read_snapshot("nums", version=9)
    # crashed write simulation: uncommitted v3 dir exists, pointer at v2 ->
    # the next rerun clears it and commits a fresh v3
    stale = os.path.join(wd, "nums", "v3")
    os.makedirs(stale)
    open(os.path.join(stale, "part-garbage"), "w").write("junk")
    out3 = runner.run("nums", lambda: spark.createDataFrame([(9,)], "x int"), rerun=True)
    assert out3.count() == 1
    assert runner.manifest["stages"]["nums"]["version"] == 3
    assert runner.read_snapshot("nums", version=2).count() == 3


def test_stage_commit_is_one_write(spark, spark_jobs, tmp_path):
    """Committing a stage launches exactly the jobs of a bare parquet write
    of the same frame: the read-back schema, the lineage and the manifest
    row count all come from the committed files without a Spark job."""
    df = spark.range(300).selectExpr("id", "cast(id % 7 as string) AS s").repartition(3)
    runner = StageRunner(spark, str(tmp_path / "wd"))
    bare = spark_jobs(lambda: df.write.parquet(str(tmp_path / "bare")))
    staged = spark_jobs(lambda: runner.run("nums", lambda: df))
    assert bare > 0
    assert staged == bare


def test_stage_lineage_matches_part_file_footers(spark, tmp_path):
    """``_lineage_<stage>`` holds one row per writing partition with the row
    count of its ``part-NNNNN`` files; the lineage total is the manifest's
    ``rows`` and the snapshot's count."""
    import glob
    import re

    import pyarrow.parquet as pq

    wd = str(tmp_path / "wd")
    runner = StageRunner(spark, wd)
    df = spark.range(500).selectExpr("id", "cast(id % 11 as string) AS s").repartition(4, "s")
    out = runner.run("multi", lambda: df)
    path = os.path.join(wd, "multi", "v1")
    footers: dict[int, int] = {}
    for f in glob.glob(os.path.join(path, "part-*.parquet")):
        pid = int(re.match(r"part-(\d+)-", os.path.basename(f)).group(1))
        footers[pid] = footers.get(pid, 0) + pq.read_metadata(f).num_rows
    footers = {pid: n for pid, n in footers.items() if n}
    assert len(footers) > 1
    lineage = spark.read.parquet(os.path.join(wd, "_lineage_multi"))
    assert lineage.schema.simpleString() == "struct<partition_id:int,row_count:bigint,stage:string>"
    rows = lineage.collect()
    assert {r["partition_id"]: r["row_count"] for r in rows} == footers
    assert {r["stage"] for r in rows} == {"multi"}
    total = sum(footers.values())
    assert total == runner.manifest["stages"]["multi"]["rows"] == out.count() == 500
    assert spark.read.parquet(path).count() == total
    assert out.schema == spark.read.parquet(path).schema


def test_empty_stage_commits_empty_lineage(spark, tmp_path):
    """An empty build commits rows == 0 and a readable, empty lineage table
    with the lineage schema."""
    wd = str(tmp_path / "wd")
    runner = StageRunner(spark, wd)
    out = runner.run("empty", lambda: spark.createDataFrame([], "x int, y string"))
    assert out.count() == 0
    assert out.columns == ["x", "y"]
    assert runner.manifest["stages"]["empty"]["rows"] == 0
    lineage = spark.read.parquet(os.path.join(wd, "_lineage_empty"))
    assert lineage.count() == 0
    assert lineage.schema.simpleString() == "struct<partition_id:int,row_count:bigint,stage:string>"


def test_observation_iri_is_injective(spark):
    """Two canonical rows that a plain conv + "-t" + turn + "-" + rel concat
    maps to the same observation IRI stay two observations, each with
    exactly one conversation dimension."""
    from nospa_rdf_data_cube_validator_spark.pipeline import DIM_CONV, edges_to_graph

    canonical = spark.createDataFrame(
        [
            ("c", 1, "a-t2-b", "x", "y", E.entity_iri("alice"), E.entity_iri("cardiff")),
            ("c-t1-a", 2, "b", "x", "y", E.entity_iri("alice"), E.entity_iri("cardiff")),
        ],
        "conv_id string, turn_idx int, rel string, subj_surface string, obj_surface string,"
        " subj_entity string, obj_entity string",
    )
    graph = edges_to_graph(spark, canonical)
    obs = graph.where((F.col("pred") == qb.RDF_TYPE) & (F.col("obj") == qb.QB_OBSERVATION))
    assert obs.select("subj").distinct().count() == 2
    conv_dims = graph.where(F.col("pred") == DIM_CONV).groupBy("subj").count().collect()
    assert sorted(r["count"] for r in conv_dims) == [1, 1]


def test_run_table_survives_new_session(tmp_path):
    """The at-rest bucketed table must survive a session restart: process 1
    builds it via run_table, process 2 (a genuinely fresh JVM + in-memory
    catalog) calls run_table with a build fn that RAISES — so success
    proves it re-registered the table from the warehouse files instead of
    rebuilding — and checks the re-registered table still feeds the
    (subj, pred) aggregation without an Exchange. This is the
    validate-many half of the 100 TB story: parse/encode once, validate
    from the bucketed at-rest layout on every subsequent run (reference
    contrast: nonsparql/NospaValidator.java:41-48 re-parses per run)."""
    import subprocess
    import sys
    import textwrap

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    wd = str(tmp_path / "wd")
    warehouse = str(tmp_path / "warehouse")
    common = textwrap.dedent(
        f"""
        import sys; sys.path.insert(0, {repo!r})
        from nospa_rdf_data_cube_validator_spark.session import get_spark
        from nospa_rdf_data_cube_validator_spark.pipeline import StageRunner
        spark = get_spark(master="local[2]", shuffle_partitions=2,
                          extra_conf={{"spark.sql.warehouse.dir": {warehouse!r}}})
        runner = StageRunner(spark, {wd!r})
        """
    )
    build = common + textwrap.dedent(
        """
        from nospa_rdf_data_cube_validator_spark.sources.rdf import read_turtle
        out = runner.run_table(
            "cube", lambda: read_turtle(spark, "/root/reference/test.ttl"), buckets=4)
        print("ROWS", out.count())
        """
    )
    r1 = subprocess.run([sys.executable, "-c", build], capture_output=True, text=True)
    assert r1.returncode == 0, r1.stderr[-2000:]
    rows1 = [ln for ln in r1.stdout.splitlines() if ln.startswith("ROWS")][0]

    resume = common + textwrap.dedent(
        """
        def must_not_build():
            raise AssertionError("run_table rebuilt instead of re-registering")
        out = runner.run_table("cube", must_not_build, buckets=4)
        print("ROWS", out.count())
        plan = out.groupBy("subj", "pred").count()._jdf.queryExecution().executedPlan().toString()
        print("NOEXCHANGE", "Exchange" not in plan)
        """
    )
    r2 = subprocess.run([sys.executable, "-c", resume], capture_output=True, text=True)
    assert r2.returncode == 0, r2.stderr[-2000:]
    assert rows1 in r2.stdout, r2.stdout
    assert "NOEXCHANGE True" in r2.stdout, r2.stdout


def test_rdfxml_dir_empty_and_custom_glob(spark, tmp_path):
    """An empty directory yields an empty frame (not AnalysisException), and
    the glob parameter picks up harvested corpora not named part-*."""
    from nospa_rdf_data_cube_validator_spark.sources.rdf import read_rdfxml_dir

    empty = tmp_path / "none"
    empty.mkdir()
    assert read_rdfxml_dir(spark, str(empty)).count() == 0
    doc = (
        '<?xml version="1.0"?>'
        '<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"'
        ' xmlns:eg="http://example.org/ns#">'
        '<rdf:Description rdf:about="http://example.org/s">'
        "<eg:p>v</eg:p></rdf:Description></rdf:RDF>"
    )
    d = tmp_path / "harvest"
    d.mkdir()
    (d / "record-0001.rdf").write_text(doc)
    assert read_rdfxml_dir(spark, str(d), glob="*.rdf").count() == 1
