"""Tests for the benchmark's input generator: determinism, seed-independent
sizes, and the expected counts against an independent recount of the
written files (regex extraction per template, as the engine's kernel is
pinned to, and the curated dictionary's linking rules).

Run with:  python3 -m pytest perfbench
"""

import os
import re
import sys

import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
from nospa_rdf_data_cube_validator_spark.functions import entities as E  # noqa: E402

TINY = {"n_convs": 5, "hot_turns": 30}


def _bytes(path):
    with open(path, "rb") as fh:
        return fh.read()


def test_same_seed_gives_identical_files(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    a.mkdir()
    b.mkdir()
    ea = gen.write_transcripts(str(a / "t.parquet"), 7, **TINY)
    eb = gen.write_transcripts(str(b / "t.parquet"), 7, **TINY)
    assert ea == eb
    assert _bytes(a / "t.parquet") == _bytes(b / "t.parquet")
    ca = gen.write_cube(str(a / "c.nt"), 7, n_obs=50)
    cb = gen.write_cube(str(b / "c.nt"), 7, n_obs=50)
    assert ca == cb
    assert _bytes(a / "c.nt") == _bytes(b / "c.nt")


def test_other_seed_gives_same_sizes_other_content(tmp_path):
    e1 = gen.write_transcripts(str(tmp_path / "1.parquet"), 1, **TINY)
    e2 = gen.write_transcripts(str(tmp_path / "2.parquet"), 2, **TINY)
    assert e1["turns"] == e2["turns"] == sum(gen.conv_turns(5, 30))
    t1 = pq.read_table(tmp_path / "1.parquet")
    t2 = pq.read_table(tmp_path / "2.parquet")
    assert t1.schema == t2.schema
    assert t1.column("text") != t2.column("text")
    c1 = gen.write_cube(str(tmp_path / "1.nt"), 1, n_obs=400)
    c2 = gen.write_cube(str(tmp_path / "2.nt"), 2, n_obs=400)
    for key in ("observations", "triples", "normalized"):  # all datasets used
        assert c1[key] == c2[key], key
    assert len(_bytes(tmp_path / "1.nt")) == len(_bytes(tmp_path / "2.nt"))
    assert _bytes(tmp_path / "1.nt") != _bytes(tmp_path / "2.nt")


def _recount_transcripts(path):
    """Independent model of extract -> link -> canonicalize -> graph."""
    candidates = {}
    for local, surfaces in E.ENTITIES:
        for s in surfaces:
            candidates.setdefault(s, []).append(E.entity_iri(local))
    canon = E.canonical_map()

    def link(surface):
        iri = min(candidates[surface])
        return canon.get(iri, iri)

    patterns = [
        (re.compile("^" + "(.+?)".join(re.escape(p) for p in tmpl.split("{}")) + "$"), rel)
        for tmpl, rel in E.TEMPLATES
    ]
    mentions = linked = 0
    edges, observations = set(), set()
    for row in pq.read_table(path).to_pylist():
        for pattern, rel in patterns:
            m = pattern.match(row["text"])
            if not m:
                continue
            mentions += 1
            subj, obj = m.groups()
            if subj in candidates and obj in candidates:
                linked += 1
                edges.add((link(subj), rel, link(obj)))
                observations.add((row["conv_id"], row["turn_idx"], rel))
    triples = len(edges) + 6 * len(observations) + 15
    return mentions, linked, triples


def test_expected_transcript_counts_match_recount(tmp_path):
    path = str(tmp_path / "t.parquet")
    exp = gen.write_transcripts(path, 3, n_convs=40, hot_turns=300)
    mentions, linked, triples = _recount_transcripts(path)
    assert (exp["mentions"], exp["linked"], exp["triples"]) == (mentions, linked, triples)
    assert 0 < exp["linked"] < exp["mentions"] < exp["turns"]  # noise and unknown surfaces occur


def _recount_cube(path):
    """Independent model of normalize's added triples and the five ICs the
    cube violates, from the N-Triples lines."""
    qb = "http://purl.org/linked-data/cube#"
    li = "http://example.org/li#"
    props: dict = {}
    for line in path.read_text(encoding="utf-8").splitlines():
        s, p, o = line[:-2].split(" ")
        if s.startswith("<" + li + "obs-"):
            props.setdefault(s, {}).setdefault(p, []).append(o)
    dims = [f"<{li}dim{d}>" for d in ("Part", "Supp", "Qty")]
    ds_key = f"<{qb}dataSet>"
    groups: dict = {}
    for obs, pv in props.items():
        if all(d in pv for d in dims):
            for ds in pv[ds_key]:
                groups.setdefault((ds, *(pv[d][0] for d in dims)), []).append(obs)
    return {
        "datasets": len({ds for pv in props.values() for ds in pv[ds_key]}),
        "ic1": sum(len(pv[ds_key]) != 1 for pv in props.values()),
        "ic11": sum(dims[1] not in pv for pv in props.values()),
        "ic12": len({o for m in groups.values() for o in sorted(m)[1:]}),
        "ic13": sum(f"<{li}attrCurrency>" not in pv for pv in props.values()),
        "ic14": sum(f"<{li}price>" not in pv for pv in props.values()),
    }


def test_expected_cube_counts_match_recount(tmp_path):
    path = tmp_path / "c.nt"
    exp = gen.write_cube(str(path), 5, n_obs=2000)
    lines = path.read_text(encoding="utf-8").splitlines()
    assert exp["triples"] == len(lines) == len(set(lines))
    got = _recount_cube(path)
    assert exp["normalized"] == len(lines) + got["datasets"]
    tiny = gen.write_cube(str(path), 5, n_obs=2)  # not every dataset is used
    assert tiny["normalized"] == tiny["triples"] + _recount_cube(path)["datasets"]
    for ic in ("ic1", "ic11", "ic12", "ic13", "ic14"):
        assert exp["violations"][ic] == got[ic] > 0, ic
    others = {ic: n for ic, n in exp["violations"].items() if ic not in got}
    assert len(others) == 16 and not any(others.values())
