"""Tests for the training-data operators (dedup / similarity / textual /
multimodal) and the shared closure primitives."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from nospa_rdf_data_cube_validator_spark.operators import dedup, multimodal, similarity, textual
from nospa_rdf_data_cube_validator_spark.plans.closure import (
    connected_components,
    transitive_closure,
)


@pytest.fixture(scope="module")
def docs(spark):
    base = (
        "the quick brown fox jumps over the lazy dog and runs far away into the hills "
        "while the farmer watches from the old wooden barn near the river"
    )
    rows = [
        (0, base),
        (1, base),  # exact dup of 0
        (2, base.replace("lazy", "sleepy")),  # near dup of 0
        (3, "völlig anderes deutsches dokument über die wirtschaft und der markt"),
        (4, "le marché français est grand et la croissance est forte selon le rapport"),
        (5, "short text"),
        (6, base.replace("quick", "slow").replace("brown", "red")),  # near dup, 2 edits
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_duplicates(docs):
    got = {(r["id"], r["canonical_id"]) for r in dedup.exact_duplicates(docs).collect()}
    assert got == {(1, 0)}


def test_minhash_finds_near_dups(docs):
    pairs = {
        (r["id"], r["canonical_id"])
        for r in dedup.minhash_duplicates(docs, threshold=0.6).collect()
    }
    flat = {i for p in pairs for i in p}
    assert {0, 1, 2} <= flat | {0}  # 0 is the canonical representative
    assert (1, 0) in pairs and (2, 0) in pairs
    assert 3 not in flat and 4 not in flat and 5 not in flat


def test_simhash_near_dups(docs):
    pairs = {(r["src"], r["dst"]) for r in dedup.simhash_duplicates(docs).collect()}
    assert (0, 1) in pairs  # identical docs -> hamming 0
    for s, d in pairs:
        assert {s, d} <= {0, 1, 2, 6}, f"unrelated docs flagged: {(s, d)}"


def test_ngram_jaccard_exact_value(spark, docs):
    pairs = spark.createDataFrame([(0, 1), (0, 3)], "src long, dst long")
    got = {r["src"] * 10 + r["dst"]: r["jaccard"] for r in dedup.ngram_jaccard(pairs, docs).collect()}
    assert got[1] == 1.0
    assert got[3] == 0.0


def test_connected_components_chain(spark):
    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 4), (10, 11)], "src long, dst long")
    comp = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_connected_components_long_chain_distributed(spark):
    # 64-hop chain through the DISTRIBUTED path (driver_threshold=0): plain
    # min-label propagation would need 64 rounds; pointer jumping must close
    # it within the 32-round budget instead of returning split components.
    edges = spark.createDataFrame([(i, i + 1) for i in range(64)], "src long, dst long")
    comp = {
        r["node"]: r["component"]
        for r in connected_components(edges, driver_threshold=0).collect()
    }
    assert comp == {i: 0 for i in range(65)}


def test_connected_components_budget_exhaustion_raises(spark):
    # With a 1-round budget the fixpoint is unreachable; the loop must fail
    # loudly, never silently return split components.
    edges = spark.createDataFrame([(i, i + 1) for i in range(64)], "src long, dst long")
    with pytest.raises(RuntimeError, match="fixpoint"):
        connected_components(edges, max_iter=1, driver_threshold=0)



def _tagged_graph(spark):
    """(seeds, edges) tagged by pcp: under "p" a cycle 1 -> 2 -> 3 -> 1 with
    a fan-out 2 -> {4, 5} and a chain 5 -> 6; under "q" a single hop from 1
    that the "p" seeds must not follow."""
    seeds = spark.createDataFrame([("p", 1), ("q", 7)], "pcp string, node long")
    edges = spark.createDataFrame(
        [("p", 1, 2), ("p", 2, 3), ("p", 3, 1), ("p", 2, 4), ("p", 2, 5), ("p", 5, 6),
         ("q", 1, 9), ("q", 7, 8)],
        "pcp string, src long, dst long",
    )
    return seeds, edges


def test_transitive_closure_distributed_matches_driver(spark):
    """The distributed fixpoint (driver_threshold=0) and the driver BFS
    reach the same (pcp, node) rows on a tagged graph with a cycle and a
    fan-out."""
    seeds, edges = _tagged_graph(spark)

    def rows(**kw):
        out = transitive_closure(seeds, edges, edge_tags=("pcp",), **kw)
        return sorted(tuple(r) for r in out.select("pcp", "node").collect())

    want = [("p", n) for n in range(1, 7)] + [("q", 7), ("q", 8)]
    assert rows() == want
    assert rows(driver_threshold=0) == want


def test_transitive_closure_budget_exhaustion_raises(spark):
    """A 6-hop chain cannot close in 3 distributed hops: the loop fails
    loudly instead of returning the chain without its deeper nodes."""
    seeds = spark.createDataFrame([(0,)], "node long")
    edges = spark.createDataFrame([(i, i + 1) for i in range(6)], "src long, dst long")
    with pytest.raises(RuntimeError, match="fixpoint"):
        transitive_closure(seeds, edges, max_iter=3, driver_threshold=0)

@pytest.fixture(scope="module")
def embeddings(spark):
    rng = np.random.RandomState(7)
    rows = []
    for i in range(60):
        v = rng.randn(16).astype(float)
        rows.append((i, [float(x) for x in v]))
    # 100/101: near-duplicates of vector 0
    base = np.array(rows[0][1])
    rows.append((100, [float(x) for x in base + 0.01]))
    rows.append((101, [float(x) for x in base * 1.001]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_brute_force_topk_matches_numpy(spark, embeddings):
    rows = embeddings.collect()
    mat = {r["vec_id"]: np.array(r["embedding"]) for r in rows}
    q = spark.createDataFrame(
        [(0, mat[0].tolist())], "q_id long, q_vec array<double>"
    )
    data = embeddings.where(F.col("vec_id") != 0)
    got = [
        (r["vec_id"], r["rank"])
        for r in similarity.brute_force_topk(data, q, k=3).orderBy("rank").collect()
    ]
    sims = {
        vid: float(np.dot(v, mat[0]) / (np.linalg.norm(v) * np.linalg.norm(mat[0])))
        for vid, v in mat.items()
        if vid != 0
    }
    expect = sorted(sims, key=lambda k: (-round(sims[k], 6), k))[:3]
    assert [g[0] for g in got] == expect
    assert got[0][0] in (100, 101)


def test_ivf_recall_on_near_dups(spark, embeddings):
    q = embeddings.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    data = embeddings.where(F.col("vec_id") != 0)
    got = {r["vec_id"] for r in similarity.ivf_topk(data, q, k=5, nlist=4, nprobe=2).collect()}
    # the two planted near-duplicates of vector 0 must be retrieved
    assert {100, 101} <= got


def test_embedding_duplicates(embeddings):
    pairs = {(r["src"], r["dst"]) for r in dedup.embedding_duplicates(embeddings).collect()}
    assert (100, 101) in pairs or (0 in {p for pr in pairs for p in pr})
    assert any({100, 101} & set(p) for p in pairs)


def test_language_id(spark):
    rows = [
        (1, "the cat and the dog is in of the house"),
        (2, "der markt und die bank das ist nicht gut"),
        (3, "le chat et la maison les gens est ici"),
        (4, "xyzzy plugh 12345"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["id"]: r["pred_lang"] for r in textual.language_id(docs).collect()}
    assert got == {1: "en", 2: "de", 3: "fr", 4: "und"}


def test_quality_integer_contract(spark):
    docs = spark.createDataFrame([(1, "the cat, and a dog!")], "doc_id long, text string")
    r = textual.quality_scores(docs).collect()[0]
    assert r["n_chars"] == 19
    assert r["n_tokens"] == 5
    assert r["punct_u6"] == 2 * 1000000 // 19
    assert r["stopword_u6"] == 3 * 1000000 // 5
    assert isinstance(r["quality_u6"], int)


def test_token_counts(spark):
    docs = spark.createDataFrame([(1, "hello world, 42 tokens!")], "doc_id long, text string")
    r = textual.token_counts(docs).collect()[0]
    assert r["ws_tokens"] == 4
    # hell+o worl+d , 4 2 token+s ! -> 4+2+2+1+1 = wordpieces
    assert r["bpe_ish_tokens"] == 10


def test_fingerprint_whitespace_insensitive(spark):
    docs = spark.createDataFrame(
        [(1, "Hello   world"), (2, "hello world"), (3, "world hello")],
        "doc_id long, text string",
    )
    got = {r["id"]: r["fp"] for r in textual.fingerprint(docs).collect()}
    assert got[1] == got[2]  # case/whitespace-insensitive
    assert got[1] != got[3]  # order-sensitive


def test_multimodal_features(spark):
    """Real decode: the engine parses the BMP/WAV headers it wrote; every
    value checked here is what a byte-level reading of the container gives."""
    import hashlib

    docs = spark.createDataFrame([(0, "abc"), (1, "defgh"), (2, "ij")], "doc_id long, text string")
    media = multimodal.docs_as_media(docs)
    feats = {r["media_id"]: r for r in multimodal.extract_features(media).collect()}
    # doc 0 -> 1x1 24bpp BMP: stride 4, n_bytes 54 + 4
    assert feats[0]["kind"] == "image"
    assert (feats[0]["width"], feats[0]["height"], feats[0]["n_bytes"]) == (1, 1, 58)
    assert feats[0]["sample_rate"] is None and feats[0]["duration_ms"] is None
    # doc 1 -> WAV: 16 kHz mono PCM, 55 samples -> 44 + 110 bytes, 3 ms
    assert feats[1]["kind"] == "audio"
    assert (feats[1]["sample_rate"], feats[1]["duration_ms"], feats[1]["n_bytes"]) == (
        16000,
        3,
        154,
    )
    assert feats[1]["width"] is None and feats[1]["height"] is None
    # doc 2 -> AVI: 18x18, 4 frames (len 'ij'=2 -> 2%48+2), 25fps
    assert feats[2]["kind"] == "video"
    assert (feats[2]["width"], feats[2]["height"]) == (18, 18)
    assert feats[2]["n_bytes"] == 100 + 24 * 4 and feats[2]["duration_ms"] == 160
    assert feats[2]["sample_rate"] is None
    # checksum is the md5 of the ACTUAL container bytes
    assert feats[0]["checksum"] == hashlib.md5(multimodal.build_bmp(1, 1, b"abc")).hexdigest()
    assert (
        feats[1]["checksum"]
        == hashlib.md5(multimodal.build_wav(16000, 55, b"defgh")).hexdigest()
    )


def test_bmp_wav_parsers_golden():
    """Parsers pinned against hand-assembled containers (independent of the
    builders), plus build->parse roundtrip and malformed-raises."""
    import struct

    import pytest as _pytest

    # hand-built 2x2 BMP header (no pixels needed for header parse)
    bmp = struct.pack("<2sIHHI", b"BM", 54 + 16, 0, 0, 54) + struct.pack(
        "<IiiHHIIiiII", 40, 2, 2, 1, 24, 0, 16, 0, 0, 0, 0
    )
    assert multimodal.parse_bmp_header(bmp) == (2, 2)
    # top-down BMP (negative height) reports magnitude
    bmp_td = bytearray(bmp)
    bmp_td[22:26] = (-2).to_bytes(4, "little", signed=True)
    assert multimodal.parse_bmp_header(bytes(bmp_td)) == (2, 2)
    # hand-built WAV: 8 kHz mono 16-bit, 4 samples -> 8 data bytes, 0 ms
    wav = (
        struct.pack("<4sI4s", b"RIFF", 36 + 8, b"WAVE")
        + struct.pack("<4sIHHIIHH", b"fmt ", 16, 1, 1, 8000, 16000, 2, 16)
        + struct.pack("<4sI", b"data", 8)
        + b"\x00" * 8
    )
    assert multimodal.parse_wav_header(wav) == (8000, 0)
    # roundtrip through the builders
    assert multimodal.parse_bmp_header(multimodal.build_bmp(61, 13, b"xyz")) == (61, 13)
    assert multimodal.parse_wav_header(multimodal.build_wav(32000, 549, b"xyz")) == (
        32000,
        549 * 1000 // 32000,
    )
    avi = multimodal.build_avi(320, 240, 7, b"xyz")
    assert len(avi) == 100 + 24 * 7
    assert multimodal.parse_avi_header(avi) == (320, 240, 7, 7 * 40)
    assert multimodal.parse_avi_frames(avi) == [(i, 108 + 24 * i, 16) for i in range(7)]
    with _pytest.raises(ValueError):
        multimodal.parse_bmp_header(b"PNG....")
    with _pytest.raises(ValueError):
        multimodal.parse_wav_header(b"RIFFxxxxAVI ")
    with _pytest.raises(ValueError):
        multimodal.parse_avi_header(b"RIFFxxxxWAVE")


def test_frame_sample(spark):
    """Real AVI frame index: offsets/sizes must match the movi layout
    (first chunk at byte 100, 24-byte stride, 16 data bytes each)."""
    docs = spark.createDataFrame([(2, "x" * 200)], "doc_id long, text string")
    media = multimodal.docs_as_media(docs)  # doc 2 -> video, 200%48+2 = 10 frames
    frames = sorted(
        (r["frame_idx"], r["byte_offset"], r["n_bytes"])
        for r in multimodal.frame_sample(media).collect()
    )
    assert frames == [(i, 108 + 24 * i, 16) for i in range(10)]
    sampled = multimodal.frame_sample(media, every_n=3).collect()
    assert sorted(r["frame_idx"] for r in sampled) == [0, 3, 6, 9]


def test_embedding_duplicates_recall(spark):
    """Multi-band hyperplane LSH must recover >= 90% of true cosine-0.95
    pairs (the single-band form recalled ~42% — the round-1 scale bug)."""
    rng = np.random.RandomState(11)
    rows = []
    for i in range(40):
        v = rng.randn(16)
        rows.append((2 * i, [float(x) for x in v]))
        # planted near-dup: tiny perturbation keeps cosine > 0.99
        rows.append((2 * i + 1, [float(x) for x in v + rng.randn(16) * 0.01]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {(r["src"], r["dst"]) for r in dedup.embedding_duplicates(emb, threshold=0.95).collect()}
    expected = {(2 * i, 2 * i + 1) for i in range(40)}
    recall = len(got & expected) / len(expected)
    assert recall >= 0.9, f"recall {recall} below 0.9: {sorted(expected - got)}"
    # verification stage guarantees precision: every returned pair is >= 0.95
    mat = {vid: np.array(v) for vid, v in rows}
    for s, d in got:
        cos = float(np.dot(mat[s], mat[d]) / (np.linalg.norm(mat[s]) * np.linalg.norm(mat[d])))
        assert cos >= 0.95 - 1e-9


def test_simhash_hot_bucket_cap(spark):
    """A degenerate corpus (every doc identical) exceeds max_bucket on every
    chunk, so the capped join must emit no candidate pairs instead of going
    quadratic; distinct docs below the cap still pair up."""
    same = [(i, "identical boilerplate text repeated everywhere") for i in range(10)]
    docs = spark.createDataFrame(same, "doc_id long, text string")
    assert dedup.simhash_duplicates(docs, max_bucket=5).count() == 0
    assert dedup.simhash_duplicates(docs, max_bucket=64).count() == 45  # 10 choose 2


def test_ngram_jaccard_bigrams_exact(spark):
    """n=2 path: separators must not inflate the gram count (round-1 bug:
    sequence sized from the unfiltered split)."""
    docs = spark.createDataFrame(
        [(1, "  a b, c  "), (2, "a b c"), (3, "b c d")], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    got = {(r["src"], r["dst"]): r["jaccard"] for r in dedup.ngram_jaccard(pairs, docs, n=2).collect()}
    # doc1 == doc2 under tokenization: grams {"a b", "b c"} -> jaccard 1.0
    assert got[(1, 2)] == 1.0
    # doc2 {"a b","b c"} vs doc3 {"b c","c d"}: intersection 1, union 3
    assert abs(got[(2, 3)] - 1 / 3) < 1e-9


def test_ivf_topk_exact_matches_duckdb_twin(spark):
    """Cross-engine exactness for the quantized-IVF variant: every
    intermediate is int64 (quantize -> id%nlist seed -> floor-div centroid
    means -> squared-L2 argmin -> probe -> top-k), so a DuckDB replica of
    the same recipe must produce the IDENTICAL (q_id, vec_id, dist, rank)
    rows — the oracle-grade evidence the float-mean ivf_topk cannot have."""
    import duckdb

    from nospa_rdf_data_cube_validator_spark.operators.similarity import ivf_topk_exact

    path = "/root/testdata/sf0.001/embeddings.parquet"
    nlist, nprobe, k, scale, dim = 16, 4, 10, 1_000_000, 64
    data = spark.read.parquet(path)
    queries = (
        data.where(F.col("vec_id") < 5)
        .select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    )
    got = {
        (r["q_id"], r["vec_id"], r["dist"], r["rank"])
        for r in ivf_topk_exact(
            data, queries, k=k, nlist=nlist, nprobe=nprobe, scale=scale
        ).collect()
    }

    fd = "CAST((s - (((s % n) + n) % n)) / n AS BIGINT)"
    sql = f"""
WITH qdata AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * {scale}) AS BIGINT)) AS qv
  FROM '{path}'
),
long_v AS (
  SELECT vec_id, vec_id % {nlist} AS cell, i, qv[i + 1] AS v
  FROM qdata, (SELECT unnest(range(0, {dim})) AS i)
),
c0 AS (
  SELECT cell, i, {fd} AS m
  FROM (SELECT cell, i, SUM(v) AS s, COUNT(*) AS n FROM long_v GROUP BY cell, i)
),
assign AS (
  SELECT vec_id, cell FROM (
    SELECT lv.vec_id, c.cell,
           SUM((lv.v - c.m) * (lv.v - c.m)) AS dist
    FROM long_v lv JOIN c0 c USING (i)
    GROUP BY lv.vec_id, c.cell
    QUALIFY row_number() OVER (PARTITION BY lv.vec_id ORDER BY dist, c.cell) = 1
  )
),
c1 AS (
  SELECT cell, i, {fd} AS m
  FROM (SELECT a.cell, lv.i, SUM(lv.v) AS s, COUNT(*) AS n
        FROM long_v lv JOIN assign a USING (vec_id) GROUP BY a.cell, lv.i)
),
q_long AS (
  SELECT vec_id AS q_id, i, qv[i + 1] AS qval
  FROM qdata, (SELECT unnest(range(0, {dim})) AS i)
  WHERE vec_id < 5
),
probes AS (
  SELECT q_id, cell FROM (
    SELECT ql.q_id, c.cell, SUM((ql.qval - c.m) * (ql.qval - c.m)) AS dist
    FROM q_long ql JOIN c1 c USING (i)
    GROUP BY ql.q_id, c.cell
    QUALIFY row_number() OVER (PARTITION BY ql.q_id ORDER BY dist, c.cell) <= {nprobe}
  )
),
scored AS (
  SELECT ql.q_id, lv.vec_id,
         SUM((lv.v - ql.qval) * (lv.v - ql.qval)) AS dist
  FROM long_v lv
  JOIN assign a USING (vec_id)
  JOIN probes p ON p.cell = a.cell
  JOIN q_long ql ON ql.q_id = p.q_id AND ql.i = lv.i
  GROUP BY ql.q_id, lv.vec_id
)
SELECT q_id, vec_id, dist,
       row_number() OVER (PARTITION BY q_id ORDER BY dist, vec_id) AS rank
FROM scored
QUALIFY rank <= {k}
"""
    want = {tuple(r) for r in duckdb.connect().execute(sql).fetchall()}
    assert got == want
    assert len(got) == 5 * k


def test_extract_mentions_matches_regex_kernel(spark, monkeypatch):
    """The r6 vectorized split/slice extraction must agree with the
    anchored lazy-group regex each template compiles to, on adversarial
    texts: mid-segment at position 0 (the regex backtracks past it),
    repeated mid segments, empty would-be groups, missing suffixes,
    newlines inside groups (the regex's `.` excludes them), one or two
    trailing newlines (`$` matches before one final newline only), a
    template with no suffix, and plain hits for every template."""
    import re

    import pandas as pd

    from nospa_rdf_data_cube_validator_spark.functions import entities as E
    from nospa_rdf_data_cube_validator_spark.functions.extraction import (
        _template_patterns,
        extract_mentions,
    )

    monkeypatch.setattr(E, "TEMPLATES", E.TEMPLATES + [("{} mentions {}", "mentions")])
    mid0 = " works with "
    suf0 = " on the pipeline."
    texts = [
        "A works with B on the pipeline.",
        " works with B works with C on the pipeline.",
        "A works with  on the pipeline.",
        "A works with B on the pipeline",
        mid0 + mid0 + suf0,
        mid0 + "x" + suf0,
        "x" + mid0 + suf0,
        "A works with B\nC on the pipeline.",
        "A\nB works with C on the pipeline.",
        " works with A\nB works with C on the pipeline.",
        "A visited B last week.",
        "A visited B last week. extra",
        "A depends on B for data.",
        "A reported an issue to B.",
        "A reported an issue to .",
        "",
        suf0,
        "A works with B on the pipeline. works with C on the pipeline.",
        "A works with B on the pipeline.\n",
        "A works with B on the pipeline.\n\n",
        "A works with B\non the pipeline.\n",
        "A mentions B",
        "A mentions B\n",
        "A mentions B\n\n",
        "A mentions B\nC",
    ]
    pats = [(re.compile(p), rel) for p, rel in _template_patterns()]
    expected = set()
    for i, t in enumerate(texts):
        for rx, rel in pats:
            m = rx.match(t)
            if m:
                expected.add((f"c{i}", i, rel, m.group(1), m.group(2)))
    df = spark.createDataFrame(
        pd.DataFrame({"conv_id": [f"c{i}" for i in range(len(texts))],
                      "turn_idx": list(range(len(texts))),
                      "text": texts}),
        "conv_id string, turn_idx int, text string",
    )
    got = {
        (r["conv_id"], r["turn_idx"], r["rel"], r["subj_surface"], r["obj_surface"])
        for r in extract_mentions(df).collect()
    }
    assert got == expected
