"""Document deduplication operators for large-scale training-data pipelines.

All hot-path computation stays JVM-side (built-in functions + higher-order
array expressions inside whole-stage codegen); Python never touches rows.

- exact_duplicates: hash-groupBy (one shuffle on the fingerprint).
- minhash_signatures / minhash_duplicates: char-shingle MinHash + banded LSH
  (the classic near-dup pipeline: shingle -> minhash -> band -> bucket join
  -> verify -> connected components -> canonical min id).
- simhash_signatures / simhash_duplicates: 64-bit SimHash over word tokens,
  candidate pairs from 16-bit chunk collisions (any pair within Hamming
  distance 3 shares at least one of 4 chunks).
- ngram_jaccard: exact word-shingle Jaccard for candidate pairs.
- embedding_duplicates: cosine-similarity near-dup over an embedding column.

Scale notes: every candidate-pair stage is bucketed (band, bucket) so only candidate
pairs shuffle; hot buckets (boilerplate shingles) are capped with
``max_bucket`` to bound quadratic blowup — the standard web-dedup guard.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.closure import connected_components
from ..session import spread


# ---------------------------------------------------------------------------
# exact
# ---------------------------------------------------------------------------
def exact_duplicates(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, canonical_id, fingerprint) for every doc in a >1 group except the
    minimum-id representative.

    Two-phase skew-safe form: groupBy(fingerprint) with map-side partial
    aggregation first (a corpus that is 90% one boilerplate page ships only
    per-partition partials, not every row into one window partition — a
    window cannot be skew-split, a join can, and AQE broadcasts the dup
    groups when they are few), then join the duplicate groups back."""
    ids = docs.select(F.col(id_col).alias("id"), F.md5(F.col(text_col)).alias("fingerprint"))
    groups = (
        ids.groupBy("fingerprint")
        .agg(F.min("id").alias("canonical_id"), F.count("*").alias("n"))
        .where(F.col("n") > 1)
        .select(F.col("fingerprint").alias("fp"), "canonical_id")
    )
    # null-SAFE join key: md5(NULL text) is NULL, and groupBy keeps the
    # null group (all null-text docs ARE exact duplicates of each other,
    # as the window form treated them) — a plain equi-join would silently
    # drop it. <=> keys still plan as a hash join, not a cross product.
    return (
        ids.join(groups, F.col("fingerprint").eqNullSafe(F.col("fp")), "inner")
        .where(F.col("id") != F.col("canonical_id"))
        .select("id", "canonical_id", "fingerprint")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------
def minhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 64,
    shingle: int = 5,
) -> DataFrame:
    """(id, sig array<bigint>): per-doc MinHash signature.

    Arrow-batched numpy kernel: shingles are hashed once with pandas'
    stable 64-bit hash, then the n_hashes MinHash functions are universal
    hashes h_j(x) = a_j * x + b_j over uint64 (odd deterministic a_j, no
    RNG) minimized with one vectorized reduction — the
    one-lambda-per-shingle-per-function Spark expression form is
    interpreted per element and ~30x slower."""
    import numpy as np
    import pandas as pd

    a = (2 * np.arange(1, n_hashes + 1, dtype=np.uint64) + 1) * np.uint64(0x9E3779B97F4A7C15)
    b = np.arange(n_hashes, dtype=np.uint64) * np.uint64(0xC2B2AE3D27D4EB4F)

    def gen(batches):
        for pdf in batches:
            ids, sigs = [], []
            for did, text in zip(pdf["_id"], pdf["_text"]):
                s = text or ""
                if len(s) < shingle:
                    grams = [s]
                else:
                    grams = list({s[i : i + shingle] for i in range(len(s) - shingle + 1)})
                h = pd.util.hash_array(np.asarray(grams, dtype=object)).astype(np.uint64)
                sig = (h[:, None] * a + b).min(axis=0).astype(np.int64)
                ids.append(did)
                sigs.append(sig.tolist())
            yield pd.DataFrame({"id": ids, "sig": sigs})

    # parallelism floor: single-file corpora plan as one scan partition,
    # serializing the whole kernel on one Python worker (guide §2.5)
    narrow = spread(docs.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_text")))
    return narrow.mapInPandas(gen, schema="id long, sig array<long>")


def lsh_candidate_pairs(
    signatures: DataFrame,
    bands: int = 16,
    max_bucket: int = 64,
) -> DataFrame:
    """Banded LSH: docs sharing any band bucket become candidate pairs (a < b).

    One explode (bands x docs rows), a count pre-filter, then pairs are
    generated INSIDE each surviving bucket (collect_list + double explode)
    — no self-join. ``max_bucket`` drops degenerate buckets (e.g.
    empty-text docs) that would otherwise go quadratic — the standard
    web-dedup hot-bucket guard. The drop is silent by design (a capped
    bucket means "too common to be a useful signature"); callers needing
    the count can reuse the ``counts`` groupBy below.

    Shuffle budget (the r4 rewrite): counts agg + one banded repartition
    (the semi-join; the following collect_list groupBy REUSES its
    (band, bucket) partitioning, no new Exchange) + the final distinct —
    the previous self-join form paid two unshared banded shuffles (no
    ReusedExchange, measured) plus the counts and distinct. The cap check
    stays BEFORE collect_list on purpose: filtering after collection
    would materialize the degenerate bucket's full id list in one
    aggregation state — the OOM the cap exists to prevent. Bucket ids
    hash the band slice directly (xxhash64 hashes arrays structurally;
    the old to_json detour serialized every slice first)."""
    banded = signatures.select(
        "id",
        F.explode(
            F.expr(
                f"transform(sequence(0, {bands - 1}),"
                " b -> struct(b as band, xxhash64(slice(sig, b * int(size(sig) / "
                f"{bands}) + 1, int(size(sig) / {bands}))) as bucket))"
            )
        ).alias("bb"),
    ).select("id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    counts = banded.groupBy("band", "bucket").agg(F.count("*").alias("n"))
    keep = counts.where((F.col("n") >= 2) & (F.col("n") <= max_bucket)).select("band", "bucket")
    buckets = (
        banded.join(keep, ["band", "bucket"], "left_semi")
        .groupBy("band", "bucket")
        .agg(F.collect_list("id").alias("ids"))
    )
    return (
        buckets.select(F.explode("ids").alias("src"), "ids")
        .select("src", F.explode("ids").alias("dst"))
        .where(F.col("src") < F.col("dst"))
        .distinct()
    )


def minhash_duplicates(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 64,
    shingle: int = 5,
    bands: int = 16,
    threshold: float = 0.7,
) -> DataFrame:
    """Full near-dup pipeline -> (id, canonical_id) for non-representative
    members of each near-duplicate cluster. Estimated Jaccard = fraction of
    equal minhash slots; clusters = connected components over verified pairs."""
    sigs = minhash_signatures(docs, text_col, id_col, n_hashes, shingle)
    sigs = sigs.persist()
    pairs = lsh_candidate_pairs(sigs, bands=bands)
    s_a = sigs.select(F.col("id").alias("src"), F.col("sig").alias("sig_a"))
    s_b = sigs.select(F.col("id").alias("dst"), F.col("sig").alias("sig_b"))
    # equal-slot count as an unrolled codegen expression: the signature
    # width is statically known, and the higher-order
    # aggregate(zip_with(...)) form is interpreted per element per pair —
    # measured as the dominant JVM CPU of the verify stage (guide §4.1:
    # prefer codegen expressions over interpreted lambdas).
    eq_sum = " + ".join(
        f"if(sig_a[{i}] = sig_b[{i}], 1, 0)" for i in range(n_hashes)
    )
    verified = (
        pairs.join(s_a, "src")
        .join(s_b, "dst")
        .withColumn("est_jaccard", F.expr(eq_sum) / F.size("sig_a"))
        .where(F.col("est_jaccard") >= threshold)
        .select("src", "dst")
    )
    # connected_components consumes its edge set twice (count + propagate /
    # collect); persist so the LSH+verify pipeline executes once, not twice.
    verified = verified.persist()
    comps = connected_components(verified)
    out = (
        comps.where(F.col("node") != F.col("component"))
        .select(F.col("node").alias("id"), F.col("component").alias("canonical_id"))
    )
    # connected_components returns a materialized frame (createDataFrame or
    # localCheckpoint), so the inputs can be released immediately.
    verified.unpersist()
    sigs.unpersist()
    return out


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------
def simhash_signatures(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 64
) -> DataFrame:
    """(id, simhash bigint): sign-of-weighted-bit-sums over word tokens.

    Computed as an Arrow-batched numpy kernel (mapInPandas): Spark's
    higher-order lambdas are interpreted per element, and 64 bit-sums x
    tokens per doc is exactly the shape that needs a vectorized C loop.
    Token hashing uses pandas' stable 64-bit hash (deterministic across
    processes and parallelism levels)."""
    import re as _re

    import numpy as np
    import pandas as pd

    word_re = _re.compile(r"[^a-z0-9]+")
    shifts = np.arange(bits, dtype=np.uint64)

    def gen(batches):
        for pdf in batches:
            out_ids, out_sigs = [], []
            for did, text in zip(pdf["_id"], pdf["_text"]):
                toks = [t for t in word_re.split((text or "").lower()) if t]
                if not toks:
                    packed = np.uint64(0)
                else:
                    h = pd.util.hash_array(np.asarray(toks, dtype=object))
                    bitmat = ((h[:, None] >> shifts) & np.uint64(1)).astype(np.int32)
                    sums = (2 * bitmat - 1).sum(axis=0)
                    packed = ((sums > 0).astype(np.uint64) << shifts).sum(dtype=np.uint64)
                out_ids.append(did)
                out_sigs.append(np.uint64(packed).astype(np.int64))
            yield pd.DataFrame({"id": out_ids, "simhash": pd.array(out_sigs, dtype="int64")})

    narrow = spread(docs.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_text")))
    return narrow.mapInPandas(gen, schema="id long, simhash long")


def simhash_duplicates(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    max_bucket: int = 64,
) -> DataFrame:
    """Near-dups by SimHash: candidates collide on one of four 16-bit chunks
    (pigeonhole: hamming <= 3 over 64 bits guarantees an equal chunk), then
    exact Hamming verify. Returns (src, dst, hamming) pairs, src < dst.

    ``max_bucket`` caps each (chunk, val) bucket — the same hot-bucket guard
    as the MinHash LSH: a 16-bit chunk has only 65,536 values, so at
    web scale one popular chunk value (boilerplate-dominated docs) would
    otherwise hold millions of ids and pair generation would go quadratic.
    Docs whose every chunk is capped simply produce no candidates (they are
    "too common to distinguish" — the standard recall/cost trade)."""
    sigs = simhash_signatures(docs, text_col, id_col).persist()
    chunked = sigs.select(
        "id",
        "simhash",
        F.explode(
            F.expr(
                "transform(sequence(0, 3), c -> "
                "struct(c as chunk, (shiftright(simhash, c * 16) & 65535) as val))"
            )
        ).alias("cv"),
    ).select("id", "simhash", F.col("cv.chunk").alias("chunk"), F.col("cv.val").alias("val"))
    # Same bucket-grouped pair generation as lsh_candidate_pairs (r4): the
    # count pre-filter runs BEFORE collect_list (capped buckets never
    # materialize an aggregation state), and the collect_list groupBy
    # reuses the semi-join's (chunk, val) partitioning — one banded
    # shuffle instead of the self-join's two unshared ones.
    counts = chunked.groupBy("chunk", "val").agg(F.count("*").alias("n"))
    keep = counts.where((F.col("n") >= 2) & (F.col("n") <= max_bucket)).select("chunk", "val")
    buckets = (
        chunked.join(keep, ["chunk", "val"], "left_semi")
        .groupBy("chunk", "val")
        .agg(F.collect_list(F.struct("id", "simhash")).alias("xs"))
    )
    pairs = (
        buckets.select(F.explode("xs").alias("a"), "xs")
        .select("a", F.explode("xs").alias("b"))
        .where(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("src"),
            F.col("b.id").alias("dst"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
        )
        .distinct()
    )
    return pairs.where(F.col("hamming") <= max_hamming)


# ---------------------------------------------------------------------------
# exact n-gram Jaccard + embedding cosine
# ---------------------------------------------------------------------------
def ngram_jaccard(
    pairs: DataFrame,
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 1,
) -> DataFrame:
    """Exact word n-gram Jaccard for given (src, dst) candidate pairs.

    The token array is computed once (filtered of the empty tokens that
    split() emits for leading/trailing/repeated separators) and the n-gram
    sequence is bounded by the FILTERED size — sizing from the raw split
    would produce truncated trailing grams when the text has extra
    separators."""
    toks = F.expr(f"filter(split(lower({text_col}), '[^a-z0-9]+'), t -> t != '')")
    if n == 1:
        grams = F.expr("array_distinct(toks)")
    else:
        grams = F.expr(
            f"array_distinct(transform(sequence(1, greatest(size(toks) - {n - 1}, 1)),"
            f" i -> array_join(slice(toks, i, {n}), ' ')))"
        )
    g = docs.select(F.col(id_col).alias("id"), toks.alias("toks")).select(
        "id", grams.alias("grams")
    )
    ga = g.select(F.col("id").alias("src"), F.col("grams").alias("g_a"))
    gb = g.select(F.col("id").alias("dst"), F.col("grams").alias("g_b"))
    return (
        pairs.join(ga, "src")
        .join(gb, "dst")
        .select(
            "src",
            "dst",
            (
                F.size(F.array_intersect("g_a", "g_b"))
                / F.greatest(F.size(F.array_union("g_a", "g_b")), F.lit(1))
            ).alias("jaccard"),
        )
    )


def hyperplane_buckets(
    embeddings: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_bands: int = 16,
    planes_per_band: int = 16,
    seed: int = 0x5EED,
) -> DataFrame:
    """(id, band, bucket): multi-band random-hyperplane LSH signatures.

    Each band packs ``planes_per_band`` sign bits into one bucket key; a pair
    becomes a candidate if it collides in ANY band (OR-amplification). With
    p = 1 - theta/pi per plane, recall at cosine c is
    1 - (1 - p^planes)^bands — for the default 16x16 at c = 0.95
    (p ~ 0.899): band-hit ~ 0.182, recall ~ 1 - 0.818^16 ~ 0.96, while each
    band still has 2^16 buckets so the per-band join stays sub-quadratic.

    Projections run as one Arrow-batched numpy matmul (sign(V @ P^T));
    the plane matrix is generated once on the driver from a fixed PCG64
    seed and shipped in the UDF closure — deterministic across runs and
    parallelism levels, no per-element interpreted lambdas."""
    import numpy as np
    import pandas as pd

    total_planes = n_bands * planes_per_band

    def gen(batches):
        planes = None
        packer = (np.uint64(1) << np.arange(planes_per_band, dtype=np.uint64))
        for pdf in batches:
            ids_out, bands_out, buckets_out = [], [], []
            if len(pdf) == 0:
                yield pd.DataFrame({"id": [], "band": [], "bucket": []})
                continue
            mat = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf["_vec"]])
            if planes is None or planes.shape[1] != mat.shape[1]:
                rng = np.random.Generator(np.random.PCG64(seed))
                planes = rng.standard_normal((total_planes, mat.shape[1]))
            signs = (mat @ planes.T) > 0  # (n_docs, total_planes) bool
            bits = signs.reshape(len(pdf), n_bands, planes_per_band).astype(np.uint64)
            buckets = (bits * packer).sum(axis=2).astype(np.int64)  # (n_docs, n_bands)
            for did, row in zip(pdf["_id"], buckets):
                ids_out.extend([did] * n_bands)
                bands_out.extend(range(n_bands))
                buckets_out.extend(row.tolist())
            yield pd.DataFrame({"id": ids_out, "band": bands_out, "bucket": buckets_out})

    narrow = spread(embeddings.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_vec")))
    return narrow.mapInPandas(gen, schema="id long, band int, bucket long")


def embedding_duplicates(
    embeddings: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    n_bands: int = 16,
    planes_per_band: int = 16,
    max_bucket: int = 64,
) -> DataFrame:
    """Cosine near-dups over an embedding column via multi-band hyperplane
    LSH: candidates collide in ANY of ``n_bands`` buckets (recall ~0.96 at
    the default 0.95 threshold — see hyperplane_buckets), then an exact
    per-candidate cosine verify. Per-band buckets are capped at
    ``max_bucket`` (hot-bucket guard), so per-bucket pair generation is bounded
    and the whole plan stays sub-quadratic at corpus scale."""
    banded = hyperplane_buckets(
        embeddings, vec_col, id_col, n_bands=n_bands, planes_per_band=planes_per_band
    )
    # bucket-grouped pair generation (see lsh_candidate_pairs): pre-filter
    # before collect_list, partitioning reused, no self-join.
    counts = banded.groupBy("band", "bucket").agg(F.count("*").alias("n"))
    keep = counts.where((F.col("n") >= 2) & (F.col("n") <= max_bucket)).select("band", "bucket")
    buckets = (
        banded.join(keep, ["band", "bucket"], "left_semi")
        .groupBy("band", "bucket")
        .agg(F.collect_list("id").alias("ids"))
    )
    pairs = (
        buckets.select(F.explode("ids").alias("src"), "ids")
        .select("src", F.explode("ids").alias("dst"))
        .where(F.col("src") < F.col("dst"))
        .distinct()
    )
    v = embeddings.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    dot = F.expr(
        "aggregate(zip_with(a_vec, b_vec, (x, y) -> cast(x as double) * y),"
        " cast(0.0 as double), (acc, x) -> acc + x)"
    )
    norm = "sqrt(aggregate({v}, cast(0.0 as double), (acc, x) -> acc + cast(x as double) * x))"
    return (
        pairs.join(v.select(F.col("id").alias("src"), F.col("vec").alias("a_vec")), "src")
        .join(v.select(F.col("id").alias("dst"), F.col("vec").alias("b_vec")), "dst")
        .withColumn(
            "cosine",
            dot / (F.expr(norm.format(v="a_vec")) * F.expr(norm.format(v="b_vec"))),
        )
        .where(F.col("cosine") >= threshold)
        .select("src", "dst", "cosine")
    )
