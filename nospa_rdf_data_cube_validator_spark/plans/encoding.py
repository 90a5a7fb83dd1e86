"""Dictionary-encoded triple store: int64 term ids end to end.

The validation plans shuffle RDF terms constantly (normalize dedup, the
IC-11/12 per-observation aggregations, duplicate-key windows). Term strings
average ~60-200 bytes; the int64 encoding cuts the bytes moved through the
memory bus / shuffle / checkpoint path severalfold — bench.py measures the
same cold-cache ic12 plan at 1.9-3.5x fewer shuffle-read bytes encoded vs
string (`ic12_shuffle_str_over_enc` in BENCH_r*.json: 3.49x at sf0.01 =
8.50->2.44 MB, 1.85x at sf0.1 = 65.9->35.7 MB; per-row struct overhead
dilutes the ratio as group fan-in grows, the per-TERM byte saving itself
is the steady ~8x of 60-200B strings vs 8B ids). Moved bytes are the
binding constraint for thread- and executor-scaling of the string form
(measured on this box: the end-to-end string job stops scaling past 8
threads while its CPU-bound stages scale to ~93% of the hardware ceiling).

Exactness is preserved by construction:

- **Order-preserving ids**: the dictionary is built by one global sort of
  the distinct terms and assigning ids in that order, so
  ``min(id) == id(min(term))`` — every min()-based deterministic selection
  in the validators (IC-11/12 representative picks, sort_array keys)
  produces the same term after decode as the string engine picks.
- **Same column names**: the encoded frame keeps subj/pred/obj (as bigint)
  plus the untouched obj_kind/obj_datatype/obj_lang columns, so every
  operator plan (joins, windows, dedups, closures) works unchanged; only
  vocabulary constants go through ``TripleStore.lit()`` and output decode
  through ``decode()``.
- **Vocabulary injection**: the qb/skos/owl constants and the typed
  boolean literals are always added to the dictionary, so normalization
  can EMIT them (type closure) even when absent from the input.

At 100 TB the dictionary itself is large; decode joins therefore broadcast
the (small) violation side, never the dictionary, and the encoded form is
the at-rest layout (encode once at ingest, validate many times).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import qb, terms
from .algebra import TripleStore


def vocabulary_terms() -> list[str]:
    """Every string constant the validators/normalizer may compare or emit."""
    consts = [v for k, v in vars(qb).items() if isinstance(v, str) and not k.startswith("_")]
    return sorted(set(consts) | {terms.TRUE, terms.FALSE})


def build_dictionary(triples: DataFrame) -> DataFrame:
    """(id bigint, term string): ORDER-PRESERVING term dictionary.

    Global order without a single-partition window and without a JVM ->
    Python round-trip (the previous RDD zipWithIndex path pickled every
    distinct term out to Python workers and back just to number rows —
    two extra jobs and the dominant cost of encode_store at bench scale):
    one global ``orderBy`` of the distinct terms, then
    ``monotonically_increasing_id()`` entirely in the JVM. The sort
    range-partitions into the session's ``spark.sql.shuffle.partitions``;
    AQE then coalesces only CONTIGUOUS reducer ranges, so each output
    partition still holds one range of the term order, and a small
    dictionary becomes one task and one file. The id's high bits carry
    the (range-ordered) partition index and its low bits the in-partition
    position, so term order == id order. Ids are unique and
    order-preserving but NOT dense — nothing in the engine needs density:
    the deterministic representative picks only need
    ``min(id) == id(min(term))`` (module docstring) and ``decode()``
    joins by id value."""
    spark = triples.sparkSession
    from ..session import local_frame

    vocab = local_frame(spark, [(t,) for t in vocabulary_terms()], "term string")
    all_terms = (
        triples.select(F.col("subj").alias("term"))
        .unionByName(triples.select(F.col("pred").alias("term")))
        .unionByName(triples.select(F.col("obj").alias("term")))
        .unionByName(vocab)
        .distinct()
        .orderBy("term")
    )
    return all_terms.select(F.monotonically_increasing_id().alias("id"), "term")


def encode_triples(triples: DataFrame, dictionary: DataFrame) -> DataFrame:
    """Triples with subj/pred/obj replaced by dictionary ids (3 equi-joins;
    Catalyst/AQE picks broadcast vs shuffle by dictionary size)."""
    enc = triples
    for col in ("subj", "pred", "obj"):
        d = dictionary.select(F.col("term").alias(col), F.col("id").alias(f"_{col}_id"))
        enc = enc.join(d, col, "inner").drop(col).withColumnRenamed(f"_{col}_id", col)
    return enc.select("subj", "pred", "obj", "obj_kind", "obj_datatype", "obj_lang")


class EncodedTripleStore(TripleStore):
    """TripleStore whose subj/pred/obj are int64 dictionary ids.

    Construct via :func:`encode_store`. ``lit()`` translates vocabulary
    constants through a driver-side map (collected once from the
    dictionary — only the ~60 vocabulary terms, not the data)."""

    term_sql_type = "bigint"

    def __init__(self, df: DataFrame, dictionary: DataFrame):
        super().__init__(df)
        self.dictionary = dictionary
        vocab = vocabulary_terms()
        spark = df.sparkSession
        from ..session import local_frame

        vocab_df = local_frame(spark, [(t,) for t in vocab], "term string")
        rows = dictionary.join(F.broadcast(vocab_df), "term", "left_semi").collect()
        self._const = {r["term"]: r["id"] for r in rows}

    def term_value(self, term: str):
        try:
            return self._const[term]
        except KeyError:
            raise KeyError(
                f"term {term!r} is not an injected vocabulary constant; "
                "arbitrary data terms must be joined through the dictionary"
            ) from None

    # -- output decode ----------------------------------------------------
    def decode(self, df: DataFrame, cols: list[str]) -> DataFrame:
        """Replace id columns with their term strings without ever shuffling
        the dictionary (data-scale at 100 TB). Spark cannot broadcast the
        PRESERVED side of a left-outer join, so instead: broadcast the small
        violation frame's distinct ids INTO a left-semi filter of the
        dictionary (map-side scan, no dictionary shuffle), then broadcast
        that small slice as the right side of the decode join."""
        for col in cols:
            ids = df.select(F.col(col).alias("id")).distinct()
            d = (
                self.dictionary.join(F.broadcast(ids), "id", "left_semi")
                .select(F.col("id").alias(col), F.col("term").alias(f"_{col}_s"))
            )
            df = df.join(F.broadcast(d), col, "left").drop(col).withColumnRenamed(
                f"_{col}_s", col
            )
        return df


def encode_store(store: TripleStore) -> EncodedTripleStore:
    """Build the dictionary from a string store and return its encoded twin.

    The dictionary's sort partitions come from the session
    (``spark.sql.shuffle.partitions``, coalesced by AQE into contiguous
    ranges; :func:`build_dictionary`). It is materialized by
    ``localCheckpoint``, not a cache: a recomputation would number the
    terms anew (the ids come from a sampled range partitioning and AQE's
    runtime coalescing) and the encoded triples would decode to
    wrong terms silently, while a lost checkpoint block fails the job. It
    is read four times downstream (the vocabulary-constant collect plus
    the three encode joins) without re-running its plan."""
    d = build_dictionary(store.df).localCheckpoint(eager=True)
    return EncodedTripleStore(encode_triples(store.df, d), d)
