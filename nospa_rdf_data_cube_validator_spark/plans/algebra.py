"""Relational triple-pattern algebra over the canonical triples DataFrame.

The reference engine composes every integrity constraint from four Jena
index lookups plus Java Set algebra (SURVEY.md §2.2/§2.3; reference
nonsparql/ValidatorBase.java:34-219). Here each primitive is a declarative
DataFrame expression so Catalyst gets the whole plan: predicate filters
push down to the parquet scan, tiny metadata sides broadcast, and the
per-subject nested loops of the reference (e.g. the both-free mode of
searchByPathVisit, ValidatorBase.java:61-72) become single relational
joins.

Conventions
-----------
- ``T`` is the canonical triples DataFrame (terms.TRIPLES_SCHEMA).
- A "hop" DataFrame has two columns ``(subj, obj)`` for one predicate.
- Metadata hops (qb:structure, qb:component, ...) are tiny at any data
  scale — they are human-authored schema — so helpers mark them
  broadcastable with ``F.broadcast``.
"""

from __future__ import annotations

import copy

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import qb


class TripleStore:
    """Thin wrapper around the triples DataFrame with hop/filter helpers.

    Equivalent role to the single Jena ``Model`` field of the reference
    (nonsparql/NospaValidator.java:17) — but immutable: normalization
    returns a new store (union + dedup, matching Jena's set semantics).
    """

    #: SQL type of the subj/pred/obj columns; EncodedTripleStore overrides
    #: with "bigint" so type-parametric casts (empty arrays, struct
    #: signatures) stay correct in both representations.
    term_sql_type = "string"

    def __init__(self, df: DataFrame):
        self.df = df

    # -- term-literal indirection -----------------------------------------
    # Validators/normalizer reference RDF vocabulary by URI string; the
    # encoded store translates these to dictionary ids. Keeping the
    # translation here means every operator works unchanged on both
    # representations (same column NAMES, different column types).
    def term_value(self, term: str):
        """The comparable value of a constant term (identity here)."""
        return term

    def lit(self, term: str) -> F.Column:
        """A literal Column comparable against subj/pred/obj."""
        return F.lit(self.term_value(term))

    # -- P1/P2: sigma(pred[, obj]) -> pi(subj) ---------------------------
    def subjects_with(self, pred: str, obj: str | None = None) -> DataFrame:
        cond = F.col("pred") == self.lit(pred)
        if obj is not None:
            cond = cond & (F.col("obj") == self.lit(obj))
        return self.df.where(cond).select("subj").distinct()

    # -- the (subj, obj) hop for one predicate ----------------------------
    def p(self, pred: str, with_kind: bool = False) -> DataFrame:
        cols = ["subj", "obj"] + (["obj_kind"] if with_kind else [])
        return self.df.where(F.col("pred") == self.lit(pred)).select(*cols)

    def typed(self, rdf_class: str) -> DataFrame:
        """Subjects with rdf:type <rdf_class>: one-column DF ``subj``."""
        return self.subjects_with(qb.RDF_TYPE, rdf_class)

    def with_df(self, df: DataFrame) -> "TripleStore":
        """Same representation (and, for EncodedTripleStore, the same
        dictionary and constants), different triples frame."""
        out = copy.copy(self)
        out.df = df
        return out

    def decode(self, df: DataFrame, cols: list[str]) -> DataFrame:
        """Term columns of ``df`` in their readable form: already strings
        here (EncodedTripleStore maps its ids back through the dictionary)."""
        return df


# ---------------------------------------------------------------------------
# J1: k-hop property-path join (searchByPathVisit, ValidatorBase.java:34-74).
# ---------------------------------------------------------------------------
def path_join(store: TripleStore, preds: list[str]) -> DataFrame:
    """Follow ``p1/p2/.../pk`` from every subject of p1; returns (root, leaf).

    The reference walks the path per-subject (O(|subjects| * path) nested
    loop); this is the set-at-a-time equivalent: a chain of equi-joins.
    IC-10 follows qb:sliceStructure/qb:componentProperty with it: the first
    hop starts at the slices, which can be observation-scale, so it stays a
    distributed scan; every later hop is hinted broadcastable.
    """
    assert preds, "empty property path"
    hop = store.p(preds[0])
    acc = hop.select(F.col("subj").alias("root"), F.col("obj").alias("leaf"))
    for pred in preds[1:]:
        nxt = F.broadcast(
            store.p(pred).select(F.col("subj").alias("_s"), F.col("obj").alias("_o"))
        )
        acc = (
            acc.join(nxt, acc.leaf == nxt._s, "inner")
            .select("root", F.col("_o").alias("leaf"))
        )
    return acc.distinct()
