"""Entity linking + canonicalization for extracted mentions.

north_star shape: "entity linking + canonicalization run as salted
broadcast/sort-merge joins over candidate dictionaries with skew-aware
repartitioning". Concretely:

- **Linking** is a broadcast join mention.surface -> candidate entity rows;
  ambiguous surfaces (several candidates) resolve deterministically to the
  minimum candidate IRI, on the driver when the dictionary is built. The
  dictionary is schema-scale (it is curated), so broadcast is always right;
  the *mention* side is the 10^12-turn side and never shuffles.
- **Skew**: mention surfaces are Zipfian. The broadcast join is skew-immune
  (no shuffle by surface). For non-broadcastable dictionaries use
  ``salted_join`` below.
- **Canonicalization** resolves sameAs-style alias chains with the shared
  iterative closure (plans/closure.py), then rewrites subj/obj via two more
  broadcast joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.closure import transitive_closure
from . import entities as E


def surface_dict(spark: SparkSession) -> DataFrame:
    """(surface, entity): ONE row per surface of the curated entity list,
    its entity the minimum candidate IRI (the linking ambiguity rule).

    Resolved driver-side and shipped as a LocalRelation (session.
    local_frame): the curated dictionary is schema-scale, so a Spark
    distinct or groupBy over it would only add jobs."""
    from ..session import local_frame

    best: dict[str, str] = {}
    for s, _ei, _si, iri in E.surface_rows():
        if s not in best or iri < best[s]:
            best[s] = iri
    return local_frame(spark, sorted(best.items()), "surface string, entity string")


def alias_edges(spark: SparkSession) -> DataFrame:
    from ..session import local_frame

    rows = [(E.entity_iri(a), E.entity_iri(b)) for a, b in E.ALIAS_EDGES]
    return local_frame(spark, rows, "src string, dst string")


def link_mentions(mentions: DataFrame, dictionary: DataFrame) -> DataFrame:
    """(.., subj_surface, obj_surface) -> (.., subj_entity, obj_entity).

    ``dictionary`` holds ONE (surface, entity) row per surface, its
    ambiguity already resolved to the minimum candidate
    (:func:`surface_dict`), so each mention joins at most one row per
    slot. Unlinkable surfaces drop the mention (both slots must link).
    Both joins broadcast the dictionary, so the mention-scale stream never
    shuffles, and mention rows are unique per (conv, turn, rel, surfaces)
    by construction (one row per (turn, template) from extract_mentions),
    so the output needs no dedup."""
    d_subj = F.broadcast(
        dictionary.select(F.col("surface").alias("subj_surface"), F.col("entity").alias("subj_entity"))
    )
    d_obj = F.broadcast(
        dictionary.select(F.col("surface").alias("obj_surface"), F.col("entity").alias("obj_entity"))
    )
    keys = ["conv_id", "turn_idx", "rel", "subj_surface", "obj_surface"]
    return (
        mentions.join(d_subj, "subj_surface", "inner")
        .join(d_obj, "obj_surface", "inner")
        .select(*keys, "subj_entity", "obj_entity")
    )


def resolve_aliases(edges: DataFrame) -> DataFrame:
    """(src, dst) alias edges -> (entity, canonical) fully-resolved map.

    Chains (a->b->c) resolve to the terminal entity via the iterative
    closure; for each source the canonical is the unique reached node that
    is not itself a source (the chain terminal)."""
    seeds = edges.select(F.col("src").alias("ent"), F.col("dst").alias("node"))
    reach = transitive_closure(seeds, edges.select("src", "dst"))
    sources = edges.select(F.col("src").alias("node")).distinct()
    terminal = reach.join(sources, "node", "left_anti")
    return terminal.select(F.col("ent").alias("entity"), F.col("node").alias("canonical"))


def canonicalize(linked: DataFrame, alias_map: DataFrame) -> DataFrame:
    """Rewrite subj/obj entities through the canonical map (broadcast)."""
    m_subj = F.broadcast(
        alias_map.select(F.col("entity").alias("subj_entity"), F.col("canonical").alias("subj_canon"))
    )
    m_obj = F.broadcast(
        alias_map.select(F.col("entity").alias("obj_entity"), F.col("canonical").alias("obj_canon"))
    )
    return (
        linked.join(m_subj, "subj_entity", "left")
        .join(m_obj, "obj_entity", "left")
        .withColumn("subj_entity", F.coalesce("subj_canon", "subj_entity"))
        .withColumn("obj_entity", F.coalesce("obj_canon", "obj_entity"))
        .drop("subj_canon", "obj_canon")
    )


def salted_join(
    big: DataFrame,
    dim: DataFrame,
    key: str,
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-buster for non-broadcastable dimension joins: explode the dim
    side n_salts ways, salt the big side by a uniform hash, join on
    (key, salt). Use when a handful of hot keys would dominate a sort-merge
    partition and AQE skew-split isn't enough."""
    salted_dim = dim.withColumn("_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1))))
    salted_big = big.withColumn(
        "_salt", (F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(n_salts))).cast("int")
    )
    return salted_big.join(salted_dim, [key, "_salt"], how).drop("_salt")
