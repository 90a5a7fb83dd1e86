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
  (no shuffle by surface).
- **Canonicalization** resolves sameAs-style alias chains on the driver:
  the alias list is curated, not data-scale, so it is collected (capped at
  ``plans/schema.py::METADATA_CAP``) and closed in Python, not with the
  iterative closure of plans/closure.py. The resolved map is a local
  relation, and subj/obj are rewritten through two broadcast joins of it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans import schema
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

    For each source the canonicals are the nodes reached from it over one
    or more edges that are no source themselves (the chain terminals): a
    chain a->b->c maps a and b to c, a cycle maps nowhere and a fan-out
    maps one source to each of its terminals.

    The edges are collected to the driver and closed there, so the map is
    a local relation (``session.local_frame``) that broadcasts without a
    job. The alias list is curated: over ``METADATA_CAP`` edges it raises
    ``ValueError`` rather than being closed some other way."""
    from ..session import local_frame

    cap = schema.METADATA_CAP
    rows = edges.select("src", "dst").limit(cap + 1).collect()
    if len(rows) > cap:
        raise ValueError(f"alias edge list exceeds METADATA_CAP={cap} edges")
    adj: dict = {}
    for src, dst in rows:
        adj.setdefault(src, set()).add(dst)
    resolved = set()
    for src, dsts in adj.items():
        reached, frontier = set(dsts), list(dsts)
        while frontier:
            for nxt in adj.get(frontier.pop(), ()):
                if nxt not in reached:
                    reached.add(nxt)
                    frontier.append(nxt)
        resolved.update((src, node) for node in reached if node not in adj)
    out = edges.select(F.col("src").alias("entity"), F.col("dst").alias("canonical"))
    return local_frame(edges.sparkSession, sorted(resolved), out.schema)


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

