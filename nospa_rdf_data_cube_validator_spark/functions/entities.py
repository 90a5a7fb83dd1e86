"""Deterministic entity dictionary + relation templates for the
KG-construction pipeline (mention detection, entity linking,
canonicalization).

Everything downstream — the synthetic transcript generator, the pandas-UDF
extractor, the broadcast linking dictionary, and the DuckDB oracle SQL in
__spark_entry__.py — derives from these constants, so Spark results and
oracle results agree exactly.

Each entity has exactly two surface forms (primary + alias). Some surface
forms are deliberately shared between entities (ambiguous mentions) to
exercise the linking resolution rule (lowest candidate IRI wins), and
ALIAS_EDGES declares sameAs-style duplicate entities that canonicalization
must merge (including one 2-hop chain to exercise the closure).
"""

ENTITY_NS = "http://example.org/entity#"
PRED_NS = "http://example.org/rel#"

# (entity_local_id, [surface_0, surface_1])
ENTITIES: list[tuple[str, list[str]]] = [
    ("cardiff", ["Cardiff", "Cardiff Council"]),
    ("newport", ["Newport", "Newport City"]),
    ("swansea", ["Swansea", "Swansea Bay"]),
    ("monmouth", ["Monmouthshire", "Monmouth"]),
    ("merthyr", ["Merthyr Tydfil", "Merthyr"]),
    ("wrexham", ["Wrexham", "Wrexham County"]),
    ("powys", ["Powys", "Powys Region"]),
    ("gwynedd", ["Gwynedd", "Gwynedd Area"]),
    ("alice", ["Alice Morgan", "A. Morgan"]),
    ("bryn", ["Bryn Jones", "B. Jones"]),
    ("carys", ["Carys Evans", "C. Evans"]),
    ("dylan", ["Dylan Price", "D. Price"]),
    ("elin", ["Elin Roberts", "E. Roberts"]),
    ("ffion", ["Ffion Hughes", "F. Hughes"]),
    ("gareth", ["Gareth Owen", "G. Owen"]),
    ("huw", ["Huw Davies", "H. Davies"]),
    ("statswales", ["Stats Wales", "StatsWales"]),
    ("nhswales", ["NHS Wales", "Welsh NHS"]),
    ("senedd", ["Senedd", "Welsh Parliament"]),
    ("ons", ["ONS", "Office for National Statistics"]),
    ("datalab", ["Data Lab", "DataLab"]),
    ("pipeline1", ["Pipeline One", "pipeline-one"]),
    ("registry", ["Entity Registry", "the registry"]),
    ("warehouse", ["Data Warehouse", "the warehouse"]),
    # duplicates to be merged by canonicalization:
    ("cardiff_dup", ["Cardiff City Council", "City of Cardiff"]),
    ("ons_dup", ["UK ONS", "ONS UK"]),
    ("ons_dup2", ["National Statistics Office", "Natl Statistics Office"]),
    # ambiguity: "Morgan" could be alice or this org (linking must resolve):
    ("morgan_org", ["Morgan Institute", "A. Morgan"]),
]

# sameAs-style duplicate edges (dup -> canonical); ons_dup2 -> ons_dup -> ons
# forms a 2-hop chain, so canonicalization needs a closure, not one join.
ALIAS_EDGES: list[tuple[str, str]] = [
    ("cardiff_dup", "cardiff"),
    ("ons_dup", "ons"),
    ("ons_dup2", "ons_dup"),
]

# (template_text with two {} mention slots, relation local id)
TEMPLATES: list[tuple[str, str]] = [
    ("{} works with {} on the pipeline.", "worksWith"),
    ("{} visited {} last week.", "visited"),
    ("{} depends on {} for data.", "dependsOn"),
    ("{} reported an issue to {}.", "reportedTo"),
]


def entity_iri(local_id: str) -> str:
    return ENTITY_NS + local_id


def surface_rows() -> list[tuple[str, int, int, str]]:
    """(surface, ent_idx, surf_idx, entity_iri) lookup rows."""
    rows = []
    for ei, (local, surfaces) in enumerate(ENTITIES):
        for si, s in enumerate(surfaces):
            rows.append((s, ei, si, entity_iri(local)))
    return rows


def canonical_map() -> dict[str, str]:
    """Fully-resolved alias map (python-side closure; used by tests and to
    build the expected canonicalization oracle)."""
    direct = {entity_iri(a): entity_iri(b) for a, b in ALIAS_EDGES}
    resolved = {}
    for src in direct:
        dst = direct[src]
        seen = {src}
        while dst in direct and dst not in seen:
            seen.add(dst)
            dst = direct[dst]
        resolved[src] = dst
    return resolved
