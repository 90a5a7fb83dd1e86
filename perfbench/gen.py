"""Seeded, single-process input generator for the benchmark.

Writes the inputs the benchmark's jobs consume, before any timing starts:

- ``transcripts.parquet``: multi-turn transcripts (the ``main.py pipeline``
  input) with a heavy-tailed conversation-size distribution — a few hot
  conversations carry most turns, the skew path of extraction/linking.
- ``cube.nt``: an N-Triples RDF Data Cube (the ``main.py validate`` input)
  shaped like the engine's lineitem cube, with injected IC-1/11/13/14
  violations and natural IC-12 duplicates.

Alongside each file it computes, in plain Python, the counts a correct run
must reproduce: the extracted and linked mention counts and the
constructed triple count of the transcripts, and the normalized triple
count and all 21 per-IC violation counts of the cube. Sizes depend only on
the size parameters (a different seed gives the same row and triple
counts, and an N-Triples file of the same length); the content depends
only on the seed.
"""

from __future__ import annotations

import datetime
import random

import pyarrow as pa
import pyarrow.parquet as pq

from nospa_rdf_data_cube_validator_spark import qb
from nospa_rdf_data_cube_validator_spark.functions import entities as E

IC_NAMES = [f"ic{i}" for i in range(1, 22)]

# ---------------------------------------------------------------------------
# transcripts
# ---------------------------------------------------------------------------
ROLES = ("user", "assistant", "tool")
TOOLS = ("search", "calculator", "database")
NOISE = (
    "Let me look that up, ref %04d.",
    "Thanks, noted under ticket %04d.",
    "Tool output: %04d rows returned.",
)
T0 = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)
#: the transcripts' fixed shape: every conversation has BASE_TURNS plus a
#: few, the first HOT_CONVS carry ``hot_turns`` more; a share of turns is
#: tool noise without a template, a share of mentions names an entity the
#: dictionary does not know
BASE_TURNS = 6
HOT_CONVS = 3
NOISE_RATE = 0.15
UNKNOWN_RATE = 0.08

#: constants of edges_to_graph's cube shape (pipeline.py): six triples per
#: observation plus fifteen schema triples
KG_TRIPLES_PER_OBS = 6
KG_SCHEMA_TRIPLES = 15


def _surfaces() -> list[str]:
    return sorted({s for _, surfaces in E.ENTITIES for s in surfaces})


def _link_map() -> dict[str, str]:
    """surface -> canonical entity IRI: minimum candidate IRI per surface,
    then the alias chain followed to its terminal."""
    best: dict[str, str] = {}
    for local, surfaces in E.ENTITIES:
        iri = E.entity_iri(local)
        for s in surfaces:
            if s not in best or iri < best[s]:
                best[s] = iri
    alias = {E.entity_iri(a): E.entity_iri(b) for a, b in E.ALIAS_EDGES}

    def terminal(iri: str) -> str:
        seen = {iri}
        while iri in alias and alias[iri] not in seen:
            iri = alias[iri]
            seen.add(iri)
        return iri

    return {s: terminal(iri) for s, iri in best.items()}


def conv_turns(n_convs: int, hot_turns: int) -> list[int]:
    """Turns per conversation: a fixed heavy-tailed shape (seed-independent)."""
    return [
        BASE_TURNS + (c % 7) * 3 + (hot_turns if c < HOT_CONVS else 0)
        for c in range(n_convs)
    ]


def write_transcripts(path: str, seed: int, n_convs: int, hot_turns: int) -> dict:
    """Write the transcripts parquet and return its expected counts."""
    rng = random.Random(f"transcripts-{seed}")
    surfaces = _surfaces()
    link = _link_map()
    cols: dict[str, list] = {k: [] for k in ("conv_id", "turn_idx", "role", "text", "tool", "ts")}
    n_mentions = n_linked = 0
    edges: set[tuple[str, str, str]] = set()
    for c, n_turns in enumerate(conv_turns(n_convs, hot_turns)):
        conv_id = "conv-%06d" % c
        for t in range(n_turns):
            if rng.random() < NOISE_RATE:
                text = rng.choice(NOISE) % rng.randrange(10000)
            else:
                tmpl, rel = E.TEMPLATES[rng.randrange(len(E.TEMPLATES))]
                pair = [
                    "Visitor %04d" % rng.randrange(10000)
                    if rng.random() < UNKNOWN_RATE
                    else rng.choice(surfaces)
                    for _ in range(2)
                ]
                text = tmpl.format(*pair)
                n_mentions += 1
                if pair[0] in link and pair[1] in link:
                    n_linked += 1
                    edges.add((link[pair[0]], rel, link[pair[1]]))
            role = ROLES[t % 3]
            cols["conv_id"].append(conv_id)
            cols["turn_idx"].append(t)
            cols["role"].append(role)
            cols["text"].append(text)
            cols["tool"].append(TOOLS[rng.randrange(3)] if role == "tool" else "")
            cols["ts"].append(T0 + datetime.timedelta(days=c, minutes=t))
    table = pa.table(
        {
            "conv_id": pa.array(cols["conv_id"], pa.string()),
            "turn_idx": pa.array(cols["turn_idx"], pa.int32()),
            "role": pa.array(cols["role"], pa.string()),
            "text": pa.array(cols["text"], pa.string()),
            "tool": pa.array(cols["tool"], pa.string()),
            "ts": pa.array(cols["ts"], pa.timestamp("us", tz="UTC")),
        }
    )
    pq.write_table(table, path, compression="snappy")
    # one qb:Observation per linked mention: (conv, turn, rel) is unique
    # because each turn carries at most one template
    return {
        "turns": table.num_rows,
        "mentions": n_mentions,
        "linked": n_linked,
        "triples": len(edges) + KG_TRIPLES_PER_OBS * n_linked + KG_SCHEMA_TRIPLES,
    }


# ---------------------------------------------------------------------------
# N-Triples cube
# ---------------------------------------------------------------------------
LI = "http://example.org/li#"
DIMS = [LI + "dimPart", LI + "dimSupp", LI + "dimQty"]
ATTR = LI + "attrCurrency"
MEASURE = LI + "price"
N_DATASETS = 7
#: small dimension-value domains, so IC-12 duplicates occur naturally
N_PARTS, N_SUPPS, N_QTYS = 40, 12, 10
#: share of observations given each injected violation kind
VIOL_RATE = 0.004
BOOL_TRUE = '"true"^^<%s>' % qb.XSD_BOOLEAN


def _iri(v: str) -> str:
    return f"<{v}>"


def _schema_lines() -> list[str]:
    lines = []

    def t(s, p, o):
        lines.append(f"{s} {_iri(p)} {o} .")

    for k in range(N_DATASETS):
        ds, dsd = _iri(f"{LI}ds-{k}"), _iri(f"{LI}dsd-{k}")
        t(ds, qb.QB_STRUCTURE, dsd)
        for i, dim in enumerate(DIMS):
            spec = f"_:li-{k}-{i}"
            t(dsd, qb.QB_COMPONENT, spec)
            t(spec, qb.QB_COMPONENT_PROPERTY, _iri(dim))
        a_spec, m_spec = f"_:li-{k}-attr", f"_:li-{k}-meas"
        t(dsd, qb.QB_COMPONENT, a_spec)
        t(a_spec, qb.QB_COMPONENT_PROPERTY, _iri(ATTR))
        t(a_spec, qb.QB_COMPONENT_REQUIRED, BOOL_TRUE)
        t(dsd, qb.QB_COMPONENT, m_spec)
        t(m_spec, qb.QB_COMPONENT_PROPERTY, _iri(MEASURE))
    for dim in DIMS:
        t(_iri(dim), qb.RDF_TYPE, _iri(qb.QB_DIMENSION_PROPERTY))
        t(_iri(dim), qb.RDFS_RANGE, _iri(LI + "Code"))
    t(_iri(ATTR), qb.RDF_TYPE, _iri(qb.QB_ATTRIBUTE_PROPERTY))
    t(_iri(MEASURE), qb.RDF_TYPE, _iri(qb.QB_MEASURE_PROPERTY))
    return lines


def write_cube(path: str, seed: int, n_obs: int) -> dict:
    """Write the N-Triples cube and return its expected counts.

    Each violation kind is injected into a FIXED number of observations
    (seeded positions), so the triple count is seed-independent; IC-12
    duplicates arise from the small dimension-value domains."""
    rng = random.Random(f"cube-{seed}")
    n_viol = max(1, int(n_obs * VIOL_RATE))
    miss_supp = set(rng.sample(range(n_obs), n_viol))
    extra_ds = set(rng.sample(range(n_obs), n_viol))
    miss_attr = set(rng.sample(range(n_obs), n_viol))
    miss_meas = set(rng.sample(range(n_obs), n_viol))
    lines = _schema_lines()
    used: set[int] = set()
    groups: dict[tuple, list[str]] = {}
    for i in range(n_obs):
        obs = f"{LI}obs-{i:07d}"
        k = rng.randrange(N_DATASETS)
        part = f"http://example.org/part#{rng.randrange(N_PARTS):05d}"
        supp = f"http://example.org/supp#{rng.randrange(N_SUPPS):05d}"
        qty = f"http://example.org/qty#{rng.randrange(N_QTYS):05d}"
        # an IC-1 violation: a second qb:dataSet, another real dataset
        datasets = [k] + ([(k + 1) % N_DATASETS] if i in extra_ds else [])
        used.update(datasets)
        s = _iri(obs)
        lines.append(f"{s} {_iri(qb.RDF_TYPE)} {_iri(qb.QB_OBSERVATION)} .")
        for d in datasets:
            lines.append(f"{s} {_iri(qb.QB_DATASET_PROP)} {_iri(f'{LI}ds-{d}')} .")
        lines.append(f"{s} {_iri(DIMS[0])} {_iri(part)} .")
        if i not in miss_supp:
            lines.append(f"{s} {_iri(DIMS[1])} {_iri(supp)} .")
            # IC-12 is checked per (obs, dataset) over complete observations;
            # the key is the set of dimension values (disjoint namespaces
            # here, so no value-set collapse)
            for d in datasets:
                groups.setdefault((d, part, supp, qty), []).append(obs)
        lines.append(f"{s} {_iri(DIMS[2])} {_iri(qty)} .")
        if i not in miss_attr:
            lines.append(f"{s} {_iri(ATTR)} {_iri('http://example.org/cur#USD')} .")
        if i not in miss_meas:
            lines.append(f"{s} {_iri(MEASURE)} {_iri(f'http://example.org/p#{rng.randrange(1000):05d}')} .")
    with open(path, "w", encoding="utf-8", newline="\n") as fh:
        fh.write("\n".join(lines) + "\n")
    # all but the minimum observation of each duplicate group
    dups = {o for members in groups.values() for o in sorted(members)[1:]}
    violations = dict.fromkeys(IC_NAMES, 0)
    violations.update(
        ic1=len(extra_ds),  # two qb:dataSet values
        ic11=len(miss_supp),  # one (obs, dimSupp) pair each
        ic12=len(dups),
        ic13=len(miss_attr),
        ic14=len(miss_meas),
    )
    return {
        "observations": n_obs,
        "triples": len(lines),
        # N1b types each dataset an observation points at qb:DataSet
        "normalized": len(lines) + len(used),
        "violations": violations,
    }
