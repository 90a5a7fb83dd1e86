"""Iterative transitive closure (the one operator family Spark SQL lacks).

Reference semantics: ``connectedByRepeatedProp`` BFS loops
(nonsparql/ValidatorBase.java:234-293) used by IC-19 (skos:member+,
ValidatorIC19.java:148-156) and IC-20/21 (qb:hierarchyRoot then pcp*,
ValidatorIC20_21.java:120-160). The reference re-runs a per-value BFS for
every (obs, dim value); here we compute the reachable set once,
set-at-a-time, and semi-join values against it.

The reference BFS has no visited set and diverges on cyclic graphs; this
implementation is a proper fixpoint (frontier minus reached) and
terminates. Lineage is cut with ``localCheckpoint`` so long chains don't
blow up the plan. Closures run over *code-list/hierarchy metadata*, which
stays small even when observations are at 100 TB scale — the observation
side only ever semi-joins against the closed set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

CHECKPOINT_EVERY = 3


def _probe_pdf(df: DataFrame, threshold: int):
    """Single-action size probe + driver transfer: pull at most
    threshold+1 rows through Arrow. Returns the pandas frame when the
    input fits (the caller can drive on it directly — no second collect
    job, no per-row pickling) or None when it does not. Bounded driver
    memory either way (same bound _fits enforced); guide §5/§6 — Arrow
    for driver transfers instead of the row-pickle path.

    LocalRelation-backed inputs (``session.is_local``: frames built on the
    driver) short-circuit to a JOB-FREE executeCollect — LocalTableScan
    collects driver-side without launching tasks, so the closure costs
    zero cluster actions."""
    import pandas as pd

    from ..session import is_local

    try:
        if is_local(df):
            rows = df.limit(threshold + 1).collect()
            if len(rows) > threshold:
                return None
            return pd.DataFrame([tuple(r) for r in rows], columns=df.columns)
    except Exception:  # noqa: BLE001 — fall through to the Arrow action
        pass
    pdf = df.limit(threshold + 1).toPandas()
    return pdf if len(pdf) <= threshold else None


def transitive_closure(
    seeds: DataFrame,
    edges: DataFrame,
    edge_tags: tuple[str, ...] = (),
    max_iter: int = 64,
    driver_threshold: int = 200_000,
) -> DataFrame:
    """All nodes reachable from ``seeds`` along ``edges`` (0+ hops from seeds).

    seeds:  DataFrame with a ``node`` column plus arbitrary tag columns
            (e.g. ``code_list``, ``pcp``) that ride along unchanged.
    edges:  DataFrame with ``src``/``dst`` plus ``edge_tags`` columns; when a
            tag column appears in both, hops must match on it (per-pcp
            edge sets for IC-20/21).
    Returns a DataFrame with the same columns as ``seeds`` containing the
    seeds and everything reachable from them.

    Closures here run over code-list/hierarchy metadata, which is small
    even at 100 TB observation scale; when both the edge set and the seed
    set fit under ``driver_threshold`` rows (a driver-MEMORY bound: ~tens
    of MB collected), a driver-side BFS replaces the distributed fixpoint —
    identical output without the per-iteration job/localCheckpoint
    overhead. Larger inputs take the distributed loop below, which RAISES
    if ``max_iter`` hops end with a non-empty frontier rather than return
    a truncated reachable set.
    """
    tag_cols = [c for c in seeds.columns if c != "node"]
    # Driver fast path decided with ONE action per side (probe and
    # transfer fused, Arrow-serialized): the previous shape paid an eager
    # localCheckpoint + a limit-count + a row-pickling collect() per side
    # (5-6 jobs) before the BFS even started. Seeds are probed RAW (the
    # BFS's reached-set dedups anyway), so a LocalRelation seed frame
    # stays on the job-free executeCollect branch of _probe_pdf instead of
    # paying a dropDuplicates job.
    e_pdf = _probe_pdf(edges, driver_threshold)
    if e_pdf is not None:
        s_pdf = _probe_pdf(seeds, driver_threshold)
        if s_pdf is not None:
            return _closure_on_driver(seeds, s_pdf, e_pdf, tag_cols, list(edge_tags))
    seeds_d = seeds.dropDuplicates()
    # The edge set is re-joined every iteration: materialize it once instead
    # of recomputing its upstream plan per hop.
    edges = edges.localCheckpoint(eager=True)
    seeds_d = seeds_d.localCheckpoint(eager=True)
    reached = seeds_d
    frontier = reached
    converged = False
    for it in range(max_iter):
        cond = [frontier["node"] == edges["src"]]
        for t in edge_tags:
            cond.append(frontier[t] == edges[t])
        stepped = (
            frontier.join(edges, cond, "inner")
            .select(*[frontier[c] for c in tag_cols], edges["dst"].alias("node"))
            .dropDuplicates()
        )
        frontier = stepped.join(reached, tag_cols + ["node"], "left_anti")
        frontier = frontier.localCheckpoint(eager=True)
        if frontier.isEmpty():
            converged = True
            break
        reached = reached.unionByName(frontier)
        if (it + 1) % CHECKPOINT_EVERY == 0:
            reached = reached.localCheckpoint(eager=True)
    if not converged:
        raise RuntimeError(
            f"transitive_closure did not reach a fixpoint in {max_iter} hops "
            f"— refusing to return a truncated reachable set"
        )
    return reached


def _closure_on_driver(
    seeds: DataFrame, s_pdf, e_pdf, tag_cols: list[str], edge_tags: list[str]
) -> DataFrame:
    """Exact driver-side BFS over Arrow-transferred (metadata-scale)
    seeds/edges pandas frames; same (tags..., node) reachable set as the
    distributed fixpoint. ``seeds`` is kept only for schema/session."""
    from collections import defaultdict

    adj: dict = defaultdict(list)
    e_cols = [e_pdf[t].tolist() for t in edge_tags] + [
        e_pdf["src"].tolist(),
        e_pdf["dst"].tolist(),
    ]
    for row in zip(*e_cols):
        adj[(row[:-2], row[-2])].append(row[-1])
    tag_pos = {c: i for i, c in enumerate(tag_cols)}
    reached: set = set()
    frontier: list = []
    s_cols = [s_pdf[c].tolist() for c in tag_cols] + [s_pdf["node"].tolist()]
    for key in zip(*s_cols):
        if key not in reached:
            reached.add(key)
            frontier.append(key)
    while frontier:
        nxt = []
        for item in frontier:
            tags, node = item[:-1], item[-1]
            ekey = (tuple(tags[tag_pos[t]] for t in edge_tags), node)
            for dst in adj.get(ekey, ()):
                cand = tags + (dst,)
                if cand not in reached:
                    reached.add(cand)
                    nxt.append(cand)
        frontier = nxt
    cols = seeds.columns
    out = [
        tuple(dict(zip(tag_cols, item[:-1]), node=item[-1])[c] for c in cols)
        for item in sorted(reached)
    ]
    from ..session import local_frame

    return local_frame(seeds.sparkSession, out, seeds.schema)


def connected_components(
    edges: DataFrame, max_iter: int = 32, driver_threshold: int = 200_000
) -> DataFrame:
    """Undirected connected components by iterative min-label propagation.

    edges: (src, dst) pairs. Returns (node, component) where component is the
    minimum node id in the component. Used to canonicalize duplicate groups
    (minhash/simhash candidate pairs -> dedup clusters). Each round combines
    neighbor min-propagation with pointer jumping (a node also adopts its
    label's own label), so label distances halve per round and convergence is
    O(log(diameter)) rounds — a 1M-hop chain closes in ~20 rounds. Each round
    is two keyed joins + a groupBy-min shuffle — linear in |edges| and safe at
    100 TB candidate-pair volumes. If ``max_iter`` rounds end without reaching
    the fixpoint (cannot happen for diameters < 2^max_iter, but guards a
    pathological input or a future edit), the loop RAISES rather than
    returning silently-split components.

    Verified-duplicate edge sets are usually tiny relative to the corpus;
    below ``driver_threshold`` edges a driver-side union-find replaces the
    iterative loop (identical output, none of the per-round job overhead).
    """
    e_pdf = _probe_pdf(edges.select("src", "dst"), driver_threshold)
    if e_pdf is not None:
        parent: dict = {}

        def find(x):
            while parent.get(x, x) != x:
                parent[x] = parent.get(parent[x], parent[x])
                x = parent[x]
            return x

        srcs, dsts = e_pdf["src"].tolist(), e_pdf["dst"].tolist()
        for a, b in zip(srcs, dsts):
            ra, rb = find(a), find(b)
            if ra != rb:
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        nodes = set(srcs) | set(dsts)
        out = [(n, find(n)) for n in sorted(nodes)]
        schema = edges.select(
            F.col("src").alias("node"), F.col("src").alias("component")
        ).schema
        from ..session import local_frame

        return local_frame(edges.sparkSession, out, schema)
    sym = edges.select("src", "dst").unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    labels = (
        sym.groupBy(F.col("src").alias("node"))
        .agg(F.least(F.min("dst"), F.first("src")).alias("component"))
        .select("node", "component")
    )
    labels = labels.withColumn("component", F.least("node", "component"))
    labels = labels.localCheckpoint(eager=True)
    sym = sym.localCheckpoint(eager=True)
    converged = False
    for _ in range(max_iter):
        # propagate: new label of node = min(own label, labels of neighbors)
        neighbor = (
            sym.join(labels.withColumnRenamed("node", "dst"), "dst")
            .groupBy(F.col("src").alias("node"))
            .agg(F.min("component").alias("n_comp"))
        )
        updated = labels.join(neighbor, "node", "left").select(
            "node",
            F.col("component").alias("old_comp"),
            F.least("component", F.coalesce("n_comp", "component")).alias("mid_comp"),
        )
        # pointer jumping (label doubling): also adopt the label OF the label —
        # component ids are themselves nodes, so the lookup is a self-join.
        # This halves label-chain lengths every round, giving O(log d) rounds.
        jump = labels.select(
            F.col("node").alias("mid_comp"), F.col("component").alias("jump_comp")
        )
        updated = updated.join(jump, "mid_comp", "left").select(
            "node",
            "old_comp",
            F.least("mid_comp", F.coalesce("jump_comp", "mid_comp")).alias("new_comp"),
        )
        stable = updated.where(F.col("new_comp") != F.col("old_comp")).isEmpty()
        labels = updated.select("node", F.col("new_comp").alias("component")).localCheckpoint(
            eager=True
        )
        if stable:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components did not reach a fixpoint in {max_iter} rounds "
            f"(diameter >= 2^{max_iter}?) — refusing to return split components"
        )
    return labels
