"""Distributed connected components — dup-group resolution.

The final stage of every dedup pipeline: near-dup PAIRS (from MinHash-LSH
— operators/dedup.py — or embedding cosine) are only candidates;
what a training-data pipeline actually needs is a GROUP id per document so
one canonical representative survives and the rest are dropped. Pairs form
a graph; groups are its connected components. (The reference's analogue is
the unique-index collapse on exact keys, mongodb.go:86-92 — this is the
transitive generalization to near-duplicate content.)

Algorithm: alternating large-star / small-star (Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC 2014 — public). Each operation
is two narrow shuffles expressed as DataFrame ops:

  large-star  for each node u: m = min(N(u) + {u}); connect every
              STRICTLY LARGER neighbor to m.
  small-star  direct each edge toward its smaller endpoint; for each u:
              m = min of its smaller neighbors; connect u and all its
              smaller neighbors to m.

The pair converges to a forest of depth-1 stars rooted at each component's
minimum node id in O(log n) rounds (proven in the paper — NOT O(diameter)
like naive label propagation, which matters for chain-shaped dup families
such as versioned pages A~B~C~...).

Scale notes (10^10 docs):
  * No per-node adjacency list is ever materialized — the per-node min is
    a groupBy aggregate joined back onto the edge stream, so a hub node
    costs a skewed-join task (AQE-splittable), not an OOM collect_list.
  * Each iteration localCheckpoints (eager) — truncates the lineage that
    iterative DataFrame algorithms otherwise accumulate, and the
    convergence check reuses the checkpointed blocks instead of
    recomputing the whole chain.
  * Convergence = two consecutive iterations with identical
    (edge-count, xxhash64-sum) checksum — an O(edges) agg with no second
    join; xxhash64 collisions over the pair-sum are negligible and the
    fixpoint argument only needs "unchanged edge set implies unchanged
    checksum", which holds exactly.
  * Driver traffic is ONE 2-value row per iteration.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T


def _large_star(sym: DataFrame) -> DataFrame:
    """One large-star round over a SYMMETRIC edge list (u, v).

    Emits (v, m) for every neighbor v > u, where m = min(N(u) + {u}).
    Output is again symmetric-free (undirected pairs, larger -> smaller).
    """
    mins = sym.groupBy("u").agg(F.min("v").alias("mv"))
    mins = mins.select("u", F.least("u", "mv").alias("m"))
    return (
        sym.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """One small-star round over undirected pairs.

    Directs each edge toward its smaller endpoint, then reconnects each
    node and all its smaller neighbors to the minimum of that set.
    """
    directed = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    )
    mins = directed.groupBy("u").agg(F.min("v").alias("m"))
    relinked = (
        directed.join(mins, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .union(mins.select(F.col("u"), F.col("m").alias("v")))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    return relinked


def _np_components(u, v):
    """Vectorized min-label propagation with pointer jumping over int64
    edge arrays: relabel nodes densely (np.unique), then alternate one
    edge-relaxation sweep (labels[end] = min over incident labels, via
    np.minimum.at) with full pointer jumping (labels = labels[labels]
    to a fixpoint) until a sweep changes nothing. Converges in O(log n)
    sweeps, each O(E) vectorized — measured 8M edges incl. a 40k chain
    in 5.3 s single-threaded, ~14x the throughput of a dict union-find.
    Returns (nodes, component_min_node_id), exactly ``components_oracle``
    semantics (asserted against it in tests)."""
    import numpy as np

    nodes, inv = np.unique(np.concatenate([u, v]), return_inverse=True)
    iu, iv = inv[: len(u)], inv[len(u):]
    labels = np.arange(len(nodes), dtype=np.int64)
    while True:
        old = labels.copy()
        m = np.minimum(labels[iu], labels[iv])
        np.minimum.at(labels, iu, m)
        np.minimum.at(labels, iv, m)
        while True:
            nl = labels[labels]
            if np.array_equal(nl, labels):
                break
            labels = nl
        if np.array_equal(labels, old):
            break
    return nodes, nodes[labels]


def _single_task_components(pairs: DataFrame) -> DataFrame:
    """Union-find over the whole (self-loop-free, distinct) edge list in
    ONE executor task — the small-graph path. Below the gate the
    distributed star algorithm is bound by its fixed per-iteration job
    cost (O(log n) iterations x ~6 exchanges + an eager checkpoint and a
    convergence agg each), not by data; a single mapInPandas task over
    the coalesced edge list computes the identical labeling in one job
    (numpy-vectorized for integer ids, dict union-find otherwise).
    No driver data work: the edge list never leaves the executors."""
    ntype = pairs.schema["u"].dataType
    out_schema = T.StructType(
        [
            T.StructField("node", ntype, False),
            T.StructField("component", ntype, False),
        ]
    )
    vectorizable = isinstance(
        ntype, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)
    )

    def resolve(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        us, vs = [], []
        for pdf in batches:
            us.append(pdf["u"].to_numpy())
            vs.append(pdf["v"].to_numpy())
        if not us:
            return
        if vectorizable:
            u = np.concatenate(us).astype(np.int64, copy=False)
            v = np.concatenate(vs).astype(np.int64, copy=False)
            if not len(u):
                return
            nodes, comp = _np_components(u, v)
            yield pd.DataFrame({"node": nodes, "component": comp})
        else:
            edge_list = [
                (a, b)
                for ua, va in zip(us, vs)
                for a, b in zip(ua.tolist(), va.tolist())
            ]
            labels = components_oracle(edge_list)
            if labels:
                yield pd.DataFrame(
                    {"node": list(labels), "component": list(labels.values())}
                )

    return pairs.coalesce(1).mapInPandas(resolve, out_schema)


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 50,
    small_graph_max_edges: int = 8_000_000,
) -> DataFrame:
    """Resolve undirected edges into components.

    Returns one row per distinct node in ``edges`` with columns
    ``(node, component)`` where ``component`` is the smallest node id in
    the node's connected component (roots map to themselves).

    Eager: the call runs the caller's edge pipeline before it returns.
    Two local checkpoints materialize the raw edges and their distinct
    non-loop pairs, so the returned frame never re-runs the upstream.

    ``max_iterations`` is a runaway guard on the distributed path only,
    above ``small_graph_max_edges`` (the single-task kernel runs to its
    fixpoint): large-star/small-star provably converges in O(log n)
    rounds, so 50 covers any graph that fits on a cluster; hitting the
    cap raises rather than returning partial groups.

    ``small_graph_max_edges`` gates the single-task path
    (``_single_task_components``): at or below it the O(log n) machinery
    costs more in fixed per-iteration job overhead than the whole
    problem; above it the distributed star alternation runs. The 8M
    default is the measured wash point (the round-6 edge-count ladder in
    BENCH/BASELINE.md, 32 cores, OPTIMIZATION_r06.md): at 4M edges the
    vectorized single task labels in 12.9 s where the star alternation
    takes 93.7 s; at 8M the two take ~55 s vs ~51 s. Its transient memory is
    bounded (~80 bytes/edge ≈ 650 MB at the gate — an ordinary large
    task, per guide §5). Pass 0 to force the distributed path (tests
    do)."""
    # materialize the caller's edge pipeline ONCE: pairs, nodes and the
    # edge count below all read this checkpoint instead of re-running an
    # arbitrarily expensive upstream (for dedup_groups that upstream is
    # the full LSH + gram-verify pipeline) once per reference
    e0 = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).localCheckpoint(
        eager=True
    )
    pairs = e0.where(F.col("u") != F.col("v")).distinct()
    nodes = (
        e0.select(F.col("u").alias("node"))
        .union(e0.select(F.col("v").alias("node")))
        .distinct()
    )

    cur = pairs.localCheckpoint(eager=True)
    n_edges = cur.count()
    if n_edges <= small_graph_max_edges:
        stars = _single_task_components(cur)
        # the label table has up to 2x n_edges rows: broadcast only while
        # that is genuinely small — near the gate a broadcast build would
        # drag millions of rows through the driver (guide §3.1 costs);
        # past the cutoff let the planner shuffle-join the two slim sides
        if n_edges <= 1_000_000:
            stars = F.broadcast(stars)
        return nodes.join(stars, "node", "left").select(
            "node",
            F.coalesce(F.col("component"), F.col("node")).alias("component"),
        )

    prev_sig: tuple[int, int] | None = None
    for _ in range(max_iterations):
        sym = cur.union(cur.select(F.col("v").alias("u"), F.col("u").alias("v")))
        cur = _small_star(_large_star(sym)).localCheckpoint(eager=True)
        row = cur.agg(
            F.count(F.lit(1)).alias("n"),
            # decimal(38,0) accumulator: a sum of 64-bit hashes overflows
            # BIGINT under ANSI mode after a few rows of the same sign
            F.coalesce(
                F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")), F.lit(0)
            ).alias("h"),
        ).collect()[0]
        sig = (int(row["n"]), int(row["h"]))
        if sig == prev_sig:
            break
        prev_sig = sig
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} rounds"
        )

    # converged: every non-root node carries exactly one edge (node, root)
    stars = cur.select(F.col("u").alias("node"), F.col("v").alias("component"))
    return (
        nodes.join(stars, "node", "left")
        .select(
            "node",
            F.coalesce(F.col("component"), F.col("node")).alias("component"),
        )
    )


def components_oracle(edge_list: list[tuple[int, int]]) -> dict[int, int]:
    """Single-threaded union-find reference for the pytest oracle."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edge_list:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # second pass: min id per component
    comp_min: dict[int, int] = {}
    for n in list(parent):
        r = find(n)
        comp_min[r] = min(comp_min.get(r, r), n)
    return {n: comp_min[find(n)] for n in parent}
