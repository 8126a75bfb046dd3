"""Iterative connected components over the verified-edge graph.

Alternating large-star / small-star (Kiveris et al., "Connected Components
in MapReduce and Beyond", SoCC'14 — public algorithm): converges in
O(log^2 n) rounds on any graph, each round a groupBy-min + join, all
JVM-side. Near-dup graphs (cliques + short chains) converge in 2-4 rounds.

Scale notes baked in:
- every iteration ends in localCheckpoint() so Catalyst's plan doesn't grow
  with the loop (lineage blow-up is the classic failure of iterative
  DataFrame jobs);
- convergence is an exact fingerprint (count + sum of pair hashes), one
  cheap aggregate per round;
- node ids are the url strings — correct at any scale; dictionary-encoding
  them to bigints is a bandwidth optimization left to the storage layer.

The reference has no clustering at all (similarity comparison there is an
O(n^2) user-side loop, notebook "Sketches..." cell 11); this stage is the
north star's addition.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _fingerprint(edges: DataFrame) -> tuple[int, int]:
    row = edges.agg(
        F.count("*").alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64("u", "v")), F.lit(0)).alias("h"),
    ).first()
    return int(row["n"]), int(row["h"])


def _large_star(edges: DataFrame) -> DataFrame:
    """For each node u: connect every neighbor v > u to min(N(u) ∪ {u})."""
    sym = edges.select("u", "v").union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
    mins = mins.select("u", F.least("mn", "u").alias("m"))
    return (
        sym.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Canonicalize edges big->small; connect each small neighbor (and the
    center) to the minimum neighbor."""
    d = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    )
    mins = d.groupBy("u").agg(F.min("v").alias("m"))
    nbr_edges = (
        d.join(mins, "u")
        .where(F.col("v") != F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    center_edges = mins.select(F.col("u"), F.col("m").alias("v"))
    return (
        nbr_edges.union(center_edges)
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def union_find_local(pairs: list[tuple[str, str]]) -> dict[str, str]:
    """Driver-side union-find with path compression — the small-graph
    physical strategy (same output contract as the distributed loop)."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by min so the root IS the component minimum
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {node: find(node) for node in parent} | {
        n: find(n) for p in pairs for n in p
    }


def connected_components_auto(
    edges: DataFrame, edge_bound: int | None = None, driver_threshold: int = 500_000
) -> tuple[DataFrame, int]:
    """Physical-strategy dispatch: below `driver_threshold` edges the graph
    fits trivially on the driver — one collect + union-find beats ~10
    shuffle jobs of the iterative loop (the analog of Catalyst picking a
    broadcast join). Above it, the distributed large-star/small-star loop.
    Identical outputs either way (cluster_id = min url of the component).

    ``edge_bound`` is an upper bound on the number of edge rows that the
    caller already knows (the pipeline passes edges-stage rows plus
    exact-stage rows from the checkpoint manifests). A bound at or below
    ``driver_threshold`` takes the driver path with no count job; a bound
    above it, or none, is only a hint, so the edges are counted and the
    exact count dispatches.

    The driver path stays on Arrow both ways: the edges come back through
    one ``toArrow()`` collect, and the labels go back as an Arrow table,
    which Spark turns into a local relation. A list of tuples would
    instead become a Python RDD whose write runs its own wave of Python
    tasks: create + write of 3000 labels measured 500-560 ms that way
    against 190-200 ms through Arrow (local[4], 4-core VM)."""
    if edge_bound is None or edge_bound > driver_threshold:
        edge_bound = edges.count()
    if edge_bound > driver_threshold:
        return connected_components(edges)
    tbl = edges.select("url_a", "url_b").toArrow()
    labels = union_find_local(
        list(zip(tbl.column("url_a").to_pylist(), tbl.column("url_b").to_pylist()))
    )
    return (
        edges.sparkSession.createDataFrame(
            pa.table(
                {
                    "url": pa.array(list(labels), pa.string()),
                    "cluster_id": pa.array(list(labels.values()), pa.string()),
                }
            )
        ),
        0,
    )


def connected_components(
    edges: DataFrame, max_iterations: int = 25
) -> tuple[DataFrame, int]:
    """edges(url_a, url_b) -> (clusters(url, cluster_id), n_iterations).

    cluster_id is the lexicographic minimum url of the component —
    deterministic, so resume/re-runs are stable.
    """
    e = (
        edges.select(F.col("url_a").alias("u"), F.col("url_b").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    prev = _fingerprint(e)
    iterations = 0
    for _ in range(max_iterations):
        # lazy checkpoint: the fingerprint action right after materializes
        # it, truncating lineage without an extra job per round
        e = _small_star(_large_star(e)).localCheckpoint(eager=False)
        iterations += 1
        cur = _fingerprint(e)
        if cur == prev:
            break
        prev = cur
    # after convergence edges form stars u -> root(=v)
    members = e.select(F.col("u").alias("url"), F.col("v").alias("cluster_id"))
    roots = e.select(F.col("v").alias("url"), F.col("v").alias("cluster_id")).distinct()
    clusters = members.union(roots).groupBy("url").agg(
        F.min("cluster_id").alias("cluster_id")
    )
    return clusters, iterations
