"""Connected components over a pair/edge list — the final stage of
near-dup dedup at scale: candidate pairs (MinHash/SimHash verified) →
duplicate *clusters* → one canonical survivor per cluster.

Algorithm: iterative min-label propagation (each node adopts the
smallest id reachable through its edges) — the dataflow form of
union-find. Per iteration: one join edges⋈labels + one min-aggregate,
both shuffles on node id; converges in O(diameter) iterations, and
near-dup graphs are overwhelmingly tiny cliques (diameter ≤ 2-3).
Iterative → rows-only driver check; exactness is pytest-verified against
a NetworkX-free union-find model.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import col

from .util import local_frame


# Edge-count bound for the driver-side path. Near-dup pair lists are
# corpus-relative tiny but not absolutely tiny at 100 TB — the bound
# keeps the collect O(1)-ish (≤ ~3 MB of longs) regardless of corpus
# size; larger graphs take the distributed iterative path.
DRIVER_CC_MAX_EDGES = 200_000


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 10,
    driver_threshold: int = DRIVER_CC_MAX_EDGES,
) -> DataFrame:
    """Return (node, component) where component = min node id in the
    connected component. Nodes appear iff they occur in an edge.

    Hybrid execution: a bounded ``limit(threshold+1).collect()`` probes
    the edge-list size; within the bound, union-find runs on the driver
    (near-dup graphs are pairs-of-near-duplicates — tiny next to the
    corpus, and the iterative path's per-round job overhead dominates
    its actual work there). Past the bound, the distributed min-label
    propagation below runs unchanged; the collect can never scale with
    corpus size because the bound caps it."""
    # One materialization for BOTH the probe and whichever path runs:
    # the upstream lineage (MinHash banding + Jaccard verification) is
    # the expensive part, and without the checkpoint the iterative
    # fallback would recompute it from scratch exactly on the large
    # graphs where it costs most. Lazy → materialized by the probe
    # action; GC-managed, so no explicit unpersist bookkeeping.
    edges = edges.select(col(src), col(dst)).localCheckpoint(eager=False)
    probe = edges.limit(driver_threshold + 1).collect()
    if len(probe) <= driver_threshold:
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for r in probe:
            a, b = r[0], r[1]
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        labels = [(node, find(node)) for node in parent]
        return local_frame(
            edges.sparkSession, labels, "node bigint, component bigint"
        )
    return _connected_components_iterative(edges, src, dst, max_iter)


def _connected_components_iterative(
    edges: DataFrame, src: str = "doc_a", dst: str = "doc_b", max_iter: int = 10
) -> DataFrame:
    """Distributed min-label propagation + pointer jumping (the
    big-graph path).

    Two disciplines that iterative Spark REQUIRES:

    - ``localCheckpoint`` (not just persist) per iteration: each round's
      plan must be TRUNCATED, or round k's logical plan nests rounds
      1..k-1 — analysis cost grows exponentially and the driver OOMs on
      deep graphs long before any executor does real work.
    - Pointer jumping (each node adopts its label's label) on top of
      neighbor-min propagation: label distance halves per round, so a
      path of diameter d converges in O(log d) rounds instead of O(d).
    """
    sym = (
        edges.select(col(src).alias("a"), col(dst).alias("b"))
        .unionByName(edges.select(col(dst).alias("a"), col(src).alias("b")))
        .distinct()
        .persist()
    )
    labels = (
        sym.select(col("a").alias("node"))
        .distinct()
        .withColumn("component", col("node"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        # each node pulls the smallest label among itself and neighbors
        propagated = (
            labels.unionByName(
                sym.join(labels, sym.b == labels.node).select(
                    col("a").alias("node"), col("component")
                )
            )
            .groupBy("node")
            .agg(F.min("component").alias("component"))
        )
        # pointer jump: adopt the label of your label (path halving)
        parents = propagated.select(
            col("node").alias("p_node"), col("component").alias("p_comp")
        )
        new_labels = (
            propagated.join(parents, propagated.component == parents.p_node, "left")
            .select(
                "node",
                F.least(
                    col("component"), F.coalesce(col("p_comp"), col("component"))
                ).alias("component"),
            )
            .localCheckpoint()  # truncate lineage; materializes eagerly
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), col("n.node") == col("o.node"))
            .filter(col("n.component") != col("o.component"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    sym.unpersist()
    return labels


def dedup_clusters(
    pairs: DataFrame, src: str = "doc_a", dst: str = "doc_b"
) -> DataFrame:
    """Cluster summary: canonical (min) id, cluster size.

    ``pairs`` is deliberately NOT persisted even though the symmetrizing
    union references it twice: the two branches share their exchanges
    (ReusedExchange), so an explicit persist just adds a materialization
    action — measured slower (9.2s vs 8.3s at sf0.1)."""
    cc = connected_components(pairs, src, dst)
    return (
        cc.groupBy("component")
        .agg(F.count(F.lit(1)).alias("cluster_size"))
        .withColumnRenamed("component", "canonical_id")
    )


def incremental_components(
    labels: DataFrame,
    new_edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Incremental connected components: fold a NEW edge batch into an
    EXISTING clustering without rematerializing historical pairs.

    Existing assignments enter the graph as STAR edges (member →
    cluster label) — connectivity-equivalent to the original pair
    graph, but exactly ONE edge per previously-clustered node. The
    union with the new batch's edges then runs through the standard
    ``connected_components``; labels converge to the same min-node-id
    components a full recompute would produce (star edges preserve
    every old member's reachability, new edges splice batches in and
    can legitimately merge two old clusters through a bridge record).

    Scale: re-resolution cost is |clustered nodes| + |new edges| — the
    historical CANDIDATE-PAIR volume (the expensive, quadratic-ish
    term) is never touched again. This is the ER twin of the
    batch-vs-corpus incremental dedup (operators/incremental.py).

    Singletons (r6 ADVICE): ``connected_components`` itself never emits
    a node without an edge, but a ``labels`` input may carry true
    singletons (node == component, no co-member) from an external
    registry. The star-edge filter would drop them, so any self-labeled
    node that ends up on NO edge is unioned back verbatim — the output
    covers every labeled node plus every node touched by a new edge.

    ``labels`` is traversed twice (star edges + the singleton check),
    so it is lazily checkpointed — the er_blocking_recall shared-frame
    discipline; measured ~0.4s faster than re-evaluating even the
    driver-path ``createDataFrame`` input at sf0.1.
    """
    labels = labels.select("node", "component").localCheckpoint(eager=False)
    star = labels.filter(col("node") != col("component")).select(
        col("node").alias(src), col("component").alias(dst)
    )
    resolved = connected_components(
        star.unionByName(new_edges.select(col(src), col(dst))), src=src, dst=dst
    )
    # match-graph-sized anti-join side (the same broadcast discipline as
    # the golden-record survivorship's CC label table) — the singleton
    # check never shuffles the labels input.
    singletons = (
        labels.filter(col("node") == col("component"))
        .join(F.broadcast(resolved.select("node")), "node", "left_anti")
        .select("node", "component")
    )
    return resolved.unionByName(singletons)
