"""Iterative graph operators — the dedup-clustering tail of the LLM-data
pipeline (near-dup PAIRS are only half the job: training-set dedup needs
the transitive closure — duplicate CLUSTERS and one canonical keeper per
cluster).

``connected_components`` is min-label propagation (the Pregel/BSP shape
every distributed graph engine uses for CC): each round a node adopts
the minimum label among itself and its neighbors; converges in at most
``diameter`` rounds. Near-dup graphs have tiny diameters (dup clusters
are dense), so 3–6 rounds is typical.

Scale shape per round: one equi-join (labels ⋈ edges on node) + one
groupBy-min — both shuffle on node id, partial-aggregable, no driver
data. The driver runs only the loop control: a ``count`` of changed
labels per round (the convergence check is inherent to iterative
algorithms — GraphX/Pregel does exactly this) and ``localCheckpoint``
to cut the growing lineage, without which the plan tree doubles every
round and the optimizer chokes long before the data does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def connected_components(
    edges: DataFrame,
    nodes: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
    max_rounds: int = 25,
) -> DataFrame:
    """(node, component): component = MIN node id reachable from node
    (deterministic canonical labels; singletons label themselves).

    ``edges`` is undirected input (each pair once is enough — it is
    symmetrized here); ``nodes`` supplies the full vertex set so
    isolated nodes appear in the output.

    Raises RuntimeError if not converged within ``max_rounds``: a chain
    longer than ``max_rounds`` needs a higher cap.
    """
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    # Materialize the (symmetrized) edge list ONCE before the loop:
    # ``edges`` may sit on an arbitrarily expensive upstream DAG (for
    # dedup clustering it is the whole shingle→minhash→band→jaccard
    # pipeline), and without this cut every round's join would recompute
    # that DAG from the scan — measured 3-4x the entire LSH pipeline at
    # sf0.1. The edge relation itself is small relative to the corpus
    # (near-dup pairs), so the checkpoint is cheap at any scale.
    sym = e.union(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).localCheckpoint(eager=True)
    # The label loop runs over EDGE-ENDPOINT nodes only: a node with no
    # edges is a fixed point (it keeps its own label forever), so
    # iterating it just re-shuffles the full vertex set every round —
    # at dedup scale the dup graph touches a sliver of the corpus, and
    # the per-round exchange must be sized to THAT, not to |corpus|.
    # Isolated nodes re-enter once, via the final left-join + coalesce
    # (the same shape the recursive-CTE oracle states).
    labels = (
        sym.select(F.col("a").alias("node")).distinct()
        .select("node", F.col("node").alias("component"))
        .localCheckpoint(eager=True)
    )
    converged = False
    for _ in range(max_rounds):
        # labels flowing one hop: neighbor's current component
        prop = (
            sym.join(labels, sym["a"] == labels["node"])
            .select(
                F.col("b").alias("node"), "component",
                # NULL here, the node's own row below carries the real
                # old label — see _old note
                F.lit(None).alias("_old"),
            )
        )
        # _old rides the node's OWN row through the min-agg (r12): each
        # node appears exactly once in `labels`, so MAX(_old) recovers
        # its previous component and the convergence check becomes a
        # filter over the (already checkpointed) new labels — the old
        # form re-joined two label-sized relations every round just to
        # compare columns.  One tiny extra column per row, one join +
        # its stage removed per round.
        new_labels = (
            labels.select(
                "node", "component", F.col("component").alias("_old")
            )
            .unionByName(prop)
            .groupBy("node")
            .agg(
                F.min("component").alias("component"),
                F.max("_old").alias("_old"),
            )
        )
        # cut lineage every round; LAZY + the convergence count below
        # materializes the blocks in the same job (r13, the
        # transitive_closure fusion — checkpointing happens at the RDD
        # layer, below the count's pruning, so full rows are stored and
        # next round's consumers read blocks).  The count is the only
        # action until the blocks exist, so nothing races.
        new_labels = new_labels.localCheckpoint(eager=False)
        changed = new_labels.filter(
            F.col("component") != F.col("_old")
        ).count()
        labels = new_labels.select("node", "component")
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_rounds} rounds"
        )
    allnodes = nodes.select(F.col(node_col).alias("node")).distinct()
    return allnodes.join(labels, "node", "left").select(
        "node",
        F.coalesce(F.col("component"), F.col("node")).alias("component"),
    )


def dedup_clusters(
    pairs: DataFrame,
    docs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-dup pairs → duplicate clusters with a canonical keeper:
    (doc_id, cluster_id, is_keeper, cluster_size). cluster_id = MIN
    doc id in the component (the same survivor policy as
    exact_dedup_groups); singleton docs keep themselves.

    Output is PER DOCUMENT ROW (the q49 oracle's ``documents LEFT JOIN
    comp`` shape), not per distinct node: duplicate ids label every
    copy, a NULL id keeps its row (NULL cluster, all NULL-id rows one
    size group — window partitioning, never a size join whose NULL key
    would silently drop the row). The dup/NULL-id probe caught the old
    per-node form diverging from the oracle on exactly those rows."""
    comp = connected_components(
        pairs, docs.select(F.col(id_col).alias("node")), src=id_a, dst=id_b,
    )
    rows = (
        docs.select(F.col(id_col))
        .join(comp, docs[id_col] == comp["node"], "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("component"), F.col(id_col)).alias("cluster_id"),
        )
    )
    w = Window.partitionBy("cluster_id")
    return rows.select(
        id_col,
        "cluster_id",
        (F.col(id_col) == F.col("cluster_id")).alias("is_keeper"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("cluster_size"),
    )


def transitive_closure(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 20,
) -> DataFrame:
    """All reachability pairs (org, cur): cur strictly downstream of
    org along directed ``edges``. Pointer doubling — each round
    composes the current reach-set with itself (R ∪ R∘R), so a
    diameter-L graph converges in ceil(log2(L)) rounds, not L: the
    D8 drainage grid (longest path ≤ 101 strictly-decreasing values)
    closes in 7 rounds where hop-at-a-time propagation needs 100.

    Cycles saturate rather than spin (every node on a cycle becomes
    reachable from itself, a finite fixpoint); the round cap guards
    pathological diameters only. The reach relation itself bounds
    memory — for functional graphs (out-degree ≤ 1, e.g. D8 flow) it
    is exactly Σ path lengths. Each round localCheckpoints: the
    join's lineage would otherwise double every iteration too.
    """
    # the convergence count doubles as the checkpoint materializer:
    # localCheckpoint(eager=False) marks the RDD and the count() that
    # follows computes it (storing full rows: checkpointing happens at
    # the RDD layer, below the count's column pruning), so each round
    # costs ONE job where eager=True + count() cost two. No consumer
    # race: the count is the only action until the blocks exist.
    r = edges.select(
        F.col(src).alias("org"), F.col(dst).alias("cur")
    ).distinct().localCheckpoint(eager=False)
    n = r.count()
    for _ in range(max_rounds):
        hop = (
            r.alias("a")
            .join(r.alias("b"), F.col("a.cur") == F.col("b.org"))
            .select(F.col("a.org").alias("org"), F.col("b.cur").alias("cur"))
        )
        r = r.unionByName(hop).distinct().localCheckpoint(eager=False)
        new_n = r.count()
        if new_n == n:
            return r
        n = new_n
    raise RuntimeError(
        f"transitive_closure did not converge in {max_rounds} rounds"
    )
