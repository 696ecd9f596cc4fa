"""Graph connected components over pair lists + dedup clustering.

Near-duplicate pair generators emit EDGES; turning edges into
KEEP/DROP decisions needs the transitive closure: cluster = connected
component, canonical = min id per cluster (the standard keep-one
policy in training-data dedup).

Spark shape: iterative min-label propagation on the edge list —
  label(u) <- min(label(u), min_{(u,v) in E} label(v))
— followed by a POINTER-JUMPING shortcut each round —
  label(u) <- label(label(u))
repeated until a fixed point. Each round is two joins + min
aggregations (a constant number of shuffles); the shortcut halves the
remaining label-chain depth every round, so rounds = O(log diameter)
instead of O(diameter) — a path graph of 10^6 nodes converges in ~20
rounds, not 10^6 (the Shiloach-Vishkin / large-star contraction idea).
Near-dup graphs are dense clusters with tiny diameters (LSH verify
emits near-cliques), so convergence is typically 2-4 rounds either
way; the shortcut is what keeps pathological chains inside the round
cap at corpus scale. Each round's labels are localCheckpoint()ed —
caching alone is NOT enough for iterative plans: the logical plan
doubles per round (labels referenced twice) and plan construction
itself OOMs by round ~30; checkpointing truncates lineage so both
plan size and memory stay O(V).

This is the same seam-equivalence/min-label machinery as the raster
components operator (operators/components.py) specialized to an
arbitrary pair list instead of tile adjacency.

Reference analog: the reference has no explicit dedup stage (its
inputs are curated satellite tiles); this operator serves SURVEY.md's
training-data-pipeline surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _components_driver(sym_pdf) -> tuple:
    """Vectorized union-find over a (u, v) edge frame: iterate
    edge-relax (label <- min over neighbors, np.minimum.at scatter)
    then full pointer-doubling compression, to the fixed point. Labels
    only decrease, so termination is guaranteed; result is the same
    min-reachable-id labeling the distributed loop converges to."""
    import numpy as np

    u = sym_pdf["u"].to_numpy()
    v = sym_pdf["v"].to_numpy()
    # np.unique sorts, so index order == id order: the min INDEX label
    # maps back to the min reachable ID
    ids, inv = np.unique(np.concatenate([u, v]), return_inverse=True)
    ui, vi = inv[: len(u)], inv[len(u) :]
    lab = np.arange(len(ids))
    while True:
        np.minimum.at(lab, ui, lab[vi])
        while True:
            nl = lab[lab]
            if np.array_equal(nl, lab):
                break
            lab = nl
        if np.array_equal(lab[ui], lab[vi]):
            break
    return ids, ids[lab]


def connected_components_pairs(
    edges: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_rounds: int = 25,
    small_graph_edges: int = 2_000_000,
) -> DataFrame:
    """Edge list -> (node_id, cluster_id) with cluster_id = min node id
    reachable (undirected). Isolated nodes don't appear in the edge
    list and therefore not in the output — union them in as singleton
    clusters at the call site if needed.

    Physical strategy is auto-picked (the broadcast_polys="auto"
    pattern): once the symmetrized edge list is materialized, a single
    count decides between (a) a driver-side vectorized union-find when
    it fits comfortably in driver memory (each distributed round costs
    ~3 shuffle jobs of fixed latency, so a 12-round convergence on a
    tiny graph pays ~10 s of pure scheduling that the driver path does
    in milliseconds), and (b) the distributed min-label + pointer-jump
    loop for corpus-scale graphs. Both paths produce the identical
    labeling (pinned by tests/test_graph.py); set small_graph_edges=0
    to force the distributed loop."""
    sym = (
        edges.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
        .unionByName(
            edges.select(F.col(b_col).alias("u"), F.col(a_col).alias("v"))
        )
        .distinct()
    )
    sym = sym.localCheckpoint(eager=False)
    if small_graph_edges and sym.count() <= small_graph_edges:
        import pandas as pd

        ids, cl = _components_driver(sym.toPandas())
        spark = sym.sparkSession
        out_pdf = pd.DataFrame({"node_id": ids, "cluster_id": cl})
        schema = sym.select(
            F.col("u").alias("node_id"), F.col("u").alias("cluster_id")
        ).schema
        return spark.createDataFrame(out_pdf, schema)
    labels = (
        sym.groupBy("u")
        .agg(F.min("v").alias("nbr_min"))
        .select("u", F.least("u", "nbr_min").alias("label"))
        .localCheckpoint(eager=True)
    )

    converged = False
    for _ in range(max_rounds):
        # propagate: each node's new label = min(own, neighbors' labels)
        nbr = (
            sym.join(labels.withColumnRenamed("u", "v"), "v")
            .groupBy("u")
            .agg(F.min("label").alias("nbr_label"))
        )
        prop = labels.join(nbr, "u", "left").select(
            "u",
            F.least("label", F.coalesce("nbr_label", "label")).alias("label"),
        )
        # pointer jumping: label(u) <- label(label(u)). Labels always
        # point at smaller-or-equal node ids, so chasing one extra hop
        # per round halves the remaining chain depth — O(log diameter)
        # rounds total (the Shiloach-Vishkin shortcut). The self-join
        # keys the probe side on `label`, hot inside large converged
        # clusters; AQE skew-join splits those partitions (the build
        # side is unique per node id).
        lab2 = prop.select(
            F.col("u").alias("_lt"), F.col("label").alias("_l2")
        )
        # carry a `moved` flag so convergence costs no extra join: the
        # checkpointed round output already knows whether it changed
        jumped = F.least("label", F.coalesce("_l2", "label"))
        new_labels = (
            prop.join(lab2, F.col("label") == F.col("_lt"), "left")
            .join(
                labels.select("u", F.col("label").alias("_old")), "u"
            )
            .select(
                "u",
                jumped.alias("label"),
                (jumped != F.col("_old")).alias("moved"),
            )
            .localCheckpoint(eager=True)
        )
        changed = new_labels.filter("moved").limit(1).count()
        labels = new_labels.drop("moved")
        if changed == 0:
            converged = True
            break
    if not converged:
        # exiting via the round cap means labels are still moving: one
        # dup cluster would be silently split into several and
        # keep_canonical would retain multiple members. Fail loudly,
        # matching operators/components.py global_components.
        raise RuntimeError(
            f"connected_components_pairs did not converge within "
            f"{max_rounds} rounds (graph diameter exceeds the cap); "
            f"raise max_rounds"
        )
    return labels.select(
        F.col("u").alias("node_id"), F.col("label").alias("cluster_id")
    )


def dedup_clusters(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
) -> DataFrame:
    """Near-dup pairs -> (node_id, cluster_id, is_canonical): canonical
    = the cluster's min id (deterministic keep-one)."""
    comp = connected_components_pairs(pairs, a_col, b_col)
    return comp.select(
        "node_id",
        "cluster_id",
        (F.col("node_id") == F.col("cluster_id")).alias("is_canonical"),
    )


def keep_canonical(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "id_a",
    b_col: str = "id_b",
) -> DataFrame:
    """Drop every non-canonical member of each near-dup cluster: docs
    LEFT ANTI JOIN the drop set (one broadcast-able side if the dup
    fraction is small — the common case)."""
    drops = dedup_clusters(pairs, a_col, b_col).filter(
        ~F.col("is_canonical")
    ).select(F.col("node_id").alias(id_col))
    return docs.join(drops, id_col, "left_anti")


def keep_best(
    docs: DataFrame,
    pairs: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
    a_col: str = "id_a",
    b_col: str = "id_b",
    ascending: bool = False,
) -> DataFrame:
    """Quality-aware keep-one: within each near-dup cluster keep the
    member with the BEST score (max by default; ascending=True keeps
    the min — e.g. when scoring by noise). What production image dedup
    actually does: among perceptual-hash duplicates, keep the sharpest
    copy, not the smallest id. NULL scores lose to any non-NULL score;
    ties (and all-NULL clusters) break on ascending id, so the choice
    is total and deterministic.

    Plan & scale: cluster labels from the same min-label components
    pass as keep_canonical, then ONE aggregation keyed on cluster_id
    picking argmin/argmax via min(struct(...)) — map-side combinable,
    no window over the full corpus — and a left-anti join of the drop
    set. Non-clustered documents never enter the aggregation."""
    comp = dedup_clusters(pairs, a_col, b_col).select(
        F.col("node_id").alias(id_col), "cluster_id"
    )
    members = comp.join(
        docs.select(id_col, F.col(score_col).alias("_score")), id_col
    )
    # orderable key: (score missing?, +/-score, id) — min(struct) picks
    # non-NULL first, then best score, then smallest id
    s = F.col("_score").cast("double")
    key = F.struct(
        F.when(s.isNull(), F.lit(1)).otherwise(F.lit(0)).alias("m"),
        F.coalesce(s if ascending else -s, F.lit(0.0)).alias("s"),
        F.col(id_col).alias("i"),
    )
    best = (
        members.groupBy("cluster_id")
        .agg(F.min(key).alias("_best"))
        .select(F.col("_best")["i"].alias("_keep_id"))
    )
    drops = members.join(
        best, members[id_col] == best["_keep_id"], "left_anti"
    ).select(id_col)
    return docs.join(drops, id_col, "left_anti")
