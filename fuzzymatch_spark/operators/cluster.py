"""Connected components through a two-level spanning-forest fold.

No reference counterpart — the reference returns flat ranked lists;
clustering is required by the north rule.  Labels are deterministic:
cluster_id = min(node id) in the component, which is unique, so any exact
engine yields the same labels.

``fold_components`` is the one CC engine: a per-partition vectorized
contraction to a spanning forest, then a single-task fold of that forest —
two jobs and no convergence rounds.  Only when the forest outgrows one
task does ``label_prop_components`` (min-label propagation over the O(V)
forest) finish it.  Large-star/small-star rounds (Kiveris et al.) and a
batch-local union-find pre-pass were measured slower at every probed scale
and removed; the A/B history is in BENCH.md.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def label_prop_components(
    edges_df: DataFrame,
    a_col: str = "a_id",
    b_col: str = "b_id",
    max_iter: int = 12,
) -> DataFrame:
    """Min-label propagation CC — the fold's finish for forests too large
    for one task.

    The bidirectional edge table is persisted ONCE; each iteration then
    moves only labels: join labels to edges, groupBy the destination with a
    map-side-combined ``min`` — per-iteration exchange volume is
    O(distinct dst per map partition), not O(E).  Labels start as node
    ids and monotonically decrease to the component minimum, so
    convergence is an exact one-aggregate check (the decimal-summed
    label total stops decreasing — no join needed).

    Recorded negatives (BENCH.md): pre-shuffling the edge table by source
    so every iteration reuses that exchange lost locally (16.7 s vs 12.5 s
    at sf1), since AQE broadcasts the label table anyway; pointer jumping
    (label(v) <- label(label(v))) cuts iterations 8 -> 6 but its extra
    per-iteration join costs more than the rounds it saves (19.0 s vs
    12.6 s).

    Propagation moves one hop per iteration, so diameter-D components
    need ~D iterations; if ``max_iter`` is hit, the remaining (rare,
    high-diameter) structure is finished EXACTLY by folding the
    label-contracted edge set (``fold_components``) and composing the
    mappings.  Not converging means some label moved, so the contracted
    graph has strictly fewer nodes and the recursion ends.  Output is
    (node, cluster_id), identical to the fold's for every input.
    """
    from pyspark import StorageLevel

    edges = (
        edges_df.select(F.col(a_col).alias("s"), F.col(b_col).alias("d"))
        .filter(F.col("s") != F.col("d"))
    )
    bid = edges.unionAll(
        edges.select(F.col("d").alias("s"), F.col("s").alias("d"))
    ).persist(StorageLevel.MEMORY_AND_DISK)
    labels = bid.select(F.col("s").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )

    def label_sum(lab: DataFrame) -> int:
        # labels only ever decrease per node, so a stable exact sum means
        # a fixed point; decimal(38,0) keeps the sum overflow-safe
        return int(
            lab.agg(
                F.coalesce(
                    F.sum(F.col("label").cast("decimal(38,0)")), F.lit(0)
                ).alias("t")
            ).collect()[0]["t"]
        )

    prev_sum = None
    converged = False
    for _ in range(max_iter):
        prop = bid.join(labels, bid["s"] == labels["node"]).select(
            F.col("d").alias("node"), "label"
        )
        labels = (
            prop.unionByName(labels)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            .localCheckpoint(eager=False)  # cut the iterative lineage
        )
        cur = label_sum(labels)
        if cur == prev_sum:
            converged = True
            break
        prev_sum = cur

    if not converged:
        # exact finish: contract edges through the current labels and fold
        # the remaining high-diameter structure
        la = labels.select(
            F.col("node").alias("s"), F.col("label").alias("la")
        )
        lb = labels.select(
            F.col("node").alias("d"), F.col("label").alias("lb")
        )
        contracted = edges.join(la, "s").join(lb, "d").select(
            F.col("la").alias("a_id"), F.col("lb").alias("b_id")
        )
        super_labels = fold_components(contracted)
        labels = (
            labels.join(
                super_labels.withColumnRenamed("node", "label"),
                on="label",
                how="left",
            )
            .select(
                "node",
                F.coalesce("cluster_id", "label").alias("label"),
            )
        )
    bid.unpersist()
    return labels.select("node", F.col("label").alias("cluster_id"))


def _np_min_labels(ea, eb, n: int):
    """Vectorized min-label propagation with pointer doubling over a
    position-encoded edge list: labels are INDICES into the sorted node
    array, start as self, and monotonically decrease to the component's
    minimum position (= minimum id, since positions sort like ids).

    Each sweep is O(E + V) in C (``np.minimum.at`` scatter + one
    ``label[label]`` gather); hash-to-min with doubling converges in
    O(log diameter) sweeps.  At a fixed point every edge has equal labels
    at both ends and label == label[label], so the shared label is the
    component min.  Exact for any graph; no Python-level loop over edges.
    """
    import numpy as np

    label = np.arange(n, dtype=np.int64)
    while True:
        m = np.minimum(label[ea], label[eb])
        new = label.copy()
        np.minimum.at(new, ea, m)
        np.minimum.at(new, eb, m)
        new = np.minimum(new, new[new])
        if np.array_equal(new, label):
            return label
        label = new


def _forest_contract(drop_roots: bool, out_cols: tuple[str, str]):
    """mapInPandas kernel: contract ALL edges of a partition (accumulated
    across its Arrow batches) to the (node -> component-min) spanning
    mapping via ``_np_min_labels``.  ``drop_roots`` omits self-labeled rows
    (forest form, for the first level); keeping them yields the full label
    table (final level).  Emits in 500k-row chunks to bound Arrow batch
    size."""
    import numpy as np
    import pandas as pd

    def fn(batches):
        heads, tails = [], []
        for pdf in batches:
            heads.append(pdf.iloc[:, 0].to_numpy())
            tails.append(pdf.iloc[:, 1].to_numpy())
        if not heads:
            return
        a = np.concatenate(heads)
        b = np.concatenate(tails)
        if len(a) == 0:
            return
        nodes, inv = np.unique(np.concatenate([a, b]), return_inverse=True)
        label = _np_min_labels(inv[: len(a)], inv[len(a) :], len(nodes))
        if drop_roots:
            keep = label != np.arange(len(nodes), dtype=np.int64)
            out = pd.DataFrame(
                {out_cols[0]: nodes[keep], out_cols[1]: nodes[label[keep]]}
            )
        else:
            out = pd.DataFrame({out_cols[0]: nodes, out_cols[1]: nodes[label]})
        for i in range(0, len(out), 500_000):
            yield out.iloc[i : i + 500_000]

    return fn


def fold_components(
    edges_df: DataFrame,
    a_col: str = "a_id",
    b_col: str = "b_id",
    single_task_max_edges: int = 20_000_000,
    checkpoint_fn=None,
) -> DataFrame:
    """Two-level spanning-forest fold CC; returns (node, cluster_id) for
    every linked node, cluster_id = min node id of its component.

    Iterative engines pay O(log n) driver-synchronized rounds (each:
    shuffles + a convergence action); at sub-huge edge volumes that ROUND
    LATENCY is the whole cost (measured: CC was 9.5 s of q1's 12.4 s at
    sf0.1 — 73 Spark jobs for 948k edges among 5k nodes).  The fold does
    exactly two levels and ZERO convergence actions:

      1. per-partition contraction (``mapInPandas``, no shuffle): each
         task runs the vectorized min-label kernel over ITS edges and
         emits its spanning forest (node -> partition-local component
         min), size <= #distinct nodes in the partition — edge-set volume
         collapses from O(E) to O(V) in one distributed pass;
      2. the forest edges (every linked node appears: non-roots as
         sources, roots as targets of their children) repartition(1) into
         a single task that runs the same kernel once more — its output
         IS the exact global (node, component-min) label table, because a
         per-partition spanning forest plus shared nodes across
         partitions preserves connectivity exactly.

    The single-task finish is the deliberate scale tradeoff: level-2 input
    is O(linked nodes), NOT O(E), and the kernel is C-speed numpy — fine
    up to tens of millions of nodes.  Above ``single_task_max_edges``
    (counted on the materialized forest — a cheap job on already-shrunk
    data) the forest is handed to ``label_prop_components`` instead, whose
    labels over the forest equal labels over the original graph (same
    connectivity, same node set), so the operator is exact at EVERY scale.

    Level 1 is materialized once, where its work is needed regardless:
    the guard count and level 2 read the stored forest, and the caller's
    DAG is never re-executed.  By default that is an eager
    ``localCheckpoint``, which keeps the forest on executors — on a real
    cluster an executor loss between the levels fails the job and a resubmit
    re-runs level 1.  ``checkpoint_fn(forest, 0) -> DataFrame`` replaces it;
    the staged pipeline passes a parquet writer (plans/pipeline.py), so the
    forest lands on durable storage and no ``localCheckpoint`` is left
    behind.
    """
    edges = edges_df.select(
        F.col(a_col).alias("a"), F.col(b_col).alias("b")
    ).filter(F.col("a") != F.col("b"))
    id_type = dict(edges.dtypes)["a"]
    forest = edges.mapInPandas(
        _forest_contract(True, ("a", "b")), schema=f"a {id_type}, b {id_type}"
    )
    if checkpoint_fn is None:
        forest = forest.localCheckpoint(eager=True)
    else:
        forest = checkpoint_fn(forest, 0)
    if forest.count() > single_task_max_edges:
        return label_prop_components(forest, a_col="a", b_col="b")
    return forest.repartition(1).mapInPandas(
        _forest_contract(False, ("node", "cluster_id")),
        schema=f"node {id_type}, cluster_id {id_type}",
    )


def cluster_assignments(
    verified_edges: DataFrame,
    all_ids: DataFrame,
    id_col: str = "id",
    method: str = "fold",
    **kwargs,
) -> DataFrame:
    """Cluster labels for every row: component min for linked nodes,
    self-label for singletons.

    Components come from ``fold_components``, which ``kwargs`` go to
    (``a_col``, ``b_col``, ``single_task_max_edges``, ``checkpoint_fn``).
    The fold was measured fastest at every probed scale (1.1 s vs star
    rounds' 6.3 s at 948k edges, 5.8 s vs label propagation's 26 s at
    9.2M; BENCH.md) with identical labels, so ``method`` accepts only
    'fold'.
    """
    if method != "fold":
        raise ValueError(
            f"method={method!r}: the 'auto', 'star' and 'labelprop' CC "
            "strategies were removed; 'fold' is the only engine"
        )
    comps = fold_components(verified_edges, **kwargs)
    return (
        all_ids.select(F.col(id_col).alias("node"))
        .join(comps, on="node", how="left")
        .select(
            F.col("node").alias(id_col),
            F.coalesce(F.col("cluster_id"), F.col("node")).alias("cluster_id"),
        )
    )


def cluster_size_histogram(
    clusters_df: DataFrame, cluster_col: str = "cluster_id"
) -> DataFrame:
    """Dedup pipeline report: the duplicate-cluster size distribution —
    (cluster_size, n_clusters, n_docs) per size.  The number a pipeline
    owner actually reads: how much of the corpus is duplicated, and whether
    a boilerplate mega-cluster exists.

    Two narrow aggregations (cluster -> size, size -> counts), both
    map-side partial-aggregated; output is O(distinct sizes) rows — at
    10^12 inputs the result still fits on a screen.
    """
    sizes = clusters_df.groupBy(cluster_col).agg(
        F.count("*").alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count("*").cast("long").alias("n_clusters"),
        F.sum("cluster_size").cast("long").alias("n_docs"),
    ).select(
        F.col("cluster_size").cast("long").alias("cluster_size"),
        "n_clusters", "n_docs",
    )


def canonical_corpus(
    docs_df: DataFrame,
    clusters_df: DataFrame,
    id_col: str = "doc_id",
    cluster_col: str = "cluster_id",
) -> DataFrame:
    """The dedup pipeline's END PRODUCT: the corpus with one representative
    row per duplicate cluster.

    ``cluster_id`` is the minimum member id by construction
    (``fold_components`` labels components by min node), so the
    representative of every cluster is exactly the row whose id equals its
    cluster id — survivor selection is a single equi-join plus a JVM
    predicate, no aggregation.  At 10^12 rows both sides are partitioned by
    id; the join is the only shuffle and ships ids only.

    ``clusters_df`` should be ``cluster_assignments`` output (one row per
    doc, singletons self-labeled).  Raw ``fold_components`` output
    (linked nodes only) is tolerated defensively: docs with NO cluster row
    are singletons and kept — an inner join here would silently drop every
    non-duplicated doc from the "canonical corpus".
    """
    labels = clusters_df.select(id_col, cluster_col)
    return (
        docs_df.join(labels, on=id_col, how="left")
        .filter(
            F.col(cluster_col).isNull()
            | (F.col(cluster_col) == F.col(id_col))
        )
        .drop(cluster_col)
    )


def cluster_agreement(
    assign_a: DataFrame,
    assign_b: DataFrame,
    id_col: str = "id",
    a_col: str = "cluster",
    b_col: str = "cluster",
) -> DataFrame:
    """Pair-counting agreement between two clusterings of the same items:
    Rand index and Adjusted Rand Index (Hubert & Arabie 1985).

    The north rule scores "matching the reference's cluster assignments";
    this is that check as an operator — run it between an approximate
    clustering (LSH-derived, IVF cells) and an exact/reference one.

    Everything reduces to ONE contingency aggregation: join the two
    assignments on id (equi-join; at scale both sides are already
    partitioned by id from their producing jobs), count the (a, b) label
    cells, and fold C(n,2) sums — counts are map-side combinable,
    nothing is collected, output is a single row.  Ratios are rounded to
    6 decimals for cross-engine comparison.
    """
    a = assign_a.select(F.col(id_col).alias("id"), F.col(a_col).alias("ca"))
    b = assign_b.select(F.col(id_col).alias("id"), F.col(b_col).alias("cb"))
    cells = (
        a.join(b, "id")
        .groupBy("ca", "cb")
        .agg(F.count("*").alias("nij"))
    )

    def c2(x):
        return (x * (x - 1) / 2).cast("double")

    stats = cells.agg(
        F.sum("nij").cast("long").alias("n_items"),
        F.sum(c2(F.col("nij"))).alias("s"),
    )
    sa = (
        cells.groupBy("ca").agg(F.sum("nij").alias("ai"))
        .agg(F.sum(c2(F.col("ai"))).alias("sa"))
    )
    sb = (
        cells.groupBy("cb").agg(F.sum("nij").alias("bj"))
        .agg(F.sum(c2(F.col("bj"))).alias("sb"))
    )
    j = stats.crossJoin(F.broadcast(sa)).crossJoin(F.broadcast(sb))
    t = c2(F.col("n_items"))
    # Degenerate inputs make the textbook formulas 0/0 — Spark would emit
    # NULL (or abort under ANSI) while DuckDB floats give NaN, so the two
    # engines diverge exactly when the metric is undefined.  Pin the
    # standard conventions explicitly, on BOTH the operator and the
    # oracle: n < 2 items -> both indices 1.0; ARI denominator 0 (e.g.
    # both clusterings all-singletons or all-one-cluster) -> ARI 1.0.
    expected = F.col("sa") * F.col("sb") / F.when(t == 0, F.lit(1.0)).otherwise(t)
    denom = (F.col("sa") + F.col("sb")) / 2 - expected
    rand_ix = F.when(t == 0, F.lit(1.0)).otherwise(
        F.round((t + 2 * F.col("s") - F.col("sa") - F.col("sb")) / t, 6)
    )
    ari = F.when((t == 0) | (denom == 0), F.lit(1.0)).otherwise(
        F.round((F.col("s") - expected) / denom, 6)
    )
    return j.select(
        "n_items",
        F.col("s").cast("long").alias("agree_both"),
        rand_ix.alias("rand_index"),
        ari.alias("adjusted_rand"),
    )
