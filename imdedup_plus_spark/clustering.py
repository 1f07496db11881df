"""Stage 1c — duplicate clusters via iterative min-label propagation.

The reference chains target -> best-earlier-base greedily within a batch
(``/root/reference/2df.c:459-498``), which implicitly builds base/target
chains. We make the grouping explicit and order-free: connected components
over the verified-pair graph, cluster id = min(id) of the component
(deterministic representative, SURVEY.md §7 M4).

Algorithm: min-label propagation — each node starts labeled with itself;
every iteration each node takes the min of its own label and its neighbors'
labels; converged when no label changes. Iterations are bounded by the
component diameter; dedup components are variant fan-outs (tiny diameter),
so a handful of iterations suffices. ``localCheckpoint`` every iteration
cuts the lineage chain (otherwise plan depth grows linearly and the driver
OOMs planning at scale).

Scale notes (100 TB): each iteration is one shuffle (groupBy dst). The edge
list is |verified pairs| * 2 — tiny relative to the corpus. For adversarial
graph shapes (long chains) ``connected_components_star`` implements
alternating large-star/small-star (O(log^2 n) rounds, any diameter) behind
``clusters_from_pairs(..., algorithm="star")``; for web dedup the simple
variant converges in < 5 iterations and stays the default.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str,
    max_iter: int = 25,
    checkpoint_every: int = 1,
) -> DataFrame:
    """(id, cluster_id) for every node; singleton -> its own id.

    ``nodes``: one column ``id_col``; ``edges``: columns ``id_a``, ``id_b``
    (undirected, any orientation).
    """
    spark = nodes.sparkSession
    # The dup subgraph is tiny next to the corpus (pairs only), but each
    # iteration is 2 shuffles + a checkpoint + a convergence count; with
    # the session's corpus-sized spark.sql.shuffle.partitions every tiny
    # stage pays hundreds of empty tasks. Size the CC shuffles by the
    # cluster, not the corpus, and restore the setting afterwards.
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    cc_parts = max(2 * spark.sparkContext.defaultParallelism, 8)
    spark.conf.set("spark.sql.shuffle.partitions", str(min(int(old_parts), cc_parts)))
    try:
        return _connected_components_inner(
            nodes, edges, id_col, max_iter, checkpoint_every
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)


def _connected_components_inner(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str,
    max_iter: int,
    checkpoint_every: int,
) -> DataFrame:
    spark = nodes.sparkSession
    cc_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    sym = (
        edges.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .union(edges.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct()
        # hash-partition the (static) edge list by join key ONCE; every
        # iteration's join then only moves the (smaller) label side —
        # EnsureRequirements recognizes the existing hashpartitioning
        .repartition(cc_parts, "src")
    )
    labels = nodes.select(F.col(id_col).alias("id"), F.col(id_col).alias("label"))
    labels = labels.localCheckpoint(eager=True)
    sym = sym.localCheckpoint(eager=True)

    for it in range(max_iter):
        neigh = (
            sym.join(labels, sym.src == labels.id, "inner")
            .select(F.col("dst").alias("id"), F.col("label"))
            .groupBy("id")
            .agg(F.min("label").alias("nlabel"))
        )
        new_labels = (
            labels.join(neigh, "id", "left")
            .select(
                "id",
                F.least(F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))).alias(
                    "new_label"
                ),
                F.col("label").alias("old_label"),
            )
        )
        if (it + 1) % checkpoint_every == 0:
            new_labels = new_labels.localCheckpoint(eager=True)
        changed = new_labels.where(F.col("new_label") != F.col("old_label")).limit(1).count()
        labels = new_labels.select("id", F.col("new_label").alias("label"))
        if changed == 0:
            break
    else:
        # the last allowed round still moved a label: the labels are not
        # components yet, and returning them would split clusters silently
        raise RuntimeError(
            f"min-label connected components did not converge in {max_iter} "
            "rounds (the pair graph has a longer path); rerun with "
            'cc_algorithm="star" (O(log^2 n) rounds) or a larger max_iter'
        )

    return labels.select(F.col("id").alias(id_col), F.col("label").alias("cluster_id"))


def connected_components_star(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str,
    max_iter: int = 50,
    stats: dict | None = None,
) -> DataFrame:
    """Alternating large-star/small-star connected components (the
    MapReduce CC algorithm of Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC'14) — converges in O(log^2 n) ROUNDS
    regardless of component shape, where min-label propagation needs
    O(diameter) iterations.

    This is the adversarial-graph escape hatch named in the module
    docstring, behind a flag rather than the default: web-dedup
    components are shallow variant fan-outs where min-label converges in
    < 5 rounds with fewer shuffles per round. Switch
    (``clusters_from_pairs(..., algorithm="star")``) when the pair graph
    contains long chains (e.g. chained near-dup edits A~B~C~...~Z where
    consecutive docs pair but distant ones don't).

    Per round: large-star hangs every neighbor larger than ``u`` off
    ``min(N(u) + u)``, halving tree heights; small-star re-points every
    smaller neighbor at the local min. Both are one groupBy + one join
    over the CURRENT edge set (which only shrinks toward the star
    forest), so each round costs a bounded number of dup-subgraph-sized
    shuffles. Converged when the canonical edge set is stable; at that
    point every node has a direct edge to its component min.

    ``stats``, if given, receives {"rounds": <int>} — used by the
    adversarial-chain test to prove bounded round counts.
    """
    spark = nodes.sparkSession
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    cc_parts = max(2 * spark.sparkContext.defaultParallelism, 8)
    spark.conf.set("spark.sql.shuffle.partitions", str(min(int(old_parts), cc_parts)))
    try:
        return _connected_components_star_inner(nodes, edges, id_col, max_iter, stats)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)


def _connected_components_star_inner(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str,
    max_iter: int,
    stats: dict | None,
) -> DataFrame:
    # canonical orientation (u > v), self-loops dropped
    e = (
        edges.select(
            F.greatest("id_a", "id_b").alias("u"), F.least("id_a", "id_b").alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        # --- large-star: over the symmetric adjacency, attach every
        # neighbor v > u to m = min(N(u) + u) ---
        adj = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = adj.groupBy("u").agg(F.min("v").alias("mn"))
        mins = mins.select("u", F.least("u", "mn").alias("m"))
        e1 = (
            adj.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(
                F.greatest("v", "m").alias("u"), F.least("v", "m").alias("v")
            )
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        # --- small-star: neighbors of u are all < u here; re-point each
        # at m = min(N(u)), and u itself at m ---
        mins2 = e1.groupBy("u").agg(F.min("v").alias("m"))
        new_e = (
            e1.join(mins2, "u")
            .where(F.col("v") != F.col("m"))
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .union(mins2.select(F.col("u").alias("a"), F.col("m").alias("b")))
            .select(F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        unchanged = (
            new_e.exceptAll(e).limit(1).count() == 0
            and e.exceptAll(new_e).limit(1).count() == 0
        )
        e = new_e
        if unchanged:
            break
    if stats is not None:
        stats["rounds"] = rounds
    # converged star forest: every non-min node has a direct (u, min)
    # edge; belt-and-braces, label = min over incident edges either way
    adj = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    node_min = adj.groupBy("u").agg(F.min("v").alias("mn"))
    return (
        nodes.select(F.col(id_col))
        .join(node_min.withColumnRenamed("u", id_col), id_col, "left")
        .select(
            F.col(id_col),
            F.least(F.col(id_col), F.coalesce("mn", F.col(id_col))).alias("cluster_id"),
        )
    )


def clusters_from_pairs(
    valid_docs: DataFrame,
    verified_pairs: DataFrame,
    id_col: str,
    max_iter: int = 25,
    algorithm: str = "minlabel",
) -> DataFrame:
    """Cluster every valid document; docs in no pair become singletons.

    Scale shape: the iterative part runs ONLY over pair members (a tiny
    fraction of a web corpus); the singleton majority joins the result via
    one left-anti pass at the end. At 10^12 docs this is the difference
    between shuffling the corpus per CC iteration and shuffling just the
    duplicate subgraph.
    """
    # materialize the pair list once: it feeds three consumers (members,
    # symmetric edges, singleton anti-join) and may be an expensive
    # un-checkpointed plan when called outside the checkpointed pipeline
    verified_pairs = verified_pairs.select("id_a", "id_b").localCheckpoint(eager=True)
    members = (
        verified_pairs.select(F.col("id_a").alias(id_col))
        .union(verified_pairs.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    cc = connected_components if algorithm == "minlabel" else connected_components_star
    member_clusters = cc(members, verified_pairs, id_col, max_iter=max_iter)
    singletons = (
        valid_docs.select(id_col)
        .distinct()
        .join(members, id_col, "left_anti")
        .select(F.col(id_col), F.col(id_col).alias("cluster_id"))
    )
    return member_clusters.unionByName(singletons)


def cluster_sizes(clusters: DataFrame) -> DataFrame:
    return clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )


def cluster_keepers(
    members: DataFrame,
    id_col: str,
    quality_col: str = "quality_permille",
    broadcast_keepers: bool = False,
) -> DataFrame:
    """Flag the SURVIVOR of each dup cluster: argmax(quality desc, id asc)
    per cluster_id, every member row emitted with a keep/drop flag (the
    delete-list a training pipeline feeds downstream is the keep=0 slice).
    The training-data analog of the reference's best-base vote
    (/root/reference/2df.c:459-498 picks the delta BASE; this picks which
    member survives elimination).

    ``members``: (id_col, cluster_id, quality_col) — one row per doc.

    Scale shape (why this is an aggregate, not a window): a
    ``row_number().over(partitionBy(cluster_id).orderBy(...))`` sorts every
    member row of each cluster inside one task — a mega boilerplate cluster
    (the exact skew the candidate tier defends against) lands whole in one
    window partition. Here the argmax is a ``groupBy.agg(max_by)``:
    partial aggregation reduces each task's slice of the mega cluster to
    ONE candidate row before the shuffle, so the skewed key moves k rows
    (k = tasks), not its membership. The join-back on cluster_id uses a
    shuffle-hash hint (no sort; AQE splits any residual skewed partition)
    — or a broadcast when the caller knows the cluster count is small
    (``broadcast_keepers=True``). In general the keeper table is
    cluster-count-sized (~corpus order once singletons exist), so the
    guarded-shuffle form is the 10^12-doc default.

    max_by's key is ``struct(quality, -id)``: struct comparison is
    lexicographic, so max quality wins, then min id — identical to the
    oracle's ``row_number() OVER (ORDER BY quality DESC, id ASC) = 1``.

    ``members`` feeds BOTH the aggregate and the join-back: pass a
    materialized frame (table scan / checkpoint, as pipeline stages do)
    or its lineage computes twice.
    """
    keepers = members.groupBy("cluster_id").agg(
        F.max_by(
            F.col(id_col),
            F.struct(
                F.col(quality_col).alias("q"),
                (-F.col(id_col)).alias("neg_id"),
            ),
        ).alias("keeper_id")
    )
    if broadcast_keepers:
        keepers = F.broadcast(keepers)
    else:
        keepers = keepers.hint("shuffle_hash")
    return members.join(keepers, "cluster_id").select(
        F.col(id_col),
        "cluster_id",
        F.col(quality_col),
        (F.col(id_col) == F.col("keeper_id")).cast("int").alias("keep"),
    )


# ---------------------------------------------------------------------------
# incremental cluster maintenance
# ---------------------------------------------------------------------------


def merge_remap(
    existing: DataFrame,
    new_pairs: DataFrame,
    id_col: str,
    max_iter: int = 25,
    algorithm: str = "minlabel",
) -> DataFrame:
    """(old_label, new_label) relabeling induced by merging ``new_pairs``
    into the ``existing`` (id, cluster_id) assignment — the core of
    incremental cluster maintenance.

    Scale shape: connected components run over the QUOTIENT graph — one
    node per existing cluster touched by a new pair (plus never-seen pair
    endpoints, labeled as themselves) — never over the corpus or the
    accumulated pair set. An epoch that brings P pairs costs a CC over at
    most 2P quotient nodes regardless of how many docs the touched
    clusters contain; the output is one row per cluster whose label
    actually changes, which is what makes the downstream relabel a
    broadcast join (see ``update_clusters``).

    Correctness: ``existing`` labels are component min-ids (what
    ``clusters_from_pairs`` emits) and unseen endpoints label themselves,
    so each quotient node's label is the min doc id of the docs it
    represents; the min over a merged quotient component is therefore the
    min over all member docs — exactly the label a full batch rerun over
    (old pairs + new pairs) would assign. ``tests/test_incremental_cc.py``
    asserts this equivalence property-style.
    """
    ends = (
        new_pairs.select(F.col("id_a").alias(id_col))
        .union(new_pairs.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    # endpoint -> current label; never-seen endpoints label themselves.
    # The join is keyed by doc id: with the store bucketed/bulk-sorted on
    # id (Iceberg bucket transform at scale) this prunes to the touched
    # buckets instead of scanning the assignment.
    lab = (
        ends.join(existing, id_col, "left")
        .select(
            F.col(id_col).alias("id"),
            F.coalesce("cluster_id", F.col(id_col)).alias("qlabel"),
        )
    )
    edges_q = (
        new_pairs.join(
            lab.withColumnRenamed("id", "id_a").withColumnRenamed("qlabel", "la"),
            "id_a",
        )
        .join(
            lab.withColumnRenamed("id", "id_b").withColumnRenamed("qlabel", "lb"),
            "id_b",
        )
        .where(F.col("la") != F.col("lb"))
        .select(F.col("la").alias("id_a"), F.col("lb").alias("id_b"))
        .distinct()
    )
    nodes_q = (
        edges_q.select(F.col("id_a").alias("qnode"))
        .union(edges_q.select(F.col("id_b").alias("qnode")))
        .distinct()
    )
    cc = connected_components if algorithm == "minlabel" else connected_components_star
    merged = cc(nodes_q, edges_q, "qnode", max_iter=max_iter)
    return merged.where(F.col("qnode") != F.col("cluster_id")).select(
        F.col("qnode").alias("old_label"), F.col("cluster_id").alias("new_label")
    )


#: relabel-broadcast guard: an epoch's remap (one row per merged cluster)
#: is broadcast to every executor. Epoch-sized remaps are small by design;
#: a degenerate epoch (bootstrap-like, epoch ~ corpus) could exceed driver
#: or executor memory, so above this row count the relabel falls back to a
#: shuffle join (still correct, pays one corpus shuffle — the caller
#: should have bootstrapped via clusters_from_pairs instead, as
#: streaming.update_cluster_store does automatically for epoch 0).
BROADCAST_REMAP_MAX_ROWS = 20_000_000


def update_clusters(
    existing: DataFrame,
    new_docs: DataFrame,
    new_pairs: DataFrame,
    id_col: str,
    max_iter: int = 25,
    algorithm: str = "minlabel",
) -> DataFrame:
    """Fold one epoch's arrivals into an existing cluster assignment
    WITHOUT recomputing connected components over the accumulated pair
    set: result is bit-identical to ``clusters_from_pairs`` over the
    union of all pairs seen so far (tests/test_incremental_cc.py).

    ``existing``: (id_col, cluster_id) — the assignment after previous
    epochs (labels must be component min-ids, as ``clusters_from_pairs``
    and this function emit). ``new_docs``: ids arriving this epoch (pairs
    or not — unpaired arrivals become singletons). ``new_pairs``:
    (id_a, id_b) verified this epoch; endpoints may be old docs, new
    docs, or both (late pairs between two old docs are handled).
    Contract: every pair endpoint must be in ``existing`` or
    ``new_docs`` — an uncovered endpoint still merges the clusters it
    bridges but gets no output row of its own (the streaming caller
    satisfies this by construction: endpoints come from the signature
    store or the batch).

    Scale shape (the 10^12-doc argument): the iterative work runs on the
    quotient graph (``merge_remap``); the corpus-sized ``existing`` table
    is never shuffled — it is scanned once through a BROADCAST hash join
    against the remap (rows = clusters whose label changed this epoch,
    i.e. the merge events, not the docs). New rows append. An epoch
    therefore costs O(batch + touched clusters) compute and one
    map-side-joined pass over the assignment; contrast a full rerun,
    which pays a corpus-wide CC every epoch. The streaming store variant
    (streaming.update_cluster_store) avoids even the assignment rewrite
    by keeping the remap as data.
    """
    remap = merge_remap(existing, new_pairs, id_col, max_iter, algorithm)
    # the CC result behind remap is already localCheckpoint-ed, so this
    # count does not recompute the quotient CC
    if remap.count() <= BROADCAST_REMAP_MAX_ROWS:
        remap = F.broadcast(remap)
    updated = (
        existing.join(remap, existing.cluster_id == remap.old_label, "left")
        .select(
            F.col(id_col),
            F.coalesce("new_label", "cluster_id").alias("cluster_id"),
        )
    )
    fresh = (
        new_docs.select(id_col)
        .distinct()
        .join(existing.select(id_col), id_col, "left_anti")
        .join(remap, F.col(id_col) == remap.old_label, "left")
        .select(
            F.col(id_col),
            F.coalesce("new_label", F.col(id_col)).alias("cluster_id"),
        )
    )
    return updated.unionByName(fresh)
