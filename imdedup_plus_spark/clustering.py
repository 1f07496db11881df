"""Stage 1c — duplicate clusters via large-star/small-star connected
components.

The reference chains target -> best-earlier-base greedily within a batch
(``2df.c:459-498``), which implicitly builds base/target chains. We make
the grouping explicit and order-free: connected components over the
verified-pair graph, cluster id = min(id) of the component
(deterministic representative, SURVEY.md §7 M4).

Algorithm: alternating large-star/small-star (Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC'14) over the canonical edge set
``(u, v)``, ``u > v``. Large-star hangs every neighbor larger than ``u``
off ``min(N(u) + u)``, halving tree heights; small-star re-points every
smaller neighbor at the local min. A round is a few edge-set-sized
shuffles, and the rounds needed grow as O(log^2 n) in the component size
whatever its shape, so a long chain of near-dup edits costs about as few
rounds as a variant fan-out. The loop stops as soon as one aggregate job
finds the edge set a star forest — every ``u`` has exactly one edge and
no ``v`` is also a ``u`` — at which point each edge points a node at its
component min and the labels are one left join. A graph still not a star
forest after ``MAX_ROUNDS`` raises instead of returning split clusters.

Scale notes (100 TB): every round works on the edge set only (|verified
pairs|, tiny next to the corpus), which shrinks toward the star forest;
each round's edges are ``localCheckpoint``-ed so plan depth stays flat.
The corpus joins the result once, at the end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: cap on large-star/small-star rounds; a 300-node chain needs <= 10
MAX_ROUNDS = 50


def _canonical(edges: DataFrame, a: str, b: str) -> DataFrame:
    """``(u, v)`` = (larger, smaller) end of each ``(a, b)`` edge,
    self-loops and duplicates dropped."""
    return (
        edges.select(F.greatest(a, b).alias("u"), F.least(a, b).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _star_round(e: DataFrame) -> DataFrame:
    """One large-star then one small-star step over canonical edges."""
    # large-star: over the symmetric adjacency, attach every neighbor
    # v > u to m = min(N(u) + u)
    adj = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = adj.groupBy("u").agg(F.least(F.col("u"), F.min("v")).alias("m"))
    e1 = _canonical(adj.join(mins, "u").where(F.col("v") > F.col("u")), "v", "m")
    # small-star: neighbors of u are all < u here; re-point each at
    # m = min(N(u)), and u itself at m
    mins = e1.groupBy("u").agg(F.min("v").alias("m"))
    return _canonical(
        e1.join(mins, "u")
        .select(F.col("v").alias("a"), "m")
        .union(mins.select(F.col("u").alias("a"), "m")),
        "a",
        "m",
    )


def _is_star_forest(e: DataFrame) -> bool:
    """Every ``u`` has exactly one edge and no ``v`` is also a ``u``: one
    groupBy over the edge ends and one ``limit(1).count()``."""
    ends = e.select("u", F.lit(1).alias("n_out"), F.lit(0).alias("n_in")).union(
        e.select(F.col("v").alias("u"), F.lit(0), F.lit(1))
    )
    bad = (
        ends.groupBy("u")
        .agg(F.sum("n_out").alias("n_out"), F.max("n_in").alias("n_in"))
        .where((F.col("n_out") > 1) | ((F.col("n_out") > 0) & (F.col("n_in") > 0)))
    )
    return bad.limit(1).count() == 0


def _star_forest(edges: DataFrame, stats: dict | None = None) -> DataFrame:
    """Converged ``(u, v)`` edges of ``edges`` (``id_a``, ``id_b``; any
    orientation): one row per node that is not its component's min, ``v``
    = that min. ``stats``, if given, receives ``{"rounds": <int>}``."""
    spark = edges.sparkSession
    # The dup subgraph is tiny next to the corpus, but each round is a few
    # shuffles + a checkpoint + the star-forest test; with the session's
    # corpus-sized spark.sql.shuffle.partitions every tiny stage pays
    # hundreds of empty tasks. Size the CC shuffles by the cluster, not the
    # corpus, and restore the setting afterwards.
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    cc_parts = max(2 * spark.sparkContext.defaultParallelism, 8)
    spark.conf.set("spark.sql.shuffle.partitions", str(min(int(old_parts), cc_parts)))
    try:
        e = _canonical(edges, "id_a", "id_b").localCheckpoint(eager=True)
        rounds = 0
        while not _is_star_forest(e):
            if rounds == MAX_ROUNDS:
                # returning now would split clusters silently
                raise RuntimeError(
                    f"connected components did not reach a star forest in "
                    f"{MAX_ROUNDS} large-star/small-star rounds"
                )
            e = _star_round(e).localCheckpoint(eager=True)
            rounds += 1
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
    if stats is not None:
        stats["rounds"] = rounds
    return e


def _label(ids: DataFrame, forest: DataFrame, id_col: str) -> DataFrame:
    """(id, cluster_id) per row of ``ids``: its star-forest root, or
    itself when it has no edge."""
    return ids.join(
        forest.withColumnRenamed("u", id_col), id_col, "left"
    ).select(F.col(id_col), F.coalesce("v", F.col(id_col)).alias("cluster_id"))


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str,
    stats: dict | None = None,
) -> DataFrame:
    """(id, cluster_id) for every node; singleton -> its own id.

    ``nodes``: one column ``id_col``; ``edges``: columns ``id_a``, ``id_b``
    (undirected, any orientation). ``stats``, if given, receives
    ``{"rounds": <int>}``, the large-star/small-star rounds run.
    """
    return _label(nodes.select(id_col), _star_forest(edges, stats), id_col)


def clusters_from_pairs(
    valid_docs: DataFrame,
    verified_pairs: DataFrame,
    id_col: str,
    stats: dict | None = None,
) -> DataFrame:
    """Cluster every valid document (and every endpoint of a pair of two
    distinct ids); docs in no pair become singletons. ``stats`` as in
    ``connected_components``.

    Scale shape: the iterative part runs ONLY over the pair edges (a tiny
    fraction of a web corpus), read once; the singleton majority joins the
    result via one left join at the end. At 10^12 docs this is the
    difference between shuffling the corpus per CC round and shuffling
    just the duplicate subgraph.
    """
    forest = _star_forest(verified_pairs, stats)
    ids = (
        valid_docs.select(id_col)
        .union(forest.select(F.col("u").alias(id_col)))
        .union(forest.select(F.col("v").alias(id_col)))
        .distinct()
    )
    return _label(ids, forest, id_col)


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
        .select(F.col("la").alias("id_a"), F.col("lb").alias("id_b"))
    )
    # the star forest has one edge per quotient node whose label changes,
    # pointing at its component min: that edge set IS the remap
    return _star_forest(edges_q).select(
        F.col("u").alias("old_label"), F.col("v").alias("new_label")
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
    remap = merge_remap(existing, new_pairs, id_col)
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
