"""Similarity search and semantic dedup over embedding vectors.

IVF-flat top-k (a trained coarse quantizer + inverted lists + nprobe
probing) is the scale path: bucket first, score only within the probed
cells — the same shape as the text LSH stage. SemDeDup runs exact cosine
inside each IVF cell. Brute-force cosine top-k (``cosine_topk``) is the
exact reference the IVF recall tests compare against. The random-
hyperplane bucket id (``hyperplane_bucket_expr``/``_sql``) is the coarse
stage of the PQ lane (``pq.py``).

Float determinism: dot products are computed as an ordered left fold over
the vector elements after casting each element to DOUBLE. IEEE-754 double
ops are deterministic, and DuckDB's ``list_reduce`` folds in the same
order, so Spark and the oracle produce bit-identical doubles; results are
additionally ``round(..., 6)`` on both sides.

Domain rule: **zero-norm vectors are excluded from every cosine lane and
oracle** (``nrm > 0`` right after the norm computation). Cosine is
undefined for them; without the guard 0/0 = NaN would enter ranking and
thresholding, where the three engines disagree (Spark/DuckDB sort NaN
greatest, numpy lexsort places it last; DuckDB evaluates NaN >= thr as
true, numpy as false) — a silent parity break on any all-zero embedding.

Hyperplane construction is seedless-deterministic: plane ``j`` takes its
64 sign bits from the reference permutation constant ``K_INDEX[j]``
(``/root/reference/2df.c:36-72``) — weight for dim d is +1 if bit d is
set, else -1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .config import K_INDEX

DIM = 64


def _dot_expr(a: str, b: str, dim: int) -> str:
    return (
        f"aggregate(sequence(1, {dim}), CAST(0.0 AS DOUBLE), "
        f"(acc, i) -> acc + CAST(element_at({a}, i) AS DOUBLE) "
        f"* CAST(element_at({b}, i) AS DOUBLE))"
    )


def _norm_expr(a: str, dim: int) -> str:
    return f"sqrt({_dot_expr(a, a, dim)})"


def cosine_topk(
    emb: DataFrame, k: int = 3, id_col: str = "vec_id", vec_col: str = "embedding",
    dim: int = DIM,
) -> DataFrame:
    """Brute-force all-pairs cosine, top-k neighbors per vector.

    O(n^2) — the correctness baseline. At scale use ``ivf_ann_topk``;
    this stage exists to *oracle* the approximate one, exactly as the
    reference's CHECK_DECOMPRESS oracles compression.
    """
    # norms are per-vector: compute once before the quadratic join (same
    # left-fold order as the oracle, so doubles stay bit-identical).
    # nrm > 0 excludes zero-norm vectors from the cosine domain (cosine is
    # undefined there; without the guard 0/0 = NaN enters the ranking, and
    # Spark/DuckDB/numpy order NaN differently — see module docstring)
    e = (
        emb.select(F.col(id_col), F.col(vec_col))
        .withColumn("nrm", F.expr(_norm_expr(vec_col, dim)))
        .where(F.col("nrm") > 0)
    )
    a = e.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("va"), F.col("nrm").alias("na")
    )
    b = e.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("vb"), F.col("nrm").alias("nb")
    )
    cos = f"round({_dot_expr('va', 'vb', dim)} / (na * nb), 6)"
    pairs = (
        a.crossJoin(b)
        .where(F.col("vec_id") != F.col("neighbor_id"))
        .withColumn("cosine", F.expr(cos))
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("vec_id", "neighbor_id", "cosine", F.col("rank").cast("int"))
    )


def hyperplane_bucket_expr(vec_col: str, n_planes: int, dim: int = DIM) -> str:
    """LSH bucket id: bit j = (sign-dot with plane j >= 0)."""
    terms = []
    for j in range(n_planes):
        bits = K_INDEX[j]
        # ordered fold: +v[d] if bit d of K_INDEX[j] else -v[d]
        signs = ", ".join(
            ("1" if (bits >> d) & 1 else "-1") for d in range(dim)
        )
        dot = (
            f"aggregate(sequence(1, {dim}), CAST(0.0 AS DOUBLE), (acc, i) -> "
            f"acc + CAST(element_at({vec_col}, i) AS DOUBLE) "
            f"* CAST(element_at(array({signs}), i) AS DOUBLE))"
        )
        terms.append(
            f"CASE WHEN {dot} >= 0 THEN CAST({1 << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        )
    return " + ".join(terms)


# ---------------------------------------------------------------------------
# DuckDB oracle SQL
# ---------------------------------------------------------------------------


def _dot_sql(a: str, b: str, dim: int) -> str:
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(generate_series(1, {dim}), i -> "
        f"CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))), (x, y) -> x + y)"
    )


def hyperplane_bucket_sql(vec_col: str, n_planes: int, dim: int = DIM) -> str:
    """DuckDB twin of ``hyperplane_bucket_expr`` (same K_INDEX sign
    bits, same ordered fold) — the coarse stage of the PQ lane."""
    terms = []
    for j in range(n_planes):
        bits = K_INDEX[j]
        signs = ", ".join(("1" if (bits >> d) & 1 else "-1") for d in range(dim))
        dot = (
            f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            f"list_transform(generate_series(1, {dim}), i -> "
            f"CAST({vec_col}[i] AS DOUBLE) * CAST([{signs}][i] AS DOUBLE))), "
            f"(x, y) -> x + y)"
        )
        terms.append(
            f"CASE WHEN {dot} >= 0 THEN CAST({1 << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        )
    return " + ".join(terms)


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — trained coarse quantizer + inverted lists
# ---------------------------------------------------------------------------

IVF_N_CELLS = 8
IVF_NPROBE = 2
#: fixed Lloyd iteration count — fixed so the DuckDB oracle can replay the
#: training as an unrolled CTE chain (no convergence test = no data-driven
#: control flow = bit-exact replay)
IVF_KMEANS_ITERS = 3
#: training sample = the vectors with the smallest ids, capped — at corpus
#: scale the codebook trains on a bounded deterministic sample (standard
#: IVF practice: quantizer quality needs a sample, not the corpus) and the
#: per-cell mean folds stay bounded at train_max / n_cells vectors
IVF_TRAIN_MAX = 4096


def train_ivf_codebook(
    emb: DataFrame, n_cells: int = IVF_N_CELLS, iters: int = IVF_KMEANS_ITERS,
    train_max: int = IVF_TRAIN_MAX, id_col: str = "vec_id",
    vec_col: str = "embedding", dim: int = DIM,
) -> list[tuple[int, list[float]]]:
    """Deterministic Lloyd k-means over cosine similarity, replayable
    bit-for-bit by the DuckDB oracle (``_ivf_kmeans_ctes``):

    * init: the ``n_cells`` smallest-id sample vectors, elementwise
      ``round(CAST(x AS DOUBLE), 6)``;
    * assign: argmax of round-6 cosine, ties -> smallest cell_id;
    * update: elementwise mean over members **in ascending id order**
      (ordered left fold — double addition is not associative, so the fold
      order is part of the spec), ``round(sum/count, 6)``; empty cells
      keep their previous centroid.

    The only driver materialization is the codebook itself (n_cells x dim
    doubles — O(1) in the corpus, the standard broadcast-codebook shape).
    """
    spark = emb.sparkSession
    tr = (
        emb.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("v"))
        .withColumn("nrm", F.expr(_norm_expr("v", dim)))
        .where(F.col("nrm") > 0)  # cosine domain excludes zero-norm vectors
        .orderBy("vid")
        .limit(train_max)
        .localCheckpoint(eager=True)  # sample is reused every iteration
    )
    init = (
        tr.orderBy("vid")
        .limit(n_cells)
        .select(
            (F.row_number().over(Window.orderBy("vid")) - 1).cast("int").alias("cell_id"),
            F.expr("transform(v, x -> round(CAST(x AS DOUBLE), 6))").alias("cvec"),
        )
    )
    cents = [(r["cell_id"], list(r["cvec"])) for r in init.collect()]
    zeros = f"array_repeat(CAST(0.0 AS DOUBLE), {dim})"
    e = tr  # nrm already computed (and zero-norm rows excluded) above
    for _ in range(iters):
        cdf = spark.createDataFrame(cents, "cell_id int, cvec array<double>")
        cdf = cdf.withColumn("cnrm", F.expr(_norm_expr("cvec", dim)))
        # a centroid can round to the zero vector (a denormal-norm input
        # vector passes nrm > 0 but its round-6 image is all zeros;
        # differential-fuzz finding): score it -2 (< any cosine) so it
        # attracts nothing, identically in both engines — Spark raises
        # DIVIDE_BY_ZERO under ANSI where DuckDB silently yields inf
        cos = (
            "CASE WHEN cnrm = 0.0 THEN CAST(-2.0 AS DOUBLE) ELSE "
            f"round({_dot_expr('v', 'cvec', dim)} / (nrm * cnrm), 6) END"
        )
        w = Window.partitionBy("vid").orderBy(
            F.col("cell_cos").desc(), F.col("cell_id").asc()
        )
        assign = (
            e.crossJoin(F.broadcast(cdf))
            .withColumn("cell_cos", F.expr(cos))
            .withColumn("rn", F.row_number().over(w))
            .where("rn = 1")
        )
        means = (
            assign.groupBy("cell_id")
            .agg(
                F.count(F.lit(1)).alias("cnt"),
                F.sort_array(
                    F.collect_list(F.struct(F.col("vid"), F.col("v")))
                ).alias("rows"),
            )
            .select(
                "cell_id",
                F.expr(
                    f"transform(aggregate(transform(rows, r -> r.v), {zeros}, "
                    "(acc, vv) -> zip_with(acc, vv, (a, b) -> a + CAST(b AS DOUBLE))), "
                    "s -> round(s / cnt, 6))"
                ).alias("mvec"),
            )
        )
        got = {r["cell_id"]: list(r["mvec"]) for r in means.collect()}
        cents = [(cid, got.get(cid, cv)) for cid, cv in cents]
    return cents


def _ivf_scored(
    emb: DataFrame, n_cells: int, id_col: str, vec_col: str, dim: int,
    cents: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """(vec_id, embedding, nrm, cell_id, cell_rank): every vector scored
    against the trained codebook, ranked by cosine.

    The codebook is a tiny dimension table (``n_cells`` rows) broadcast to
    every executor — one narrow map over the corpus, no shuffle; the only
    shuffle in the IVF lane is the ``cell_id`` co-location of the inverted
    lists. ``cell_id`` is the 0-based codebook index.
    """
    if cents is None:
        cents = train_ivf_codebook(
            emb, n_cells, id_col=id_col, vec_col=vec_col, dim=dim
        )
    cdf = emb.sparkSession.createDataFrame(cents, "cell_id int, cvec array<double>")
    cdf = cdf.withColumn("cnrm", F.expr(_norm_expr("cvec", dim)))
    e = (
        emb.select(F.col(id_col), F.col(vec_col))
        .withColumn("nrm", F.expr(_norm_expr(vec_col, dim)))
        .where(F.col("nrm") > 0)  # cosine domain excludes zero-norm vectors
    )
    # zero-centroid guard: see train_ivf_codebook (fuzz finding)
    cos = (
        "CASE WHEN cnrm = 0.0 THEN CAST(-2.0 AS DOUBLE) ELSE "
        f"round({_dot_expr(vec_col, 'cvec', dim)} / (nrm * cnrm), 6) END"
    )
    scored = e.crossJoin(F.broadcast(cdf)).withColumn("cell_cos", F.expr(cos))
    w = Window.partitionBy(id_col).orderBy(
        F.col("cell_cos").desc(), F.col("cell_id").asc()
    )
    return scored.withColumn("cell_rank", F.row_number().over(w))


def ivf_cells(
    emb: DataFrame, n_cells: int = IVF_N_CELLS,
    id_col: str = "vec_id", vec_col: str = "embedding", dim: int = DIM,
) -> DataFrame:
    """Inverted-list sizes (cell_id, cell_size) — the IVF analog of the
    LSH ``band_buckets`` observability query (a skewed cell is the IVF
    version of a hot band; at scale it triggers cell splitting)."""
    a = _ivf_scored(emb, n_cells, id_col, vec_col, dim).where("cell_rank = 1")
    return a.groupBy("cell_id").agg(
        F.count(F.lit(1)).cast("long").alias("cell_size")
    )


def ivf_ann_topk(
    emb: DataFrame, k: int = 3, n_cells: int = IVF_N_CELLS,
    nprobe: int = IVF_NPROBE, id_col: str = "vec_id", vec_col: str = "embedding",
    dim: int = DIM,
) -> DataFrame:
    """IVF-flat approximate top-k: assign every vector to its nearest
    codebook cell (inverted lists), probe the ``nprobe`` nearest cells per
    query, exact cosine only within probed lists.

    The scale lane next to brute force (its oracle): candidate volume is
    sum over probes of |cell| instead of n — with balanced cells the
    pairing join touches ``nprobe/n_cells`` of the corpus per query. One
    shuffle on ``cell_id`` co-locates each inverted list; each vector
    lands in exactly one list, so a (query, neighbor) pair can only
    arise once — no post-join dedup needed.
    """
    scored = _ivf_scored(emb, n_cells, id_col, vec_col, dim)
    assign = scored.where("cell_rank = 1").select(
        F.col(id_col).alias("neighbor_id"),
        "cell_id",
        F.col(vec_col).alias("vb"),
        F.col("nrm").alias("nb"),
    )
    probes = scored.where(f"cell_rank <= {nprobe}").select(
        F.col(id_col).alias("vec_id"),
        "cell_id",
        F.col(vec_col).alias("va"),
        F.col("nrm").alias("na"),
    )
    cos = f"round({_dot_expr('va', 'vb', dim)} / (na * nb), 6)"
    pairs = (
        probes.join(assign, "cell_id")
        .where(F.col("vec_id") != F.col("neighbor_id"))
        .withColumn("cosine", F.expr(cos))
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("vec_id", "neighbor_id", "cosine", F.col("rank").cast("int"))
    )


def _ivf_kmeans_ctes(n_cells: int, iters: int, train_max: int, dim: int,
                     table: str) -> str:
    """Unrolled replay of ``train_ivf_codebook``: ``c0`` .. ``c{iters}``
    CTEs, each iteration = assign (argmax round-6 cosine, tie -> smallest
    cell) + ordered-fold mean (ascending vec_id — the same left fold as
    the Spark ``aggregate``), empty cells carry the previous centroid."""
    zeros = f"list_transform(generate_series(1, {dim}), d -> CAST(0.0 AS DOUBLE))"
    parts = [
        f"""tr AS (
  SELECT * FROM (
    SELECT vec_id AS vid, embedding AS v,
           sqrt({_dot_sql('embedding', 'embedding', dim)}) AS nrm
    FROM {table}
  ) WHERE nrm > 0 ORDER BY vid ASC LIMIT {train_max}
),
c0 AS (
  SELECT CAST(row_number() OVER (ORDER BY vid ASC) - 1 AS INT) AS cell_id,
         list_transform(v, x -> round(CAST(x AS DOUBLE), 6)) AS cvec
  FROM (SELECT vid, v FROM tr ORDER BY vid ASC LIMIT {n_cells})
)"""
    ]
    for t in range(iters):
        # zero-centroid guard, same rule as the Spark train loop
        cos = (
            f"CASE WHEN sqrt({_dot_sql('c.cvec', 'c.cvec', dim)}) = 0.0 "
            "THEN CAST(-2.0 AS DOUBLE) ELSE "
            f"round({_dot_sql('t.v', 'c.cvec', dim)} / "
            f"(t.nrm * sqrt({_dot_sql('c.cvec', 'c.cvec', dim)})), 6) END"
        )
        parts.append(f"""a{t} AS (
  SELECT vid, v, cell_id FROM (
    SELECT t.vid, t.v, c.cell_id,
           row_number() OVER (PARTITION BY t.vid
               ORDER BY {cos} DESC, c.cell_id ASC) AS rn
    FROM tr t CROSS JOIN c{t} c
  ) WHERE rn = 1
)""")
        parts.append(f"""m{t} AS (
  SELECT cell_id, count(*) AS cnt, list(v ORDER BY vid ASC) AS vs
  FROM a{t} GROUP BY 1
),
c{t + 1} AS (
  SELECT c.cell_id,
         CASE WHEN m.cnt IS NULL THEN c.cvec
              ELSE list_transform(
                     list_reduce(list_prepend({zeros}, m.vs),
                       (acc, vv) -> list_transform(generate_series(1, {dim}),
                                      d -> acc[d] + CAST(vv[d] AS DOUBLE))),
                     s -> round(s / m.cnt, 6)) END AS cvec
  FROM c{t} c LEFT JOIN m{t} m ON m.cell_id = c.cell_id
)""")
    return ",\n".join(parts)


def _ivf_scored_sql(n_cells: int, dim: int, table: str,
                    iters: int = IVF_KMEANS_ITERS,
                    train_max: int = IVF_TRAIN_MAX) -> str:
    cell_cos = (
        "CASE WHEN s.cnrm = 0.0 THEN CAST(-2.0 AS DOUBLE) ELSE "
        f"round({_dot_sql('e.embedding', 's.cvec', dim)} / (e.nrm * s.cnrm), 6) END"
    )
    return f"""
{_ivf_kmeans_ctes(n_cells, iters, train_max, dim, table)},
e AS (
  SELECT * FROM (
    SELECT vec_id, embedding, sqrt({_dot_sql('embedding', 'embedding', dim)}) AS nrm
    FROM {table}
  ) WHERE nrm > 0
),
seeds AS (
  SELECT cell_id, cvec, sqrt({_dot_sql('cvec', 'cvec', dim)}) AS cnrm
  FROM c{iters}
),
scored AS (
  SELECT e.vec_id, e.embedding, e.nrm, s.cell_id, {cell_cos} AS cell_cos,
         CAST(row_number() OVER (PARTITION BY e.vec_id
              ORDER BY {cell_cos} DESC, s.cell_id ASC) AS INT) AS cell_rank
  FROM e CROSS JOIN seeds s
)"""


def ivf_cells_sql(n_cells: int = IVF_N_CELLS, dim: int = DIM,
                  table: str = "embeddings") -> str:
    return f"""
WITH {_ivf_scored_sql(n_cells, dim, table)}
SELECT cell_id, CAST(count(*) AS BIGINT) AS cell_size
FROM scored WHERE cell_rank = 1 GROUP BY 1"""


def ivf_ann_topk_sql(k: int = 3, n_cells: int = IVF_N_CELLS,
                     nprobe: int = IVF_NPROBE, dim: int = DIM,
                     table: str = "embeddings") -> str:
    cos = f"round({_dot_sql('p.embedding', 'a.embedding', dim)} / (p.nrm * a.nrm), 6)"
    return f"""
WITH {_ivf_scored_sql(n_cells, dim, table)},
assign AS (SELECT vec_id AS neighbor_id, cell_id, embedding, nrm FROM scored WHERE cell_rank = 1),
probes AS (SELECT vec_id, cell_id, embedding, nrm FROM scored WHERE cell_rank <= {nprobe}),
pairs AS (
  SELECT p.vec_id, a.neighbor_id, {cos} AS cosine
  FROM probes p JOIN assign a ON p.cell_id = a.cell_id AND p.vec_id != a.neighbor_id
),
ranked AS (
  SELECT vec_id, neighbor_id, cosine,
         CAST(row_number() OVER (PARTITION BY vec_id ORDER BY cosine DESC, neighbor_id ASC) AS INT) AS rank
  FROM pairs
)
SELECT vec_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= {k}"""


# ---------------------------------------------------------------------------
# SemDeDup: semantic dedup over IVF cells (Abbas et al. 2023, arXiv
# 2303.09540) — the embedding-space member of the dedup suite, next to
# exact / MinHash / SimHash / n-gram Jaccard. The reference's two-stage
# shape (coarse sketch -> fine check, 2df.c:400-498) recurs here as
# coarse k-means cell -> exact intra-cell cosine.
# ---------------------------------------------------------------------------

#: the driver embeddings are unplanted random vectors (max pairwise
#: cosine ~0.5 at sf0.01), so the threshold sits where the corpus has a
#: real, small tail (semantics are parametric)
SEMDEDUP_COSINE_PERMILLE = 400

#: hard guard for the per-cell pairwise stage: a cell above this is the
#: IVF skew case (hot cell) — the production knob is n_cells (SemDeDup
#: uses ~n/1000 cells so |cell| stays ~1000); failing loudly beats a
#: silent quadratic straggler
SEMDEDUP_MAX_CELL_ROWS = 100_000


def semantic_dedup(
    emb: DataFrame, threshold_permille: int = SEMDEDUP_COSINE_PERMILLE,
    n_cells: int = IVF_N_CELLS, id_col: str = "vec_id",
    vec_col: str = "embedding", dim: int = DIM,
) -> DataFrame:
    """SemDeDup keep/drop per vector: (vec_id, cell_id, n_dup_neighbors,
    keep).

    Stage 1 (coarse): every vector lands in its nearest k-means cell
    (the deterministic codebook of ``train_ivf_codebook`` — broadcast,
    no shuffle beyond the ``cell_id`` co-location). Stage 2 (fine):
    exact pairwise cosine WITHIN each cell only; a pair with
    ``round(cos, 6) >= threshold/1000`` is a semantic duplicate. Keeper
    rule is the paper's: among duplicates, keep the member with the LOW
    cosine to its cell centroid (the farthest-from-centroid exemplar —
    the most "extreme" representative survives, ties -> smaller id).
    A vector is dropped (keep = 0) iff some duplicate partner beats it:
    ``(o.cell_cos < my.cell_cos) OR (o.cell_cos = my.cell_cos AND
    o.id < my.id)``. The rule is per-neighborhood local — every ε-group
    retains at least its (cell_cos, id)-minimal member — and is
    deterministic, so the DuckDB twin replays it bit-for-bit
    (``cell_cos`` and the pair cosine are both round-6 doubles).

    Scale shape: candidate volume is sum over cells of |cell|^2 instead
    of n^2 — the SemDeDup contract is n_cells ~ n/1000 so cells stay
    ~1000 rows; one shuffle on ``cell_id``, codebook broadcast, no
    driver collect beyond the n_cells-row codebook. Hot-cell skew is the
    IVF analog of a hot LSH band: raise n_cells (or sub-split a cell by
    a secondary quantizer) — the kernel twin guards with a loud error.
    """
    scored = _ivf_scored(emb, n_cells, id_col, vec_col, dim)
    assign = scored.where("cell_rank = 1").select(
        F.col(id_col).alias("vid"), "cell_id", "cell_cos",
        F.col(vec_col).alias("va"), F.col("nrm").alias("na"),
    )
    other = assign.select(
        F.col("vid").alias("o_vid"), "cell_id",
        F.col("cell_cos").alias("o_cc"),
        F.col("va").alias("vb"), F.col("na").alias("nb"),
    )
    cos = f"round({_dot_expr('va', 'vb', dim)} / (na * nb), 6)"
    dp = (
        assign.join(other, "cell_id")
        .where(F.col("vid") != F.col("o_vid"))
        .where(F.expr(cos) >= threshold_permille / 1000.0)
    )
    agg = dp.groupBy("vid").agg(
        F.count(F.lit(1)).cast("long").alias("n_dup_neighbors"),
        F.max(
            F.expr(
                "CASE WHEN o_cc < cell_cos "
                "OR (o_cc = cell_cos AND o_vid < vid) THEN 1 ELSE 0 END"
            )
        ).alias("beaten"),
    )
    return (
        assign.select("vid", "cell_id")
        .join(agg, "vid", "left")
        .select(
            F.col("vid").alias(id_col),
            "cell_id",
            F.coalesce("n_dup_neighbors", F.lit(0)).cast("long").alias("n_dup_neighbors"),
            (F.lit(1) - F.coalesce("beaten", F.lit(0))).cast("int").alias("keep"),
        )
    )


def semantic_dedup_kernel(
    emb: DataFrame, threshold_permille: int = SEMDEDUP_COSINE_PERMILLE,
    n_cells: int = IVF_N_CELLS, id_col: str = "vec_id",
    vec_col: str = "embedding", dim: int = DIM,
    max_cell_rows: int = SEMDEDUP_MAX_CELL_ROWS,
) -> DataFrame:
    """Scale-path twin of ``semantic_dedup`` — identical output (tested),
    vectorized intra-cell stage.

    The SQL form evaluates the ordered-fold dot product per PAIR (and the
    n x n_cells assignment scoring per ROW-CELL) on the JVM — interpreted
    HOFs that box every element. Here BOTH stages vectorize:

    * **assignment**: one ``mapInPandas`` over the corpus scores each
      Arrow batch against the broadcast codebook matrix with a
      per-dimension accumulate loop — the SAME ordered left fold over
      dims as the SQL ``aggregate`` (acc += v_i * c_i, i ascending;
      vectorized across rows, order per element unchanged), the SAME
      ``nrm * cnrm`` multiply order, then ``round(..., 6)``;
      ``np.argmax`` returns the FIRST maximum over ascending cell_id =
      the SQL tie-break. No per-row Python, no n x n_cells row blowup.
    * **intra-cell pairing**: groupBy(cell_id).applyInPandas — each
      cell's member matrix is one Arrow group and the |cell| x |cell|
      cosine matrix falls out of the same per-dim fold. The one shuffle
      co-locates each inverted list; no task holds more than one cell
      (guarded at ``max_cell_rows``).

    Bit-identical to ``semantic_dedup`` and the DuckDB oracle (tested).
    """
    import numpy as np
    import pandas as pd
    from collections.abc import Iterator

    cents = train_ivf_codebook(
        emb, n_cells, id_col=id_col, vec_col=vec_col, dim=dim
    )
    cmat = np.asarray([cv for _, cv in sorted(cents)], dtype=np.float64)
    # cnrm with the identical ordered fold: acc += c_i * c_i, i ascending
    cn_acc = np.zeros(len(cmat), dtype=np.float64)
    for d in range(cmat.shape[1]):
        cn_acc += cmat[:, d] * cmat[:, d]
    cnrm = np.sqrt(cn_acc)
    id_type_in = emb.schema[id_col].dataType.simpleString()

    def assign_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            V = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col].values]
            )
            # nrm: ordered fold of v_i * v_i, then sqrt (matches _norm_expr)
            nr_acc = np.zeros(n, dtype=np.float64)
            for d in range(V.shape[1]):
                nr_acc += V[:, d] * V[:, d]
            nr = np.sqrt(nr_acc)
            ok = nr > 0  # cosine domain excludes zero-norm vectors
            V, nr = V[ok], nr[ok]
            ids = pdf[id_col].values[ok]
            if len(ids) == 0:
                continue
            acc = np.zeros((len(ids), len(cmat)), dtype=np.float64)
            for d in range(V.shape[1]):
                acc += V[:, d][:, None] * cmat[:, d][None, :]
            # zero-centroid guard (fuzz finding): score -2, matching the
            # SQL forms' CASE — never divide by a zero cnrm
            safe = np.where(cnrm == 0.0, 1.0, cnrm)
            cc = np.where(
                (cnrm == 0.0)[None, :],
                -2.0,
                np.round(acc / (nr[:, None] * safe[None, :]), 6),
            )
            best = np.argmax(cc, axis=1)  # first max = smallest cell_id
            yield pd.DataFrame(
                {
                    "vid": ids,
                    "cell_id": best.astype(np.int32),
                    "cell_cos": cc[np.arange(len(ids)), best],
                    "v": list(V),
                    "nrm": nr,
                }
            )

    assign = emb.select(F.col(id_col), F.col(vec_col)).mapInPandas(
        assign_fn,
        schema=(
            f"vid {id_type_in}, cell_id int, cell_cos double, "
            "v array<double>, nrm double"
        ),
    )
    thr = threshold_permille / 1000.0
    id_type = emb.schema[id_col].dataType.simpleString()

    def fn(key, pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n > max_cell_rows:
            raise ValueError(
                f"semantic_dedup cell {key[0]} has {n} rows > "
                f"{max_cell_rows}: raise n_cells (hot-cell skew)"
            )
        ids = pdf["vid"].values
        cc = pdf["cell_cos"].values.astype(np.float64)
        nr = pdf["nrm"].values.astype(np.float64)
        V = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["v"].values])
        acc = np.zeros((n, n), dtype=np.float64)
        for d in range(V.shape[1]):
            col = V[:, d]
            acc += col[:, None] * col[None, :]
        cos = np.round(acc / (nr[:, None] * nr[None, :]), 6)
        dup = (cos >= thr)
        np.fill_diagonal(dup, False)
        n_dup = dup.sum(axis=1).astype(np.int64)
        # partner j beats row i iff cc[j] < cc[i], or equal and ids[j] < ids[i]
        beats = (cc[None, :] < cc[:, None]) | (
            (cc[None, :] == cc[:, None]) & (ids[None, :] < ids[:, None])
        )
        beaten = (dup & beats).any(axis=1)
        return pd.DataFrame(
            {
                "vid": ids,
                "cell_id": pdf["cell_id"].values,
                "n_dup_neighbors": n_dup,
                "keep": (~beaten).astype(np.int32),
            }
        )

    out = assign.groupBy("cell_id").applyInPandas(
        fn,
        schema=(
            f"vid {id_type}, cell_id int, n_dup_neighbors long, keep int"
        ),
    )
    return out.select(
        F.col("vid").alias(id_col), "cell_id", "n_dup_neighbors", "keep"
    )


def semantic_dedup_sql(
    threshold_permille: int = SEMDEDUP_COSINE_PERMILLE,
    n_cells: int = IVF_N_CELLS, dim: int = DIM, table: str = "embeddings",
) -> str:
    """DuckDB twin: replays codebook training (``_ivf_kmeans_ctes``),
    assignment, the intra-cell round-6 cosine pairs, and the
    farthest-from-centroid keeper rule."""
    cos = (
        f"round({_dot_sql('a.embedding', 'b.embedding', dim)} / "
        f"(a.nrm * b.nrm), 6)"
    )
    return f"""
WITH {_ivf_scored_sql(n_cells, dim, table)},
assign AS (
  SELECT vec_id, cell_id, cell_cos, embedding, nrm
  FROM scored WHERE cell_rank = 1
),
dp AS (
  SELECT a.vec_id AS vid, a.cell_cos AS my_cc,
         b.vec_id AS o_vid, b.cell_cos AS o_cc
  FROM assign a JOIN assign b
    ON a.cell_id = b.cell_id AND a.vec_id != b.vec_id
  WHERE {cos} >= {threshold_permille} / 1000.0
),
agg AS (
  SELECT vid, CAST(count(*) AS BIGINT) AS n_dup_neighbors,
         max(CASE WHEN o_cc < my_cc
                  OR (o_cc = my_cc AND o_vid < vid) THEN 1 ELSE 0 END) AS beaten
  FROM dp GROUP BY 1
)
SELECT s.vec_id, s.cell_id,
       coalesce(g.n_dup_neighbors, 0) AS n_dup_neighbors,
       CAST(1 - coalesce(g.beaten, 0) AS INT) AS keep
FROM assign s LEFT JOIN agg g ON g.vid = s.vec_id"""
