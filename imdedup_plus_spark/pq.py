"""Product quantization (IVF-ADC family): compressed-domain similarity
search for the embedding corpus.

The compressed-domain ANN lane next to IVF-flat (ann.py): Jegou, Douze &
Schmid 2011, "Product quantization for nearest neighbor search". The 100
TB story is MEMORY, not compute: a 64-dim float vector is 256 bytes; its
PQ code here is ONE BIGINT (M=8 subspaces x 4 bits), a 32x compression
that turns the candidate side of every ANN join into a narrow integer
column and lets a whole inverted list live in executor cache. Scoring is
asymmetric distance (ADC): the raw query subvectors against the
candidates' codebook reconstructions — no decompression, one table
lookup per subspace.

Determinism/oracle discipline (the ann.py k-means recipe, L2 flavor):

* training: M independent k-means run as ONE (m)-keyed Lloyd loop —
  init = subvectors of the ks smallest-id sample vectors (round-6),
  assign = argmin round-6 squared L2 (ties -> smallest code), update =
  ordered-by-id elementwise mean (round-6), empty codes keep their
  centroid, ``PQ_ITERS`` fixed so the DuckDB oracle replays training as
  an unrolled CTE chain;
* every distance is ``round(d, 6)`` then scaled to an exact BIGINT
  micro value (``round(d * 1e6)``) — all downstream sums are INTEGER
  sums, immune to double-addition ordering (a groupBy SUM of doubles is
  not order-stable across engines; the int-micro trick removes the
  hazard instead of working around it);
* codes pack little-endian: ``pq_code = sum_m code_m * 16^m`` — one
  BIGINT, scalar-only driver output.

The ANN readout (``pq_ann_topk``) composes with the engine's seedless
hyperplane LSH buckets (``ann.hyperplane_bucket_expr``) as the coarse
stage — the standard bucket -> compressed-domain-score -> (optional
exact re-rank) production pattern; the exact re-rank is ann.py's
cosine scoring, deliberately not duplicated here.

Scale notes (100 TB): training touches a bounded smallest-id sample
(PQ_TRAIN_MAX); the codebook is M*ks = 128 rows, broadcast everywhere;
encode explodes the M subspace rows and joins the broadcast codebook
(oracle-shaped, no shuffle of the codebook); the ADC join's candidate
side carries (id, bucket, code) = 24 bytes/vector, and the per-pair cost
is M lookups.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .ann import DIM, hyperplane_bucket_expr

#: subspaces x bits: 8 x 4-bit codes = one 32-bit payload in a BIGINT
PQ_M = 8
PQ_KS = 16
PQ_SUB = DIM // PQ_M
#: fixed Lloyd iterations (unrolled in the oracle, like IVF)
PQ_ITERS = 3
#: bounded deterministic training sample (smallest ids)
PQ_TRAIN_MAX = 4096
#: coarse-stage hyperplane count for pq_ann_topk (the seedless
#: ann.hyperplane_bucket_expr geometry)
PQ_N_PLANES = 8

assert PQ_SUB * PQ_M == DIM and PQ_KS <= 16  # 4-bit codes


def _sub_sql(vec: str, m_var: str) -> str:
    """DuckDB: the m-th subvector (m is a column/variable)."""
    return f"list_slice({vec}, {m_var} * {PQ_SUB} + 1, {m_var} * {PQ_SUB} + {PQ_SUB})"


def _d2_expr(a: str, b: str) -> str:
    """Spark: round-6 squared L2 over PQ_SUB dims, ordered left fold."""
    return (
        f"round(aggregate(zip_with({a}, {b}, "
        "(x, y) -> (CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * "
        "(CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), "
        "CAST(0.0 AS DOUBLE), (acc, d) -> acc + d), 6)"
    )


def _d2_sql(a: str, b: str) -> str:
    """DuckDB twin: identical left fold over PQ_SUB dims."""
    return (
        f"round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(generate_series(1, {PQ_SUB}), "
        f"d -> (CAST({a}[d] AS DOUBLE) - CAST({b}[d] AS DOUBLE)) * "
        f"(CAST({a}[d] AS DOUBLE) - CAST({b}[d] AS DOUBLE)))), "
        "(acc, d) -> acc + d), 6)"
    )


#: exact BIGINT micros of a round-6 double (the value is within 1e-10 of
#: an integer multiple of 1e-6, so the round can never sit on a tie)
def _micro(d: str) -> str:
    return f"CAST(round({d} * 1000000) AS BIGINT)"


def train_pq_codebooks(
    emb: DataFrame,
    m_sub: int = PQ_M,
    ks: int = PQ_KS,
    iters: int = PQ_ITERS,
    train_max: int = PQ_TRAIN_MAX,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, int, list[float]]]:
    """Deterministic per-subspace Lloyd k-means, all M subspaces in one
    (m)-keyed loop. Returns ``[(m, c, centroid)]`` (M*ks rows). Only the
    codebook is ever collected (128 rows)."""
    spark = emb.sparkSession
    subs = f"transform(sequence(0, {m_sub - 1}), m -> slice(v, m * {PQ_SUB} + 1, {PQ_SUB}))"
    tr = (
        emb.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("v"))
        .orderBy("vid")
        .limit(train_max)
        .select("vid", F.posexplode(F.expr(subs)).alias("m", "sub"))
        .localCheckpoint(eager=True)  # the sample is reused every iteration
    )
    init = (
        tr.withColumn(
            "c",
            (
                F.row_number().over(
                    Window.partitionBy("m").orderBy(F.col("vid").asc())
                )
                - 1
            ).cast("int"),
        )
        .where(F.col("c") < ks)
        .select(
            "m",
            "c",
            F.expr("transform(sub, x -> round(CAST(x AS DOUBLE), 6))").alias(
                "cvec"
            ),
        )
    )
    cents = [(r["m"], r["c"], list(r["cvec"])) for r in init.collect()]
    zeros = f"array_repeat(CAST(0.0 AS DOUBLE), {PQ_SUB})"
    for _ in range(iters):
        cdf = spark.createDataFrame(
            cents, "m int, c int, cvec array<double>"
        )
        d2 = _d2_expr("sub", "cvec")
        w = Window.partitionBy("vid", "m").orderBy(
            F.expr(d2).asc(), F.col("c").asc()
        )
        assign = (
            tr.join(F.broadcast(cdf), "m")
            .withColumn("rn", F.row_number().over(w))
            .where("rn = 1")
        )
        means = (
            assign.groupBy("m", "c")
            .agg(
                F.count(F.lit(1)).alias("cnt"),
                F.sort_array(
                    F.collect_list(F.struct(F.col("vid"), F.col("sub")))
                ).alias("rows"),
            )
            .select(
                "m",
                "c",
                F.expr(
                    f"transform(aggregate(transform(rows, r -> r.sub), {zeros}, "
                    "(acc, vv) -> zip_with(acc, vv, (a, b) -> a + CAST(b AS DOUBLE))), "
                    "s -> round(s / cnt, 6))"
                ).alias("mvec"),
            )
        )
        got = {(r["m"], r["c"]): list(r["mvec"]) for r in means.collect()}
        cents = [(m, c, got.get((m, c), cv)) for m, c, cv in cents]
    return cents


def _codebook_df(emb: DataFrame, cents=None):
    if cents is None:
        cents = train_pq_codebooks(emb)
    return emb.sparkSession.createDataFrame(
        cents, "m int, c int, cvec array<double>"
    )


def pq_encode(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cents=None,
) -> DataFrame:
    """Oracle-shaped Column form: ``(vec_id, pq_code, quant_err_micro)``.

    Explodes the M subspaces, joins the broadcast codebook, argmin per
    (vector, subspace), integer-packs the codes and integer-sums the
    micro reconstruction errors (order-safe by construction)."""
    cdf = _codebook_df(emb, cents)
    subs = (
        f"transform(sequence(0, {PQ_M - 1}), "
        f"m -> slice({vec_col}, m * {PQ_SUB} + 1, {PQ_SUB}))"
    )
    d2 = _d2_expr("sub", "cvec")
    w = Window.partitionBy(id_col, "m").orderBy(
        F.col("d").asc(), F.col("c").asc()
    )
    per_m = (
        emb.select(
            F.col(id_col), F.posexplode(F.expr(subs)).alias("m", "sub")
        )
        .join(F.broadcast(cdf), "m")
        .withColumn("d", F.expr(d2))
        .withColumn("rn", F.row_number().over(w))
        .where("rn = 1")
    )
    return per_m.groupBy(id_col).agg(
        F.sum(
            F.expr(f"CAST(c AS BIGINT) * shiftleft(CAST(1 AS BIGINT), 4 * m)")
        ).alias("pq_code"),
        F.sum(F.expr(_micro("d"))).alias("quant_err_micro"),
    )


def pq_ann_topk(
    emb: DataFrame,
    k: int = 3,
    n_planes: int = PQ_N_PLANES,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cents=None,
) -> DataFrame:
    """LSH-bucketed ADC top-k: ``(vec_id, neighbor_id, adc_micro,
    rank)`` — candidates share the seedless hyperplane bucket, scored
    by asymmetric distance (raw query subvectors vs the neighbor's
    codebook reconstruction), ranked ascending (ties -> smallest id).

    The candidate side carries ONLY (id, bucket, pq_code); the raw
    vectors of the neighbors are never touched — the PQ contract."""
    if cents is None:
        cents = train_pq_codebooks(emb, id_col=id_col, vec_col=vec_col)
    cdf = _codebook_df(emb, cents)
    bucket = hyperplane_bucket_expr(vec_col, n_planes, DIM)
    codes = pq_encode(emb, id_col, vec_col, cents).select(
        F.col(id_col).alias("neighbor_id"), "pq_code"
    )
    cand = (
        emb.select(F.col(id_col).alias("neighbor_id"), F.expr(bucket).alias("bucket"))
        .join(codes, "neighbor_id")
    )
    queries = emb.select(
        F.col(id_col), F.expr(bucket).alias("bucket"), F.col(vec_col).alias("qv")
    )
    # per pair: M lookups — explode the subspace index, extract the
    # 4-bit code, join the broadcast codebook, integer-sum the micros
    pairs = (
        queries.join(cand, "bucket")
        .where(F.col(id_col) != F.col("neighbor_id"))
        .select(
            id_col,
            "neighbor_id",
            "qv",
            F.explode(F.expr(f"sequence(0, {PQ_M - 1})")).alias("m"),
            "pq_code",
        )
        .withColumn(
            "c",
            F.expr(
                "CAST((pq_code div shiftleft(CAST(1 AS BIGINT), 4 * m)) % 16 AS INT)"
            ),
        )
        .join(F.broadcast(_rename_cb(cdf)), ["m", "c"])
        .withColumn("sub", F.expr(f"slice(qv, m * {PQ_SUB} + 1, {PQ_SUB})"))
        .withColumn("dm", F.expr(_micro(_d2_expr("sub", "cvec"))))
    )
    adc = pairs.groupBy(id_col, "neighbor_id").agg(
        F.sum("dm").alias("adc_micro")
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("adc_micro").asc(), F.col("neighbor_id").asc()
    )
    return (
        adc.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(id_col, "neighbor_id", "adc_micro", F.col("rank").cast("int"))
    )


def _rename_cb(cdf):
    return cdf.select("m", "c", "cvec")


# ---------------------------------------------------------------------------
# DuckDB twins
# ---------------------------------------------------------------------------


def _pq_kmeans_ctes(
    m_sub: int, ks: int, iters: int, train_max: int, table: str
) -> str:
    """Unrolled replay of ``train_pq_codebooks`` — the ann.py recipe with
    (m)-keyed rows and L2 argmin."""
    zeros = f"list_transform(generate_series(1, {PQ_SUB}), d -> CAST(0.0 AS DOUBLE))"
    sub = _sub_sql("t.v", "g.m")
    parts = [
        f"""tr0 AS (
  SELECT vec_id AS vid, embedding AS v FROM {table}
  ORDER BY vid ASC LIMIT {train_max}
),
tr AS (
  SELECT t.vid, g.m, {sub} AS sub
  FROM tr0 t CROSS JOIN (SELECT unnest(generate_series(0, {m_sub - 1})) AS m) g
),
k0 AS (
  SELECT m, CAST(row_number() OVER (PARTITION BY m ORDER BY vid ASC) - 1 AS INT) AS c,
         list_transform(sub, x -> round(CAST(x AS DOUBLE), 6)) AS cvec
  FROM tr QUALIFY c < {ks}
)"""
    ]
    for t in range(iters):
        d2 = _d2_sql("t.sub", "k.cvec")
        parts.append(f"""a{t} AS (
  SELECT vid, m, sub, c FROM (
    SELECT t.vid, t.m, t.sub, k.c,
           row_number() OVER (PARTITION BY t.vid, t.m
               ORDER BY {d2} ASC, k.c ASC) AS rn
    FROM tr t JOIN k{t} k USING (m)
  ) WHERE rn = 1
),
g{t} AS (
  SELECT m, c, count(*) AS cnt, list(sub ORDER BY vid ASC) AS vs
  FROM a{t} GROUP BY 1, 2
),
k{t + 1} AS (
  SELECT k.m, k.c,
         CASE WHEN g.cnt IS NULL THEN k.cvec
              ELSE list_transform(
                     list_reduce(list_prepend({zeros}, g.vs),
                       (acc, vv) -> list_transform(generate_series(1, {PQ_SUB}),
                                      d -> acc[d] + CAST(vv[d] AS DOUBLE))),
                     s -> round(s / g.cnt, 6)) END AS cvec
  FROM k{t} k LEFT JOIN g{t} g ON g.m = k.m AND g.c = k.c
)"""
        )
    return ",\n".join(parts)


def _pq_encode_ctes(table: str, iters: int = PQ_ITERS) -> str:
    sub = _sub_sql("e.embedding", "g.m")
    d2 = _d2_sql("s.sub", "k.cvec")
    return f"""{_pq_kmeans_ctes(PQ_M, PQ_KS, iters, PQ_TRAIN_MAX, table)},
cb AS (SELECT m, c, cvec FROM k{iters}),
subs AS (
  SELECT e.vec_id, g.m, {sub} AS sub
  FROM {table} e CROSS JOIN (SELECT unnest(generate_series(0, {PQ_M - 1})) AS m) g
),
best AS (
  SELECT vec_id, m, c, d FROM (
    SELECT s.vec_id, s.m, k.c, {d2} AS d,
           row_number() OVER (PARTITION BY s.vec_id, s.m
               ORDER BY {d2} ASC, k.c ASC) AS rn
    FROM subs s JOIN cb k USING (m)
  ) WHERE rn = 1
),
codes AS (
  SELECT vec_id,
         CAST(sum(CAST(c AS BIGINT) * (CAST(1 AS BIGINT) << (4 * m))) AS BIGINT) AS pq_code,
         CAST(sum(CAST(round(d * 1000000) AS BIGINT)) AS BIGINT) AS quant_err_micro
  FROM best GROUP BY 1
)"""


def pq_ann_topk_sql(
    k: int = 3, n_planes: int = PQ_N_PLANES, table: str = "embeddings"
) -> str:
    """DuckDB twin of ``pq_ann_topk`` — same bucket geometry
    (ann.hyperplane_bucket_sql bits), code extraction and integer-micro
    ADC."""
    from .ann import hyperplane_bucket_sql

    bucket = hyperplane_bucket_sql("embedding", n_planes, DIM)
    qsub = _sub_sql("q.embedding", "g.m")
    d2 = _d2_sql("p.sub", "k.cvec")
    return f"""WITH {_pq_encode_ctes(table)},
cand AS (
  SELECT e.vec_id AS neighbor_id, {bucket} AS bucket, c.pq_code
  FROM {table} e JOIN codes c USING (vec_id)
),
queries AS (
  SELECT vec_id, {bucket} AS bucket, embedding FROM {table} AS e
),
pm AS (
  SELECT q.vec_id, c.neighbor_id, g.m,
         CAST((c.pq_code // (CAST(1 AS BIGINT) << (4 * g.m))) % 16 AS INT) AS c,
         {qsub} AS sub
  FROM queries q JOIN cand c USING (bucket)
  CROSS JOIN (SELECT unnest(generate_series(0, {PQ_M - 1})) AS m) g
  WHERE q.vec_id != c.neighbor_id
),
adc AS (
  SELECT p.vec_id, p.neighbor_id,
         CAST(sum(CAST(round({d2} * 1000000) AS BIGINT)) AS BIGINT) AS adc_micro
  FROM pm p JOIN cb k ON k.m = p.m AND k.c = p.c
  GROUP BY 1, 2
),
ranked AS (
  SELECT vec_id, neighbor_id, adc_micro,
         CAST(row_number() OVER (PARTITION BY vec_id
              ORDER BY adc_micro ASC, neighbor_id ASC) AS INT) AS rank
  FROM adc
)
SELECT vec_id, neighbor_id, adc_micro, rank FROM ranked WHERE rank <= {k}"""
