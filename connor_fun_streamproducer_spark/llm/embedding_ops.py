"""Embedding storage transforms: int8 scalar quantization.

Extends the engine past the reference's single geo dataflow
(/root/reference/regionSpout.go:57-124) with the vector-storage stage a
100 TB training/retrieval pipeline runs before indexing: symmetric int8
quantization shrinks a float32 corpus 4x (and the IVF/LSH indexes built
from it, llm/similarity.py) at a bounded recall cost. Scale posture:
per-vector map-only JVM lambdas — zero shuffles, zero Python — so the
pass fuses into the scan and is bandwidth-bound, which is the point of
quantizing in the first place.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from connor_fun_streamproducer_spark.catalog import dim_window, literal_frame, load
from connor_fun_streamproducer_spark.registry import op

EMB_DIM = 64  # fixture embedding width (TESTDATA.md)

# Guards the zero-vector division; same literal on both engines.
_EPS = "1e-12"


@op(
    "embedding_quantize",
    oracle=f"""
    WITH t AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ), m AS (
        SELECT vec_id, label, v,
               greatest(list_max(list_transform(v, x -> abs(x))), {_EPS}) / 127
                   AS scale
        FROM t
    ), q AS (
        SELECT vec_id, label, v, scale,
               list_transform(v, x -> CAST(floor(x / scale + 0.5) AS BIGINT)) AS qv
        FROM m
    )
    SELECT vec_id, label,
           round(scale, 6)                                        AS qscale,
           CAST(list_sum(qv) AS BIGINT)                           AS q_sum,
           CAST(list_sum(list_transform(qv, x -> abs(x))) AS BIGINT) AS q_l1,
           round(list_sum(list_transform(range(1, {EMB_DIM + 1}),
                          i -> abs(v[i] - qv[i] * scale))), 4)    AS recon_err
    FROM q
    """,
    tags=("llm", "embedding"),
)
def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 scalar quantization of the embedding corpus.

    Per-vector max-abs scaling: ``scale = max|v| / 127``, ``q_i =
    floor(v_i / scale + 0.5)`` (floor-form rounding so both engines run
    the identical expression — no dependence on either's ROUND tie mode).
    Emits the quantized summary a storage layer checkpoints: the scale,
    int8 component sum and L1 mass (both exact integers, hash-stable),
    and the L1 reconstruction error (the quality metric that decides
    whether int8 is acceptable for a given corpus). Everything is one
    JVM higher-order-function projection over the scan — no shuffle, no
    Python — so at 100 TB the pass streams at parquet-read bandwidth and
    the 4x-smaller output re-partitions for free into whatever index
    build consumes it.
    """
    e = load(spark, sf_dir, "embeddings")
    v = F.transform("embedding", lambda x: x.cast("double"))
    scale = (
        F.greatest(F.array_max(F.transform(v, F.abs)), F.lit(float(_EPS))) / 127
    ).alias("scale")
    d = e.select("vec_id", "label", v.alias("v"), scale)
    q = d.withColumn(
        "qv",
        F.transform("v", lambda x: F.floor(x / F.col("scale") + 0.5)),
    )
    zero = F.lit(0).cast("bigint")
    return q.select(
        "vec_id",
        "label",
        F.round("scale", 6).alias("qscale"),
        F.aggregate("qv", zero, lambda acc, x: acc + x).alias("q_sum"),
        F.aggregate("qv", zero, lambda acc, x: acc + F.abs(x)).alias("q_l1"),
        F.round(
            F.aggregate(
                F.zip_with("v", "qv", lambda a, b: F.abs(a - b * F.col("scale"))),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            4,
        ).alias("recon_err"),
    )


@op(
    "embedding_normalize_l2",
    oracle=f"""
    WITH t AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ), n AS (
        SELECT vec_id, label, v,
               greatest(sqrt(list_sum(list_transform(v, x -> x * x))), {_EPS})
                   AS nrm
        FROM t
    )
    SELECT vec_id, label,
           round(nrm, 6)                                         AS norm,
           round(list_sum(list_transform(v, x -> x / nrm)), 4)   AS unit_sum,
           round(list_max(list_transform(v, x -> abs(x) / nrm)), 4)
                                                                 AS unit_max
    FROM n
    """,
    tags=("llm", "embedding"),
)
def embedding_normalize_l2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 normalization of the embedding corpus — the prerequisite for
    every cosine-based tier (similarity search, embedding dedup,
    k-means on the unit sphere): after this pass, cosine IS dot
    product, which halves the arithmetic in every downstream scan.

    Emits per vector: the original L2 norm (the quantity an index
    stores to undo the normalization) and two checksums of the unit
    vector (component sum + max |component|) that pin the normalized
    values without hashing 64 floats directly. Same execution shape as
    embedding_quantize: one JVM higher-order-function projection, no
    shuffle, no Python — at 100 TB it streams at parquet-read
    bandwidth. Zero vectors are guarded by the shared epsilon floor
    rather than NaN-ing downstream cosine math.
    """
    e = load(spark, sf_dir, "embeddings")
    v = F.transform("embedding", lambda x: x.cast("double"))
    nrm = F.greatest(
        F.sqrt(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x)),
        F.lit(float(_EPS)),
    )
    d = e.select("vec_id", "label", v.alias("v"), nrm.alias("nrm"))
    return d.select(
        "vec_id",
        "label",
        F.round("nrm", 6).alias("norm"),
        F.round(
            F.aggregate(
                F.transform("v", lambda x: x / F.col("nrm")),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            4,
        ).alias("unit_sum"),
        F.round(
            F.array_max(F.transform("v", lambda x: F.abs(x) / F.col("nrm"))), 4
        ).alias("unit_max"),
    )


# ---------------------------------------------------------------------------
# Distance-to-centroid outlier screen (exact scaled integers)
# ---------------------------------------------------------------------------

# Quantization scale for the exact-integer distance arithmetic: 1e-4 units
# (the repo-wide embedding quantization used by pca/kmeans determinism).
_OUT_Q = 10_000
# Outlier gate: the TOP 5% furthest vectors per label (rank * 20 <= n,
# integral). A mean-multiple gate is degenerate on near-isotropic corpora
# (every random high-dim vector sits at ~the same distance from its
# centroid: observed d2/mean in [0.91, 1.11] on the fixture), so the
# screen quarantines a fixed budget of the furthest instead -- which is
# also how production curation actually spends review capacity.
_OUT_TOP_DEN = 20

_OUTLIER_ORACLE = f"""
WITH q AS (
    SELECT vec_id, label,
           list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * {_OUT_Q} + 0.5) AS BIGINT))
               AS qv
    FROM embeddings
),
pos AS (
    SELECT vec_id, label, i, qv[i] AS qx
    FROM (SELECT vec_id, label, qv, unnest(generate_series(1, {EMB_DIM})) AS i
          FROM q)
),
cent AS (
    SELECT label, i, sum(qx) AS s, count(*) AS n
    FROM pos GROUP BY 1, 2
),
d AS (
    SELECT p.vec_id, p.label,
           sum((p.qx * c.n - c.s) * (p.qx * c.n - c.s)) AS d2_scaled,
           max(c.n) AS n
    FROM pos p JOIN cent c ON p.label = c.label AND p.i = c.i
    GROUP BY 1, 2
),
r AS (
    SELECT vec_id, label, d2_scaled, n,
           row_number() OVER (PARTITION BY label
                              ORDER BY d2_scaled DESC, vec_id) AS rk
    FROM d
)
SELECT vec_id, label,
       CAST(d2_scaled AS BIGINT) AS d2_scaled,
       rk * {_OUT_TOP_DEN} <= n AS is_outlier
FROM r
"""


@op(
    "embedding_outlier_distance",
    oracle=_OUTLIER_ORACLE,
    tags=("llm", "embedding", "scale"),
)
def embedding_outlier_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label distance-to-centroid outlier screen over the embedding
    corpus: flag the top-5% of vectors furthest from their label
    centroid — the embedding-space mislabeled-sample / junk-document
    detector that runs before clustering or contrastive sampling (kmeans
    assigns everything; this says which assignments not to trust). The
    gate is RANK-based (a fixed quarantine budget per label) because a
    mean-multiple threshold is degenerate in high dimension: random
    vectors concentrate at ~equal distance from the centroid (observed
    d2/mean spread on the fixture is [0.91, 1.11]), and a fixed budget
    is how curation review capacity is actually spent.

    Exactness (the scaled-integer discipline): embeddings quantize to
    1e-4 integer units; the centroid is carried UNDIVIDED as per-dim
    sums S with count n, so the squared distance in centroid-scaled
    space — Σ_dim (q·n − S)² — is carried in decimal(38,0) (the
    ts_autocorr discipline: per-term (q·n−S)² ≈ 2.5e9·n² would overflow
    int64 once a label holds >~7.5k vectors, where DuckDB silently rides
    HUGEINT), and the outlier gate is the integral rank comparison
    rk·20 ≤ n on the (d² desc, vec_id) total order — no float ever
    crosses an engine. The final bigint cast throws under ANSI if the
    true value exceeds int64, exactly where DuckDB's BIGINT cast errors.

    Scale: one posexplode + (label, dim) hash agg builds the centroid
    sums (64·|labels| rows — dim-bounded); the distance pass joins that
    tiny frame back broadcast and aggregates per vector on the SAME
    (label-derived) keys; the gate is one rank window on the label
    partitioning. Nothing but the two linear passes scales with corpus
    size.
    """
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.expr(
            f"transform(embedding, x -> cast(floor(cast(x as double) * {_OUT_Q} + 0.5) as bigint))"
        ).alias("qv"),
    )
    pos = e.select("vec_id", "label", F.posexplode("qv").alias("i0", "qx"))
    cent = pos.groupBy("label", "i0").agg(
        F.sum("qx").alias("s"), F.count("*").alias("n")
    )
    d = (
        pos.join(F.broadcast(cent), ["label", "i0"])
        .groupBy("vec_id", "label")
        .agg(
            F.sum(
                (F.col("qx") * F.col("n") - F.col("s")).cast("decimal(19,0)")
                * (F.col("qx") * F.col("n") - F.col("s")).cast("decimal(19,0)")
            ).alias("d2_scaled"),
            F.max("n").alias("n"),
        )
    )
    from pyspark.sql.window import Window as _W

    rk = F.row_number().over(
        _W.partitionBy("label").orderBy(F.desc("d2_scaled"), F.asc("vec_id"))
    )
    return d.withColumn("rk", rk).select(
        "vec_id",
        "label",
        F.col("d2_scaled").cast("bigint").alias("d2_scaled"),
        (F.col("rk") * _OUT_TOP_DEN <= F.col("n")).alias("is_outlier"),
    )


# ---------------------------------------------------------------------------
# Inter-label centroid distances (class-separability screen)
# ---------------------------------------------------------------------------

_LBL_Q = 1000  # quantization: exact integer per-dim sums


_LABEL_DIST_ORACLE = f"""
WITH u AS (
    SELECT label, i, CAST(floor(CAST(x AS DOUBLE) * {_LBL_Q} + 0.5) AS BIGINT) AS q
    FROM (SELECT label, unnest(embedding) AS x,
                 generate_subscripts(embedding, 1) AS i FROM embeddings)
), n AS (
    SELECT label, count(*) AS n FROM embeddings GROUP BY 1
), s AS (
    SELECT label, i, sum(q) AS s FROM u GROUP BY 1, 2
), pair AS (
    SELECT a.label AS label_a, b.label AS label_b,
           list_sort(list([a.i, a.s, b.s])) AS l
    FROM s a JOIN s b ON a.i = b.i AND a.label < b.label
    GROUP BY 1, 2
)
SELECT p.label_a, p.label_b,
       CAST(na.n AS BIGINT) AS n_a,
       CAST(nb.n AS BIGINT) AS n_b,
       round(list_reduce(list_transform(p.l, e ->
                 (CAST(e[2] AS DOUBLE) / na.n - CAST(e[3] AS DOUBLE) / nb.n)
                 * (CAST(e[2] AS DOUBLE) / na.n - CAST(e[3] AS DOUBLE) / nb.n)),
             (x, y) -> x + y) / ({_LBL_Q} * {_LBL_Q}.0), 6) + 0.0 AS dist2
FROM pair p
JOIN n na ON na.label = p.label_a
JOIN n nb ON nb.label = p.label_b
"""


@op("embedding_label_distances", oracle=_LABEL_DIST_ORACLE, tags=("llm", "embedding"))
def embedding_label_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Squared distance between every pair of label centroids — the
    class-separability screen run before trusting labels for training
    or stratified sampling (centroids that coincide mean the labels
    carry no geometric signal; one far-out pair flags a mixed or
    mislabeled class).

    Exactness (embedding_covariance's discipline plus the fold): values
    quantize to integers, per-(label, dim) SUMS are exact bigints, and
    the centroid distance folds over the 64 dims in ascending-dim order
    (sorted-array left fold, text_zipf_alpha) — each per-dim term is
    the identical double expression over identical exact ints, so the
    sum is bit-identical across engines; one round(6), −0.0 normalized.
    Means are never materialized as floats before the fold.

    Scale: one explode-and-sum pass (shuffle carries |labels|×d rows,
    never vectors), a d-key equi-join of two dim-bounded frames, and
    45 fold rows. The 100 TB cost is the per-dim aggregation every
    centroid computation already pays.
    """
    emb = load(spark, sf_dir, "embeddings")
    n = emb.groupBy("label").agg(F.count("*").alias("n"))
    u = emb.select(
        "label", F.posexplode("embedding").alias("i", "x")
    ).select(
        "label",
        (F.col("i") + 1).alias("i"),  # 1-based to mirror generate_subscripts
        F.floor(F.col("x").cast("double") * _LBL_Q + F.lit(0.5))
        .cast("bigint")
        .alias("q"),
    )
    s = u.groupBy("label", "i").agg(F.sum("q").alias("s"))
    a = s.select(F.col("label").alias("label_a"), "i", F.col("s").alias("sa"))
    b = s.select(F.col("label").alias("label_b"), "i", F.col("s").alias("sb"))
    pair = (
        a.join(b, "i")
        .filter(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(F.array_sort(F.collect_list(F.array("i", "sa", "sb"))).alias("l"))
    )
    na = n.select(F.col("label").alias("label_a"), F.col("n").alias("n_a"))
    nb = n.select(F.col("label").alias("label_b"), F.col("n").alias("n_b"))
    out = pair.join(F.broadcast(na), "label_a").join(F.broadcast(nb), "label_b")
    fold = F.expr(
        "aggregate(l, CAST(0.0 AS DOUBLE), (x, e) -> x +"
        " (CAST(e[1] AS DOUBLE) / n_a - CAST(e[2] AS DOUBLE) / n_b)"
        " * (CAST(e[1] AS DOUBLE) / n_a - CAST(e[2] AS DOUBLE) / n_b))"
    )
    return out.select(
        "label_a",
        "label_b",
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        (F.round(fold / F.lit(float(_LBL_Q) ** 2), 6) + F.lit(0.0)).alias("dist2"),
    )


# ---------------------------------------------------------------------------
# Leave-one-out 1-NN label purity (label-noise screen)
# ---------------------------------------------------------------------------

_KNN_Q = 1000
_KNN_SLICE = 500  # fixed eval budget (the dedup_eval_tiers discipline)

_KNN_PURITY_ORACLE = f"""
WITH eval_ids AS (
    SELECT vec_id FROM embeddings
    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {_KNN_SLICE}
), e AS (
    SELECT m.vec_id, m.label,
           list_transform(m.embedding,
                          x -> CAST(floor(CAST(x AS DOUBLE) * {_KNN_Q} + 0.5) AS BIGINT)) AS q
    FROM embeddings m JOIN eval_ids USING (vec_id)
), pair AS (
    SELECT a.vec_id AS va, a.label AS la, b.vec_id AS vb, b.label AS lb,
           list_reduce(list_transform(range(1, len(a.q) + 1),
                                      i -> (a.q[i] - b.q[i]) * (a.q[i] - b.q[i])),
                       (x, y) -> x + y) AS dist2
    FROM e a JOIN e b ON a.vec_id <> b.vec_id
), nn AS (
    SELECT va, la,
           min(struct_pack(d := dist2, v := vb, l := lb)) AS best
    FROM pair GROUP BY 1, 2
)
SELECT CAST(la AS BIGINT) AS label,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN best.l = la THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
       CAST(sum(CASE WHEN best.l = la THEN 1 ELSE 0 END) * 10000
            // count(*) AS BIGINT) AS purity_bp
FROM nn GROUP BY 1
"""


@op("embedding_knn_label_purity", oracle=_KNN_PURITY_ORACLE, tags=("llm", "embedding", "eval"))
def embedding_knn_label_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out 1-NN label purity per class — the label-noise
    screen: for each vector, does its nearest OTHER vector carry the
    same label? Per-label agreement in basis points. Clean, separable
    labels score high; purity collapsing toward the 1/|labels| chance
    line means the labels carry no geometric signal (mislabeled or
    mixed classes) — run before trusting labels for training,
    stratified sampling, or eval-set construction.

    Exactness: embeddings quantize to integers, squared distances are
    exact bigint sums over dims (diff ≤ 2Q, 64 dims — far inside
    int64), and the neighbor argmin is a lexicographic struct-min on
    (dist², vec_id) — fully tie-broken, no floats anywhere in the
    decision path. The distance fold runs in ascending-dim order on
    both engines, though with integer terms even order is irrelevant.

    Scale: the all-pairs distance matrix is the point of a LOO eval
    and is bounded by the SAME fixed 500-vector md5 eval budget as
    dedup_eval_tiers — budget² pairs at any corpus size; the
    production-scale path for full-corpus kNN is the ANN tier
    (sim_search_ivf/pq), and THIS op is how you'd audit its labels.
    """
    emb = load(spark, sf_dir, "embeddings")
    eval_ids = (
        emb.select("vec_id")
        .orderBy(F.md5(F.col("vec_id").cast("string")), F.col("vec_id"))
        .limit(_KNN_SLICE)
    )
    e = emb.join(F.broadcast(eval_ids), "vec_id").select(
        "vec_id",
        "label",
        F.expr(
            f"transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * {_KNN_Q} + 0.5) AS BIGINT))"
        ).alias("q"),
    )
    a = e.select(
        F.col("vec_id").alias("va"), F.col("label").alias("la"), F.col("q").alias("qa")
    )
    b = e.select(
        F.col("vec_id").alias("vb"), F.col("label").alias("lb"), F.col("q").alias("qb")
    )
    pair = a.join(F.broadcast(b), F.col("va") != F.col("vb")).select(
        "va",
        "la",
        "vb",
        "lb",
        F.expr(
            "aggregate(zip_with(qa, qb, (x, y) -> (x - y) * (x - y)),"
            " CAST(0 AS BIGINT), (acc, v) -> acc + v)"
        ).alias("dist2"),
    )
    nn = pair.groupBy("va", "la").agg(
        F.min(F.struct("dist2", "vb", "lb")).alias("best")
    )
    return nn.groupBy(F.col("la").cast("bigint").alias("label")).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.when(F.col("best.lb") == F.col("la"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_agree"),
        F.expr(
            "sum(CASE WHEN best.lb = la THEN 1 ELSE 0 END) * 10000 div count(*)"
        )
        .cast("bigint")
        .alias("purity_bp"),
    )


# ---------------------------------------------------------------------------
# Greedy k-center coreset (farthest-point data selection)
# ---------------------------------------------------------------------------

_KC_K = 8        # coreset size: k driver rounds, each one scan + global top-1
_KC_Q = 10000    # quantization: exact integer squared distances


def _kc_d2_sql(sel_cte: str) -> str:
    return (
        f"CAST(list_sum(list_transform(list_zip(v.qv, (SELECT qv FROM {sel_cte})),"
        f" p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT)"
    )


def _kcenter_oracle() -> str:
    ctes = [f"""
q AS (
    SELECT vec_id,
           list_transform(CAST(embedding AS DOUBLE[]),
                          x -> CAST(floor(x * {_KC_Q} + 0.5) AS BIGINT)) AS qv
    FROM embeddings
),
s0 AS (
    SELECT 0 AS sel_round, vec_id, qv, CAST(0 AS BIGINT) AS dist2
    FROM q ORDER BY vec_id LIMIT 1
)"""]
    for r in range(1, _KC_K):
        terms = ",\n               ".join(_kc_d2_sql(f"s{j}") for j in range(r))
        least = f"least({terms})" if r > 1 else terms
        ctes.append(f"""
m{r} AS (
    SELECT v.vec_id, v.qv,
           {least} AS d2
    FROM q v
),
s{r} AS (
    SELECT {r} AS sel_round, vec_id, qv, d2 AS dist2
    FROM m{r} ORDER BY d2 DESC, vec_id LIMIT 1
)""")
    unions = "\nUNION ALL\n".join(
        f"SELECT sel_round, vec_id, dist2 FROM s{r}" for r in range(_KC_K)
    )
    return "WITH " + ",".join(ctes) + "\n" + unions


@op(
    "sample_kcenter_coreset",
    oracle=_kcenter_oracle(),
    tags=("llm", "sample", "embedding", "scale"),
)
def sample_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset over the embedding corpus (farthest-point
    traversal, Gonzalez 1985): seed with the smallest vec_id, then k-1
    times add the vector FARTHEST from the selected set — the classic
    2-approximation to the k-center cover, used as a diversity-first
    data-selection pass (pick maximally-spread exemplars before
    labeling/training instead of random sampling). Output: one row per
    selection round — (sel_round, vec_id, dist2), where dist2 is the
    exact squared distance to the previously-selected set at selection
    time (the cover radius sequence: its decay says when the corpus is
    "covered" and selection can stop).

    Exactness: embeddings quantize to 1e-4 integer units, distances are
    exact int64 sums of squared integer diffs, and every argmax is the
    total order (dist2 desc, vec_id asc) — the DuckDB oracle unrolls the
    identical k-round recurrence, so the greedy trajectory itself is
    hash-checked cross-engine.

    Scale: k driver rounds; the min-distance-to-selected rides as a
    COLUMN updated incrementally (least(mind, d2-to-newest-pick) — min
    over a set IS the running min), so each round is one constant-size
    map expression over the checkpointed frontier plus one global
    top-1 (TakeOrdered); no join, no shuffle, and the per-round
    expression does not grow with k. The collect is k rows of codebook
    size — the bounded-driver contract of _codebook/_routed_queries.
    At 100 TB: k sequential scans, each embarrassingly parallel; the
    standard coreset construction shape (GraphX-free farthest-first).
    """
    # lazy: the quantized frame is read once for the seed and once to
    # build the initial frontier; thereafter every round reads the
    # checkpointed `cur`, so an eager materialization here would just
    # duplicate the first frontier checkpoint.
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr(
            f"transform(embedding, x -> cast(floor(cast(x as double)"
            f" * {_KC_Q} + 0.5) as bigint))"
        ).alias("qv"),
    )

    def d2_to(sel_qv: list) -> "F.Column":
        # Single-parse SQL text instead of 64 py4j literal round-trips +
        # two lambda HOFs per round (OPTIMIZATION_r14 driver-side rule —
        # this built ~8 such expressions per call, ~0.2 s each).
        arr = "array(" + ", ".join(f"{int(x)}L" for x in sel_qv) + ")"
        return F.expr(
            f"aggregate(zip_with(qv, {arr}, (a, b) -> (a - b) * (a - b)),"
            f" 0L, (acc, v) -> acc + v)"
        )

    seed = e.orderBy("vec_id").limit(1).collect()[0]
    picked = [(0, int(seed["vec_id"]), 0)]
    # Incremental frontier: carry min-distance-to-selected as a COLUMN
    # and fold in ONLY the newest pick each round — min over a set is
    # the running min, so this is algebraically identical to re-taking
    # least() over every selected vector but keeps the per-round
    # expression (and its codegen) constant-size instead of growing
    # linearly with k (quadratic total work in expression evaluation).
    #
    # Materialization cadence (OPTIMIZATION_r14, guide §1.2): a
    # checkpoint per ROUND paid k-2 full frame materializations just to
    # keep the chain length at 1 — one extra job and one full write of
    # the frontier each round, dominating the op's wall time (the
    # per-round argmax is a cheap TakeOrdered). Letting ≤3 least()/d2
    # terms chain between checkpoints keeps the recompute bounded (each
    # argmax re-evaluates at most 3 constant-size folds over the last
    # checkpoint) while cutting the job count per round from 2 to 1 for
    # 3 of every 4 rounds. Trajectory unchanged: least() chains evaluate
    # the identical integers whether materialized or not.
    cur = e.select("vec_id", "qv", d2_to(list(seed["qv"])).alias("mind")).localCheckpoint()
    pending = 0
    for rnd in range(1, _KC_K):
        far = cur.orderBy(F.desc("mind"), F.asc("vec_id")).limit(1).collect()[0]
        picked.append((rnd, int(far["vec_id"]), int(far["mind"])))
        if rnd < _KC_K - 1:
            cur = cur.select(
                "vec_id",
                "qv",
                F.least(F.col("mind"), d2_to(list(far["qv"]))).alias("mind"),
            )
            pending += 1
            if pending == 3:
                cur = cur.localCheckpoint()
                pending = 0
    return literal_frame(
        spark, picked, "sel_round bigint, vec_id bigint, dist2 bigint"
    )


# ---------------------------------------------------------------------------
# Per-dimension moment profile (dead/degenerate dimension screen)
# ---------------------------------------------------------------------------

_DIM_ORACLE = """
WITH q AS (
    SELECT vec_id, d.pos,
           CAST(floor(CAST(embedding AS DOUBLE[])[d.pos + 1] * 1e6 + 0.5)
                AS BIGINT) AS x
    FROM embeddings CROSS JOIN (SELECT unnest(range(64)) AS pos) d
), m AS (
    SELECT pos, count(*) AS n, sum(x) AS s1, sum(x * x) AS s2 FROM q GROUP BY pos
), v AS (
    SELECT pos, n,
           CAST(s1 AS DOUBLE) / n / 1e6 AS mean_raw,
           (CAST(s2 AS DOUBLE) / n
            - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)) / 1e12
               AS var_raw
    FROM m
)
SELECT CAST(pos AS BIGINT) AS dim,
       CAST(n AS BIGINT) AS n,
       round(mean_raw, 6) + 0.0 AS mean,
       round(var_raw, 6) + 0.0 AS variance,
       -- rank key is +0.0-normalized like the output column: Spark's sort
       -- is Double.compare (-0.0 < 0.0) while DuckDB's treats them equal,
       -- so an un-normalized -0.0 variance could rank differently on
       -- exactly the dead-dimension rows this op surfaces (r10 ADVICE)
       CAST(row_number() OVER (ORDER BY round(var_raw, 6) + 0.0 DESC, pos)
            AS BIGINT) AS var_rank
FROM v
"""


@op("embedding_dim_profile", oracle=_DIM_ORACLE, tags=("llm", "embedding", "stats"))
def embedding_dim_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension mean/variance profile of the embedding matrix with
    a variance rank — the dead/degenerate-dimension screen run before
    anything consumes the vectors: a near-zero-variance dimension is
    wasted payload (or a collapsed encoder head), a huge-variance one
    dominates unnormalized L2 retrieval; either is invisible to the
    row-level QA ops (outlier-distance, knn-purity) because it is a
    COLUMN pathology. embedding_covariance builds the full Gramian for
    PCA; this is the O(dim) diagonal profile cheap enough to run on
    every ingest batch.

    Exact: moments are integer sums of 1e-6-quantized values
    (decimal(38,0) — order-free, the embedding_covariance discipline),
    so mean/variance are single fixed float expressions over identical
    exact integers on both engines; round(·,6), −0.0-normalized, and
    the rank ties on (variance, dim).

    Scale: one posexplode pass (the columnar-profile shape) into a
    64-key hash agg — map-side partials absorb everything; output is
    |dim| rows.
    """
    e = load(spark, sf_dir, "embeddings")
    q = e.select(
        F.posexplode(
            F.transform(
                "embedding",
                lambda v: F.floor(v.cast("double") * 1e6 + F.lit(0.5)).cast("bigint"),
            )
        ).alias("pos", "x")
    )
    m = q.groupBy("pos").agg(
        F.count("*").alias("n"),
        F.sum(F.col("x").cast("decimal(38,0)")).alias("s1"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)")).alias("s2"),
    )
    mean_raw = F.col("s1").cast("double") / F.col("n") / F.lit(1e6)
    var_raw = (
        F.col("s2").cast("double") / F.col("n")
        - (F.col("s1").cast("double") / F.col("n"))
        * (F.col("s1").cast("double") / F.col("n"))
    ) / F.lit(1e12)
    v = m.select(
        F.col("pos").cast("bigint").alias("dim"),
        F.col("n").cast("bigint").alias("n"),
        (F.round(mean_raw, 6) + F.lit(0.0)).alias("mean"),
        (F.round(var_raw, 6) + F.lit(0.0)).alias("variance"),
        (F.round(var_raw, 6) + F.lit(0.0)).alias("_vr"),
    )
    w = dim_window(
        Window.orderBy(F.desc("_vr"), F.asc("dim")),
        bound="64 dim rows",
    )
    return v.select(
        "dim", "n", "mean", "variance",
        F.row_number().over(w).cast("bigint").alias("var_rank"),
    )


# ---------------------------------------------------------------------------
# Norm-profile histogram (unnormalized-retrieval QA, per label)
# ---------------------------------------------------------------------------

_NORM_BUCKET = 200_000  # bucket width over the 1e-6-quantized squared norm
                        # scale (1e12 per unit): 0.2 units of ||x||²

_NORM_PROFILE_ORACLE = f"""
WITH q AS (
    SELECT label,
           list_reduce(list_transform(CAST(embedding AS DOUBLE[]),
               x -> CAST(floor(x * 1e6 + 0.5) AS BIGINT)
                    * CAST(floor(x * 1e6 + 0.5) AS BIGINT)), (a, b) -> a + b)
               AS n2q
    FROM embeddings
)
SELECT CAST(label AS BIGINT) AS label,
       CAST(n2q // (CAST({_NORM_BUCKET} AS BIGINT) * 1000000) AS BIGINT) AS norm2_bucket,
       CAST(count(*) AS BIGINT) AS n
FROM q GROUP BY 1, 2
"""


@op(
    "embedding_norm_profile",
    oracle=_NORM_PROFILE_ORACLE,
    tags=("llm", "embedding", "stats"),
)
def embedding_norm_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram of squared L2 norms per label — the unnormalized-
    retrieval QA table: cosine retrieval is norm-blind, but dot-product
    retrieval (and every distance-based clustering here) is dominated
    by whichever rows carry outsized norms. A label whose norm
    histogram sits in a different band is invisible to the per-
    DIMENSION screen (embedding_dim_profile) and to the centroid-
    distance outlier screen (which assumes comparable scales) — this is
    the per-ROW scale check run before choosing cosine vs dot.

    Exact: the squared norm is an order-free integer fold of
    1e-6-quantized components (the embedding_covariance discipline —
    never a float sum); bucketing is integral division. No sqrt
    anywhere, so no libm.

    Scale: map-only fold per row → (label, bucket) hash agg;
    output is |labels| × |occupied buckets| rows.
    """
    q = load(spark, sf_dir, "embeddings").select(
        "label",
        F.aggregate(
            F.transform(
                "embedding",
                lambda v: F.floor(v.cast("double") * 1e6 + F.lit(0.5)).cast("bigint"),
            ),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x * x,
        ).alias("n2q"),
    )
    return q.groupBy(
        F.col("label").cast("bigint").alias("label"),
        F.expr(f"n2q div ({_NORM_BUCKET}L * 1000000L)")
        .cast("bigint")
        .alias("norm2_bucket"),
    ).agg(F.count("*").cast("bigint").alias("n"))


# ---------------------------------------------------------------------------
# Exact-duplicate vector audit (quantized-digest dedup of the vector space)
# ---------------------------------------------------------------------------

_VEC_EXACT_ORACLE = """
WITH q AS (
    SELECT label,
           md5(array_to_string(list_transform(CAST(embedding AS DOUBLE[]),
               x -> CAST(CAST(floor(x * 1e6 + 0.5) AS BIGINT) AS VARCHAR)),
               ',')) AS digest
    FROM embeddings
)
SELECT CAST(label AS BIGINT) AS label,
       CAST(count(*) AS BIGINT) AS n_vectors,
       CAST(count(DISTINCT digest) AS BIGINT) AS n_distinct,
       CAST(count(*) - count(DISTINCT digest) AS BIGINT) AS n_dup_vectors
FROM q GROUP BY 1
"""


@op(
    "dedup_vector_exact",
    oracle=_VEC_EXACT_ORACLE,
    tags=("llm", "embedding", "dedup"),
)
def dedup_vector_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate VECTOR audit per label: total vs distinct
    1e-6-quantized embeddings and the duplicate surplus — the
    vector-space twin of dedup_exact. Identical embeddings usually mean
    an upstream bug (the same row embedded twice, a collapsed encoder
    emitting one point, a retry double-write), and they silently bias
    every centroid, k-NN vote, and IVF cell they land in —
    dedup_embedding finds NEAR vectors at blocking cost; this finds
    byte-equal ones at one-shuffle cost and runs first.

    Exact: the digest is md5 over the comma-joined 1e-6-quantized
    integer components (the repo-wide quantization, so "equal" means
    equal at the precision every other embedding op already uses);
    counts are integers.

    Scale: map-side quantize+digest → |labels|-key agg with
    count-distinct partials; shuffles carry 32-byte digests, never
    vectors (the dedup_exact posture).
    """
    q = load(spark, sf_dir, "embeddings").select(
        "label",
        F.md5(
            F.concat_ws(
                ",",
                F.transform(
                    "embedding",
                    lambda v: F.floor(v.cast("double") * 1e6 + F.lit(0.5))
                    .cast("bigint")
                    .cast("string"),
                ),
            )
        ).alias("digest"),
    )
    return q.groupBy("label").agg(
        F.count("*").alias("_n"),
        F.countDistinct("digest").alias("_d"),
    ).select(
        F.col("label").cast("bigint").alias("label"),
        F.col("_n").cast("bigint").alias("n_vectors"),
        F.col("_d").cast("bigint").alias("n_distinct"),
        (F.col("_n") - F.col("_d")).cast("bigint").alias("n_dup_vectors"),
    )


# ---------------------------------------------------------------------------
# Isotropy audit: cosine distribution over deterministic random-ish pairs
# ---------------------------------------------------------------------------

_ISO_BUCKETS = 64   # md5 buckets; pairs form within a bucket only
_ISO_PER_BUCKET = 8  # first k vectors per bucket pair up: <=64*28 pairs


_ISO_ORACLE = f"""
WITH b AS (
    SELECT vec_id, embedding,
           CAST(CAST('0x' || substr(md5('iso:' || CAST(vec_id AS VARCHAR)), 1, 8)
                AS UBIGINT) % {_ISO_BUCKETS} AS BIGINT) AS bkt
    FROM embeddings
), r AS (
    SELECT vec_id, embedding, bkt,
           row_number() OVER (PARTITION BY bkt ORDER BY vec_id) AS rk
    FROM b
    QUALIFY rk <= {_ISO_PER_BUCKET}
), p AS (
    SELECT round(
               list_dot_product(CAST(x.embedding AS DOUBLE[]),
                                CAST(y.embedding AS DOUBLE[]))
               / (sqrt(list_dot_product(CAST(x.embedding AS DOUBLE[]),
                                        CAST(x.embedding AS DOUBLE[])))
                * sqrt(list_dot_product(CAST(y.embedding AS DOUBLE[]),
                                        CAST(y.embedding AS DOUBLE[])))),
               6) AS cos
    FROM r x JOIN r y ON x.bkt = y.bkt AND x.vec_id < y.vec_id
)
SELECT CAST(floor(cos * 10) AS BIGINT) AS cos_band,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(CAST(floor(abs(cos) * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
           AS abs_cos_sum_u
FROM p GROUP BY 1
"""


@op("embedding_isotropy_pairs", oracle=_ISO_ORACLE, tags=("llm", "embedding"))
def embedding_isotropy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotropy audit of the embedding space: the distribution of
    cosine similarity over a deterministic sample of UNRELATED pairs,
    banded into 0.1-wide cos bands. Isotropic embeddings put random
    pairs near cos ≈ 0; a collapsed or anisotropic encoder (the classic
    "all embeddings share a dominant direction" failure) shifts the
    whole histogram toward +1, which silently breaks every
    cosine-threshold op downstream (dedup_embedding's threshold,
    sim_margin_profile's margins). embedding_dim_profile finds DEAD
    dimensions; this finds the common-direction failure that per-dim
    moments can't see.

    Pair sample (stated, deterministic): vectors land in {_ISO_BUCKETS}
    md5 buckets and only the first {_ISO_PER_BUCKET} per bucket (by
    vec_id) pair up — ≤ {_ISO_BUCKETS}·28 pairs regardless of corpus
    size, and the md5 keying makes the pairs as-if-random without any
    RNG to coordinate across engines.

    Exact: band edges cut on the ROUNDED cosine (the dedup_embedding
    discipline); per-band counts are integers; the per-band |cos| sum is an
    INTEGER micro-unit aggregate (1e-6-quantized after the round — the
    order-free form; no float passes through an aggregate).

    Scale: map-side bucketing → a {_ISO_BUCKETS}-key rank window over
    ≤{_ISO_PER_BUCKET} kept rows per bucket → a bounded self-join —
    constant work at any corpus size.
    """
    from connor_fun_streamproducer_spark.llm.similarity import cosine_expr

    b = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        "embedding",
        (
            F.conv(
                F.substring(F.md5(F.concat(F.lit("iso:"), F.col("vec_id").cast("string"))), 1, 8),
                16,
                10,
            ).cast("bigint")
            % _ISO_BUCKETS
        ).alias("bkt"),
    )
    r = (
        b.select(
            "vec_id",
            "embedding",
            "bkt",
            F.row_number()
            .over(Window.partitionBy("bkt").orderBy("vec_id"))
            .alias("rk"),
        )
        .filter(F.col("rk") <= _ISO_PER_BUCKET)
    )
    x = r.alias("x")
    y = r.alias("y")
    p = x.join(
        y,
        (F.col("x.bkt") == F.col("y.bkt")) & (F.col("x.vec_id") < F.col("y.vec_id")),
    ).select(
        F.round(cosine_expr("x.embedding", "y.embedding"), 6).alias("cos")
    )
    return p.groupBy(
        F.floor(F.col("cos") * 10).cast("bigint").alias("cos_band")
    ).agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.sum(F.floor(F.abs(F.col("cos")) * 1000000 + F.lit(0.5)).cast("bigint"))
        .cast("bigint")
        .alias("abs_cos_sum_u"),
    )


# ---------------------------------------------------------------------------
# Per-label centroid drift between corpus halves (embedding drift monitor)
# ---------------------------------------------------------------------------

_DRIFT_Q = 10000  # 1e-4 embedding quantization (the outlier_distance scale)

_DRIFT_ORACLE = f"""
WITH b AS (
    SELECT vec_id, label, embedding,
           (SELECT (min(vec_id) + max(vec_id)) // 2 FROM embeddings) AS mid
    FROM embeddings
), pos AS (
    SELECT label,
           CASE WHEN vec_id < mid THEN 0 ELSE 1 END AS era,
           i AS i0,
           CAST(floor(CAST(embedding[i] AS DOUBLE) * {_DRIFT_Q} + 0.5)
                AS BIGINT) AS qx
    FROM (SELECT label, vec_id, mid, embedding,
                 unnest(generate_series(1, {EMB_DIM})) AS i
          FROM b)
), m AS (
    SELECT label, era, i0, sum(qx) AS s, count(*) AS n
    FROM pos GROUP BY 1, 2, 3
), p AS (
    SELECT a.label, a.i0, a.s AS sa, a.n AS na, c.s AS sb, c.n AS nb
    FROM m a JOIN m c ON a.label = c.label AND a.i0 = c.i0
    WHERE a.era = 0 AND c.era = 1
), d AS (
    SELECT label, max(na) AS na, max(nb) AS nb,
           sum(CAST(sa * nb - sb * na AS HUGEINT)
               * CAST(sa * nb - sb * na AS HUGEINT)) AS ss
    FROM p GROUP BY 1
)
SELECT label,
       CAST(na AS BIGINT) AS n_era_a,
       CAST(nb AS BIGINT) AS n_era_b,
       round(sqrt(CAST(ss AS DOUBLE))
             / (CAST(na AS DOUBLE) * nb * {_DRIFT_Q}), 6) + 0.0
           AS centroid_shift_l2
FROM d
"""


@op("embedding_centroid_drift", oracle=_DRIFT_ORACLE, tags=("llm", "embedding"))
def embedding_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid L2 shift between the first and second half of
    the corpus (by vec_id midpoint — ingestion order): the embedding
    drift monitor. A re-trained or silently updated encoder moves every
    label's centroid at once; a label whose data genuinely changed moves
    alone — so the per-label table separates "the encoder changed"
    (retrain/re-embed everything) from "this class drifted" (refresh its
    training slice). Runs next to stats_psi_stability exactly as
    embeddings run next to tabular features.

    Exact (the outlier_distance discipline on two eras): per-(label,
    era, dim) integer sums of 1e-4-quantized coordinates; the centroid
    difference is carried UNDIVIDED as S_a·n_b − S_b·n_a (one common
    denominator, no float division per dim) and squared/summed in
    HUGEINT/decimal(38,0); one final fixed-shape sqrt + normalization,
    rounded.

    Scale: one posexplode → (label, era, dim) hash agg (2·64·|labels|
    rows — dim-bounded) → a tiny self-join on (label, dim) → |labels|
    rollup. Both linear passes are map-side partial-combined.
    """
    e = load(spark, sf_dir, "embeddings")
    mid = e.agg(F.expr("(min(vec_id) + max(vec_id)) div 2").alias("m")).collect()[0][
        "m"
    ]  # 1-row probe: the era boundary literal
    pos = e.select(
        "label",
        F.when(F.col("vec_id") < F.lit(mid), F.lit(0)).otherwise(F.lit(1)).alias("era"),
        F.posexplode(
            F.expr(
                f"transform(embedding, x -> cast(floor(cast(x as double) * {_DRIFT_Q} + 0.5) as bigint))"
            )
        ).alias("i0", "qx"),
    )
    m = pos.groupBy("label", "era", "i0").agg(
        F.sum("qx").alias("s"), F.count("*").alias("n")
    )
    a = m.filter(F.col("era") == 0).select(
        "label", "i0", F.col("s").alias("sa"), F.col("n").alias("na")
    )
    c = m.filter(F.col("era") == 1).select(
        "label", "i0", F.col("s").alias("sb"), F.col("n").alias("nb")
    )
    # promote BEFORE multiplying (mirrors the oracle's CAST(.. AS HUGEINT)
    # placement): sa*nb in bigint could silently wrap at very large per-era
    # counts under non-ANSI mode; decimal(38,0) operands make the products
    # and their difference exact
    diff = F.col("sa").cast("decimal(38,0)") * F.col("nb") - F.col("sb").cast(
        "decimal(38,0)"
    ) * F.col("na")
    d = (
        a.join(c, ["label", "i0"])
        .groupBy("label")
        .agg(
            F.max("na").alias("na"),
            F.max("nb").alias("nb"),
            F.sum(diff * diff).alias("ss"),
        )
    )
    return d.select(
        "label",
        F.col("na").cast("bigint").alias("n_era_a"),
        F.col("nb").cast("bigint").alias("n_era_b"),
        (
            F.round(
                F.sqrt(F.col("ss").cast("double"))
                / (F.col("na").cast("double") * F.col("nb") * _DRIFT_Q),
                6,
            )
            + F.lit(0.0)
        ).alias("centroid_shift_l2"),
    )


# ---------------------------------------------------------------------------
# Triplet-violation rate per label (is the metric space label-consistent?)
# ---------------------------------------------------------------------------

_TRIP_K = 8       # triplets per label — md5-budgeted, fixed at ANY corpus size
_TRIP_Q = 10_000  # 1e-4 quantization (the repo-wide exact-distance scale)

_TRIPLET_ORACLE = f"""
WITH q AS (
    SELECT label, vec_id,
           list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * {_TRIP_Q} + 0.5) AS BIGINT))
               AS qv,
           row_number() OVER (PARTITION BY label
                              ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
               AS rk,
           count(*) OVER (PARTITION BY label) AS nl
    FROM embeddings
), idx AS (
    SELECT label,
           row_number() OVER (ORDER BY label) AS j,
           count(*) OVER () AS nlab
    FROM (SELECT DISTINCT label FROM embeddings)
), nm AS (
    SELECT a.label, b.label AS neg_label
    FROM idx a JOIN idx b ON b.j = a.j % a.nlab + 1
), tri AS (
    SELECT a.label, a.rk AS i, a.qv AS va, p.qv AS vp, n.qv AS vn
    FROM q a
    JOIN q p ON p.label = a.label AND p.rk = a.rk + {_TRIP_K}
    JOIN nm  ON nm.label = a.label
    JOIN q n ON n.label = nm.neg_label AND n.rk = a.rk
    WHERE a.rk <= {_TRIP_K} AND a.nl >= 2 * {_TRIP_K} AND n.nl >= {_TRIP_K}
), d AS (
    SELECT label,
           list_sum(list_transform(range(1, 65),
               k -> (va[k] - vp[k]) * (va[k] - vp[k]))) AS d2_ap,
           list_sum(list_transform(range(1, 65),
               k -> (va[k] - vn[k]) * (va[k] - vn[k]))) AS d2_an
    FROM tri
)
SELECT label,
       CAST(count(*) AS BIGINT) AS n_triplets,
       CAST(sum(CASE WHEN d2_ap >= d2_an THEN 1 ELSE 0 END) AS BIGINT)
           AS n_violations,
       CAST(sum(CASE WHEN d2_ap >= d2_an THEN 1 ELSE 0 END) * 10000
            // count(*) AS BIGINT) AS violation_bp
FROM d GROUP BY 1
"""


@op("embedding_triplet_violation", oracle=_TRIPLET_ORACLE, tags=("llm", "embedding"))
def embedding_triplet_violation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triplet-violation rate per label: for {k} md5-budgeted triplets
    (anchor, same-label positive, next-label negative), how often is the
    anchor CLOSER to the negative than to its positive (d²(a,p) ≥
    d²(a,n), ties violate — stated)? The metric-learning QA number:
    embedding_knn_label_purity asks "is the neighborhood majority
    right", this asks the relative-margin question a triplet/contrastive
    loss optimizes — a high rate on a label means its region overlaps
    the next class and ANN label filtering there is unreliable.

    Exact: anchors are ranks 1..{k} and positives ranks {k}+1..2·{k}
    per label under the (md5, vec_id) total order; the negative label
    is the cyclic successor in label order (a fixed, stated pairing);
    distances are exact integer sums of squared 1e-4-quantized
    differences (the isotropy-pairs discipline); the verdict is an
    integer compare and an integral bp. Labels with fewer than 2·{k}
    members are skipped, stated.

    Scale: the triplet set is {k}·|labels| rows at ANY corpus size
    (the md5-budget posture); the rank windows are the only corpus-
    touching stage, one exchange on label.
    """
    e = load(spark, sf_dir, "embeddings")
    qv = F.expr(
        f"transform(embedding, x -> cast(floor(cast(x as double) * {_TRIP_Q}"
        " + 0.5) as bigint))"
    )
    wl = Window.partitionBy("label")
    q = e.select(
        "label",
        "vec_id",
        qv.alias("qv"),
        F.row_number()
        .over(wl.orderBy(F.md5(F.col("vec_id").cast("string")), F.col("vec_id")))
        .alias("rk"),
        F.count("*").over(wl).alias("nl"),
    )
    # only ranks <= 2K matter for any branch: cut the corpus ONCE and
    # checkpoint the 2K·|labels|-row budget frame so the anchor /
    # positive / negative derivations don't re-run the corpus rank
    # window three times
    q = q.filter(F.col("rk") <= 2 * _TRIP_K).localCheckpoint()
    # every label keeps its rk=1 row through the cut — derive the label
    # universe from the checkpointed budget frame, not a second scan
    labs = q.select("label").distinct()
    idx = labs.select(
        "label",
        F.row_number()
        .over(dim_window(Window.orderBy("label"), bound="|labels| rows"))
        .alias("j"),
        F.count("*")
        .over(dim_window(Window.partitionBy(), bound="|labels| rows"))
        .alias("nlab"),
    )
    nm = (
        idx.alias("a")
        .join(
            idx.alias("b"),
            F.col("b.j") == F.col("a.j") % F.col("a.nlab") + 1,
        )
        .select(F.col("a.label").alias("label"), F.col("b.label").alias("neg_label"))
    )
    a = q.filter((F.col("rk") <= _TRIP_K) & (F.col("nl") >= 2 * _TRIP_K)).select(
        "label", F.col("rk").alias("i"), F.col("qv").alias("va")
    )
    p = q.select(
        F.col("label").alias("p_label"),
        (F.col("rk") - _TRIP_K).alias("p_i"),
        F.col("qv").alias("vp"),
    )
    n = q.filter(F.col("nl") >= _TRIP_K).select(
        F.col("label").alias("n_label"),
        F.col("rk").alias("n_i"),
        F.col("qv").alias("vn"),
    )
    tri = (
        a.join(F.broadcast(nm), "label")
        .join(p, (F.col("p_label") == F.col("label")) & (F.col("p_i") == F.col("i")))
        .join(
            n,
            (F.col("n_label") == F.col("neg_label")) & (F.col("n_i") == F.col("i")),
        )
    )

    def d2(x: str, y: str):
        return F.expr(
            f"aggregate(zip_with({x}, {y}, (a, b) -> (a - b) * (a - b)),"
            " cast(0 as bigint), (acc, v) -> acc + v)"
        )

    d = tri.select("label", d2("va", "vp").alias("d2_ap"), d2("va", "vn").alias("d2_an"))
    g = d.groupBy("label").agg(
        F.count("*").alias("n_triplets"),
        F.sum(F.when(F.col("d2_ap") >= F.col("d2_an"), 1).otherwise(0)).alias(
            "n_violations"
        ),
    )
    return g.select(
        "label",
        F.col("n_triplets").cast("bigint").alias("n_triplets"),
        F.col("n_violations").cast("bigint").alias("n_violations"),
        F.expr("n_violations * 10000 div n_triplets")
        .cast("bigint")
        .alias("violation_bp"),
    )
