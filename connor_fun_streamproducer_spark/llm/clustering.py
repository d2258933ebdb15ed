"""Distributed k-means clustering over the embedding corpus.

The corpus-curation step between dedup and sampling: cluster the
embedding space, then balance/downsample per cluster (semdedup-style
curation, Abbas et al. 2023 — cluster first, prune within clusters).
``sample_mix_target`` (llm/corpus.py) consumes exactly this kind of
per-group assignment.

Spark-first design (Lloyd's algorithm, no MLlib dependency, no RDDs):

- **Assignment is JVM-side.** Centroids are k×dim literals (k=8, dim=64
  — a few KB) baked into a whole-stage-codegen expression per iteration:
  squared L2 via ``zip_with`` + ``aggregate`` HOFs, argmin via
  ``array_min`` over (dist, cid) structs (struct comparison orders by
  dist then cid — deterministic tie-break). Zero Python in the hot path,
  zero shuffle for assignment.
- **Update is one keyed shuffle.** ``posexplode(embedding)`` →
  ``groupBy(cluster, pos).avg`` computes the element-wise mean with
  map-side partials; only k×dim aggregated rows come back to the driver
  (the same bounded-collect contract as the IVF codebook,
  llm/similarity.py — O(k·dim), never O(n)).
- **Centroids are quantized** to 1e-4 with the repo's floor idiom each
  round: double summation order varies run to run at scale, and an
  un-quantized last-ulp wobble near a Voronoi boundary could flip an
  assignment — quantization makes the fixpoint bit-reproducible.
- **Iteration lineage is cut** by re-building each round's assignment
  from the ONE cached base frame + new literals (the plan never nests:
  round i's plan is identical in shape to round 0's), so 100 rounds at
  100 TB would not blow up the optimizer the way naive iterative
  DataFrame reuse does.

The reference has no clustering (its stream is unmodeled payload —
regionSpout.go:152); this is EXT-tier corpus tooling per SURVEY §2.
HASH-CHECKED since round 9: the fixpoint unrolls into a DuckDB oracle
(_kmeans_oracle) because centroid updates are order-free integer sums
of 1e-6-quantized inputs and every assignment is a (round(d2,6), cid)
total order; tests/test_llm.py additionally pins determinism,
convergence (monotone non-increasing inertia), and exact agreement
with a NumPy re-implementation of the same recurrence on the same init.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from connor_fun_streamproducer_spark.catalog import (
    REPO_ROOT,
    fixture_fingerprint,
    load,
    materialize_once,
    table_path,
)
from connor_fun_streamproducer_spark.registry import op

K_CLUSTERS = 8
N_ITERS = 4
_Q = 10000  # centroid quantization: floor(x*_Q + 0.5)/_Q


def _quantize(x: float) -> float:
    import math

    return math.floor(x * _Q + 0.5) / _Q


def _assign_expr(centroids: list[list[float]]):
    """(cluster, dist) argmin over centroid literals — pure JVM HOFs.

    The argmin compares (round(d2, 6), cid) — the cross-engine total
    order of the ivf/pq discipline (round 9): bit-identical fold d2s
    make raw comparison safe in principle, but the rounded decision is
    the proven recipe and costs one extra struct field. The raw d2
    rides along as the third field (never compared — (dr, cid) is
    unique) and is what the chosen row reports as ``dist``."""
    candidates = []
    for cid, c in enumerate(centroids):
        carr = F.array(*[F.lit(float(v)) for v in c])
        d = F.aggregate(
            F.zip_with("embedding", carr, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        candidates.append(
            F.struct(
                F.round(d, 6).alias("dr"), F.lit(cid).alias("cid"), d.alias("dist")
            )
        )
    best = F.array_min(F.array(*candidates))
    return best["cid"].alias("cluster"), best["dist"].alias("dist")


def kmeans_assignments(
    spark: SparkSession, sf_dir: str, k: int = K_CLUSTERS, n_iters: int = N_ITERS
) -> tuple[DataFrame, list[float]]:
    """Run Lloyd's k-means; return (assignments df, per-round inertia).

    Init is deterministic: the embeddings of the k lowest vec_ids.
    Inertia history is computed from the SAME aggregate that updates the
    centroids (no extra pass) and is returned for the convergence test.
    """
    base = (
        load(spark, sf_dir, "embeddings")
        .select(
            "vec_id",
            "embedding",
            # 1e-6-quantized integer inputs for the centroid update: a
            # distributed DOUBLE mean depends on partial-sum order, but
            # an INTEGER sum is order-free and exact — so the update is
            # bit-reproducible across runs, partitionings, and engines
            # (round 9; what lets the fixpoint be SQL-oracled at all)
            F.transform(
                "embedding",
                lambda v: F.floor(v.cast("double") * 1e6 + F.lit(0.5)).cast("bigint"),
            ).alias("xq"),
        )
        .cache()
    )
    seed_rows = base.orderBy("vec_id").limit(k).collect()  # k rows — dim-scale
    centroids = [[_quantize(float(v)) for v in r.embedding] for r in seed_rows]

    inertia_history: list[float] = []
    assigned = None
    for _ in range(n_iters):
        cluster_col, dist_col = _assign_expr(centroids)
        assigned = base.select("vec_id", "embedding", "xq", cluster_col, dist_col)
        # One shuffle: element-wise integer sums + counts, map-side
        # partials first (decimal(38,0) — int64 would overflow the sum
        # of 1e6-scaled units on a 100 TB hot cluster).
        stats = (
            assigned.select("cluster", F.posexplode("xq").alias("pos", "x"))
            .groupBy("cluster", "pos")
            .agg(
                F.sum(F.col("x").cast("decimal(38,0)")).alias("s"),
                F.count("*").alias("cnt"),
            )
        )
        upd = (
            stats.groupBy("cluster")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "s", "cnt"))).alias("ms"))
            .collect()
        )  # k rows of k×dim sums — bounded collect, codebook contract
        inertia = (
            assigned.agg(F.sum("dist").alias("i")).collect()[0]["i"]
        )
        inertia_history.append(round(inertia, 2))
        for r in upd:
            # float(Decimal) / cnt / 1e6: every step is the identical
            # correctly-rounded conversion both SQL engines perform
            centroids[r.cluster] = [
                _quantize(float(s.s) / s.cnt / 1e6) for s in r.ms
            ]
    # The cache is an ITERATION-scope artifact: release it before
    # returning, or it leaks session-wide — every later plan over the
    # same embeddings scan silently swaps to InMemoryTableScan (observed
    # as plan-snapshot drift), and at 100 TB it pins the corpus in
    # executor storage memory forever. The returned frame recomputes one
    # cheap scan instead.
    base.unpersist()
    return assigned.select("vec_id", "cluster", "dist"), inertia_history


# Materialized Lloyd assignment (build-once/serve-many — VERDICT r9 #3):
# the 4 iterative rounds run ONCE per embeddings-fixture version; both
# consumers (embedding_cluster_kmeans's rollup, embedding_cluster_label_mix's
# label join) read the parquet (vec_id, cluster, dist) frame. At 100 TB the
# assignment IS the curation table every downstream sampler joins against —
# exactly the artifact you'd persist, not recompute.
_KM_ROOT = os.path.join(REPO_ROOT, ".kmeans_index")


def kmeans_assignment_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The materialized (vec_id, cluster, dist) Lloyd fixpoint assignment.

    Keyed by embeddings fingerprint + (k, iters) + construction version,
    so a changed fixture or geometry rebuilds instead of serving stale
    assignments. ``dist`` is the raw double (parquet round-trips doubles
    exactly), so consumers quantize it identically to the inline path."""
    from connor_fun_streamproducer_spark.catalog import construction_rev

    path = os.path.join(
        _KM_ROOT,
        f"{fixture_fingerprint(sf_dir, 'embeddings')}"
        f"-k{K_CLUSTERS}-i{N_ITERS}-v1-r{construction_rev(kmeans_assignments)}",
    )
    return materialize_once(
        spark, path, lambda: kmeans_assignments(spark, sf_dir)[0],
        source=table_path(sf_dir, "embeddings"),
    )


def _kmeans_af_ctes() -> str:
    """DuckDB replay of the full quantized-Lloyd fixpoint — N_ITERS
    unrolled rounds (the sample_kcenter_coreset proof that driver-
    iterative ops are oracle-able, applied to Lloyd; VERDICT r8 #5).
    Replayable because every decision is a total order (round(d2,6) +
    cid tie) and every centroid derives from ORDER-FREE integer sums of
    1e-6-quantized inputs — the one place a distributed float mean
    would desync engines is exactly the place the op carries integers."""
    k, iters = K_CLUSTERS, N_ITERS
    D2R = (
        "round(list_reduce(list_transform(range(64), d ->"
        " (v.e[d+1]-c.c[d+1])*(v.e[d+1]-c.c[d+1])), (a,b) -> a+b), 6)"
    )
    D2RAW = (
        "list_reduce(list_transform(range(64), d ->"
        " (v.e[d+1]-c.c[d+1])*(v.e[d+1]-c.c[d+1])), (a,b) -> a+b)"
    )
    rounds = []
    for t in range(1, iters):  # iters-1 updates: the final round only assigns
        rounds.append(f"""
a{t} AS (
    SELECT vec_id, xq, cid FROM (
        SELECT v.vec_id, v.xq, c.cid,
               row_number() OVER (PARTITION BY v.vec_id
                                  ORDER BY {D2R} ASC, c.cid ASC) AS ar
        FROM vec v CROSS JOIN c{t - 1} c
    ) WHERE ar = 1
),
s{t} AS (
    SELECT cid, pos, sum(xq[pos + 1]) AS s, count(*) AS cnt
    FROM a{t} CROSS JOIN dims GROUP BY cid, pos
),
n{t} AS (
    SELECT cid, list(CAST(s AS DOUBLE) / cnt / 1e6 ORDER BY pos) AS mraw
    FROM s{t} GROUP BY cid
),
c{t} AS (
    SELECT p.cid,
           CASE WHEN n.mraw IS NULL THEN p.c
                ELSE list_transform(n.mraw, x -> floor(x * 1e4 + 0.5) / 1e4)
           END AS c
    FROM c{t - 1} p LEFT JOIN n{t} n USING (cid)
)""")
    return f"""
WITH vec AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
           list_transform(CAST(embedding AS DOUBLE[]),
                          x -> CAST(floor(x * 1e6 + 0.5) AS BIGINT)) AS xq
    FROM embeddings
), dims AS (SELECT unnest(range(64)) AS pos
), c0 AS (
    SELECT rn - 1 AS cid, list_transform(e, x -> floor(x * 1e4 + 0.5) / 1e4) AS c
    FROM (SELECT row_number() OVER (ORDER BY vec_id) AS rn, e
          FROM vec ORDER BY vec_id LIMIT {k})
),{",".join(rounds)},
af AS (
    SELECT vec_id, cid, dq FROM (
        SELECT v.vec_id, c.cid,
               CAST(floor({D2RAW} * 1e6 + 0.5) AS BIGINT) AS dq,
               row_number() OVER (PARTITION BY v.vec_id
                                  ORDER BY {D2R} ASC, c.cid ASC) AS ar
        FROM vec v CROSS JOIN c{iters - 1} c
    ) WHERE ar = 1
)"""


def _kmeans_oracle() -> str:
    """Final rollup over the shared assignment replay (_kmeans_af_ctes),
    so any oracle composing on the clustering (embedding_cluster_label_mix)
    reuses the identical fixpoint definition."""
    return _kmeans_af_ctes() + """
SELECT CAST(cid AS BIGINT) AS cluster,
       CAST(count(*) AS BIGINT) AS n_members,
       floor(CAST(sum(dq) AS DOUBLE) / 1e4 + 0.5) / 100 AS inertia
FROM af GROUP BY cid
"""


@op(
    "embedding_cluster_kmeans",
    oracle=_kmeans_oracle(),
    tags=("ext", "llm", "iterative", "scale"),
)
def embedding_cluster_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster summary after 4 deterministic Lloyd rounds (k=8).

    Returns (cluster, n_members, inertia) — cluster sizes and the
    within-cluster sum of 1e-6-quantized squared distances, in currency
    of 0.01. Row shape is O(k), stable across runs by construction
    (quantized centroids + rounded struct-ordered argmin tie-break).

    HASH-CHECKED since round 9 (previously rows-only): the four Lloyd
    rounds unroll into the oracle as CTEs; centroid updates are exact
    integer sums (order-free) over 1e-6-quantized inputs divided and
    1e-4-quantized identically on both engines, and per-row distances
    quantize to integers before the cross-row sum — no distributed
    float accumulation anywhere in the checked output.

    Since r10 the rollup serves from the materialized assignment
    (kmeans_assignment_table) — the Lloyd rounds run once per corpus
    version, not per consumer.
    """
    assigned = kmeans_assignment_table(spark, sf_dir)
    return (
        assigned.groupBy("cluster")
        .agg(
            F.count("*").cast("bigint").alias("n_members"),
            F.sum(
                F.floor(F.col("dist") * 1e6 + F.lit(0.5)).cast("decimal(38,0)")
            ).alias("sq"),
        )
        .select(
            F.col("cluster").cast("bigint").alias("cluster"),
            "n_members",
            (F.floor(F.col("sq").cast("double") / 1e4 + F.lit(0.5)) / 100).alias(
                "inertia"
            ),
        )
        .orderBy("cluster")
    )


# ---------------------------------------------------------------------------
# Per-cluster label composition (semdedup curation table)
# ---------------------------------------------------------------------------


def _label_mix_oracle() -> str:
    return _kmeans_af_ctes() + """,
lab AS (SELECT vec_id, label FROM embeddings),
cells AS (
    SELECT a.cid, l.label, count(*) AS n
    FROM af a JOIN lab l USING (vec_id) GROUP BY 1, 2
)
SELECT CAST(cid AS BIGINT) AS cluster,
       CAST(label AS BIGINT) AS label,
       CAST(n AS BIGINT) AS n,
       CAST(n * 10000 // sum(n) OVER (PARTITION BY cid) AS BIGINT) AS share_bp
FROM cells
"""


@op(
    "embedding_cluster_label_mix",
    oracle=_label_mix_oracle(),
    tags=("ext", "llm", "iterative", "stats"),
)
def embedding_cluster_label_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label composition per k-means cluster: (cluster, label, count,
    within-cluster share in basis points) — the table semdedup-style
    curation actually reads: a cluster dominated by one label is a
    candidate for per-cluster downsampling (redundant mass), a
    high-entropy cluster is kept whole, and a label split across many
    clusters signals that the embedding space doesn't separate it.
    embedding_cluster_kmeans reports cluster sizes/inertia (geometry);
    this joins the SAME assignment against the labels (semantics) —
    the composition step between clustering and sample_mix_target.

    Exact: the assignment replays through the shared _kmeans_af_ctes
    (this oracle and embedding_cluster_kmeans's can never disagree on
    what cluster a vector is in); counts and shares are integers and
    integral division.

    Scale: one label join on the MATERIALIZED assignment frame
    (kmeans_assignment_table, r10 — the Lloyd rounds
    embedding_cluster_kmeans already ran are read back, not re-run) +
    a k×|labels| bounded agg; the share window runs on that
    dim-bounded cell frame.
    """
    assigned = kmeans_assignment_table(spark, sf_dir)
    lab = load(spark, sf_dir, "embeddings").select("vec_id", "label")
    cells = (
        assigned.select("vec_id", "cluster")
        .join(lab, "vec_id")
        .groupBy("cluster", "label")
        .agg(F.count("*").alias("n"))
    )
    return cells.select(
        F.col("cluster").cast("bigint").alias("cluster"),
        F.col("label").cast("bigint").alias("label"),
        F.col("n").cast("bigint").alias("n"),
        F.expr("n * 10000 div sum(n) OVER (PARTITION BY cluster)")
        .cast("bigint")
        .alias("share_bp"),
    )


# ---------------------------------------------------------------------------
# Inter-cluster separation (pairwise centroid distances of the final
# partition)
# ---------------------------------------------------------------------------

_SEP_ORACLE = _kmeans_af_ctes() + """
, st AS (
    SELECT a.cid, pos, sum(v.xq[pos + 1]) AS s, count(*) AS cnt
    FROM af a JOIN vec v USING (vec_id) CROSS JOIN dims
    GROUP BY 1, 2
), cm AS (
    SELECT cid,
           list(floor(CAST(s AS DOUBLE) / cnt / 1e6 * 1e4 + 0.5) / 1e4
                ORDER BY pos) AS c,
           max(cnt) AS n
    FROM st GROUP BY cid
)
SELECT CAST(a.cid AS BIGINT) AS cluster_a,
       CAST(b.cid AS BIGINT) AS cluster_b,
       CAST(a.n AS BIGINT) AS n_a,
       CAST(b.n AS BIGINT) AS n_b,
       round(sqrt(list_reduce(list_transform(range(64),
             d -> (a.c[d+1] - b.c[d+1]) * (a.c[d+1] - b.c[d+1])),
             (x, y) -> x + y)), 6) + 0.0 AS l2_dist
FROM cm a JOIN cm b ON a.cid < b.cid
"""


@op(
    "embedding_cluster_separation",
    oracle=_SEP_ORACLE,
    tags=("ext", "llm", "iterative", "scale"),
)
def embedding_cluster_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise L2 distances between the centroids of the FINAL k-means
    partition — the separation matrix a curator reads next to
    embedding_cluster_kmeans's inertia: low inertia with two centroids
    nearly coincident means k is too high (merge them); one cluster far
    from all others is the outlier pocket embedding_outlier_distance
    flags per-vector. Centroids here are the means of the final
    assignment (the partition the artifact serves), computed with the
    SAME quantized integer-sum rule as the Lloyd update, so the matrix
    describes exactly the clustering consumers see.

    Exact: member sums are 1e-6-quantized integer aggregates
    (decimal(38,0)); means quantize to 1e4 like every Lloyd round; the
    64-term squared-distance fold runs in fixed dimension order on both
    engines (identical IEEE adds), sqrt is correctly rounded, rounded
    to 6 before compare.

    Scale: one assignment⋈embeddings equi-join (the artifact serves the
    assignment — no Lloyd replay), one (cluster, dim) hash agg, then a
    k-row self-join (k² = 28 pairs at k=8 — driver-scale by the
    codebook contract).
    """
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform(
            "embedding",
            lambda v: F.floor(v.cast("double") * 1e6 + F.lit(0.5)).cast("bigint"),
        ).alias("xq"),
    )
    asg = kmeans_assignment_table(spark, sf_dir).select("vec_id", "cluster")
    st = (
        asg.join(emb, "vec_id")
        .select("cluster", F.posexplode("xq").alias("pos", "x"))
        .groupBy("cluster", "pos")
        .agg(
            F.sum(F.col("x").cast("decimal(38,0)")).alias("s"),
            F.count("*").alias("cnt"),
        )
    )
    cm = st.groupBy("cluster").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "s", "cnt"))),
            lambda m: F.floor(
                m["s"].cast("double") / m["cnt"] / 1e6 * 1e4 + F.lit(0.5)
            )
            / 1e4,
        ).alias("c"),
        F.max("cnt").alias("n"),
    )
    d2 = F.aggregate(
        F.zip_with("ca", "cb", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    a = cm.select(
        F.col("cluster").alias("cluster_a"), F.col("c").alias("ca"), F.col("n").alias("n_a")
    )
    b = cm.select(
        F.col("cluster").alias("cluster_b"), F.col("c").alias("cb"), F.col("n").alias("n_b")
    )
    return (
        a.join(F.broadcast(b), F.col("cluster_a") < F.col("cluster_b"))
        .select(
            F.col("cluster_a").cast("bigint").alias("cluster_a"),
            F.col("cluster_b").cast("bigint").alias("cluster_b"),
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            (F.round(F.sqrt(d2), 6) + F.lit(0.0)).alias("l2_dist"),
        )
    )
