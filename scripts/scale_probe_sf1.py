"""sf1-scale probe for the worst sf0.01→sf0.1 scaling ratios (VERDICT r9 #5).

No sf1 fixture exists in /root/testdata, so this probe synthesizes a
10×-sf0.1 ("sf1-shaped") replica of exactly the tables the four target ops
read, under .scratch/sf1_probe/ (never touching /root/testdata):

- documents: 10 replicas, doc_id offset per replica, every TOKEN prefixed
  "r{i}_" — replicas share zero vocabulary, so within-replica near-dup
  structure is preserved exactly and candidate counts scale ~linearly
  (appending a replica tag to the DOC would instead make every replica a
  near-dup of its siblings and quadratically inflate clusters — an
  adversarial, unrepresentative scale-up).
- orders + lineitem: key-offset replicas (custkey/suppkey/orderkey spaces
  disjoint per replica) — the bipartite HITS graph becomes 10 disjoint
  copies, the honest "more tenants, same shape" growth.
- events: user_id/event_id offsets per replica (per-user MAD groups scale
  in count, not size).

For each target op: run once at sf0.1 (after one warm-up of the Spark
session on an unrelated op), once at the 10× probe, report the wall ratio.
Sublinear-in-data means ratio < 10 (per-op notes below). Artifacts from the
materialized dedup layer are built INSIDE the timed run (cold) and reported
separately warm, so the build cost at scale is visible, not hidden.

Run:  python scripts/scale_probe_sf1.py            (writes BENCH_SF1_PROBE.json)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from connor_fun_streamproducer_spark import registry  # noqa: E402
from connor_fun_streamproducer_spark.catalog import REPO_ROOT  # noqa: E402
from connor_fun_streamproducer_spark.session import get_spark  # noqa: E402

SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
DST = os.path.join(REPO_ROOT, ".scratch", "sf1_probe")
REPLICAS = 10
OFF = 100_000_000  # key offset per replica — far above any fixture key

TARGETS = [
    # (op key, which tables it reads, cold artifact build expected?)
    ("dedup_containment_prefix", ("documents",), False),
    ("dedup_minhash_banded", ("documents",), True),
    ("graph_hits", ("orders", "lineitem"), False),
    ("stats_mad_outliers", ("events",), False),
    # round-11 additions: each probes a distinct scale claim —
    # domain-bounded pair counting (tau: cell self-join must not grow
    # with rows), per-token source fan-out (jaccard), one-exchange
    # window algebra (pps), and the rank+tie single-exchange form (mw)
    ("stats_kendall_tau_binned", ("lineitem", "part"), False),
    ("corpus_source_overlap_jaccard", ("documents",), False),
    ("sample_pps_systematic", ("documents",), False),
    ("stats_mann_whitney", ("events",), False),
    # round-12 additions (VERDICT r11 #7): every op >1.5 s at sf0.1
    # carries a measured decade ratio — the apriori-pruned basket
    # self-join, the budget-invariant eval harness (truth is slice² at
    # ANY sf: ratio should be ~flat), the k-scan greedy coreset, the
    # hyperplane-bucketed ANN (with its exact-recall companion), and the
    # capped lane-bucket top-k pairing
    ("pipeline_basket_affinity", ("orders", "lineitem"), False),
    ("dedup_eval_tiers", ("documents",), True),
    ("sample_kcenter_coreset", ("embeddings",), False),
    ("sim_search_lsh", ("embeddings",), False),
    ("sim_doc_topk_minhash", ("documents",), True),
    # round-14 additions (VERDICT r13 #5): the distributed_rank two-pass
    # rank family — exact global selection (median, quantile vector) and
    # the pooled-rank H test carry measured decade bars like the other
    # heavy ops (expected ~linear-in-data at worst: two linear shuffles
    # per rank, constant-size prefix frames)
    ("agg_median_distributed", ("orders",), False),
    ("agg_quantiles_distributed", ("orders",), False),
    ("stats_kruskal_wallis", ("events",), False),
    # round-14 wave additions: the KN bigram LM (two corpus-scale
    # bigram aggs + type-level joins; replicas have disjoint vocab so
    # the type frames scale ~linearly — the honest growth) and the
    # count-grid JT test (the grid is cents-domain-bounded, so 10× the
    # rows should fatten counts, not the grid: expect strongly
    # sublinear)
    ("corpus_kn_bigram_xent", ("documents",), False),
    ("stats_jonckheere_terpstra", ("events",), False),
]

# Ops whose OUTPUT is expected to grow with the corpus (verified pairs,
# related-doc lists): the honest decade bar is wall ÷ output-row
# NON-INCREASING per decade, not raw wall < 10× (VERDICT r11 watch item:
# the replica probe itself manufactures 10× the containment pairs, so
# raw wall ratio conflates data scaling with output volume). NOT in
# this set: pipeline_basket_affinity — its output is a FIXED top-20, so
# raw wall is its honest bar (the internal pair fan-out is bounded by
# basket width, stated in its docstring).
OUTPUT_VOLUME_FLOOR = {
    "dedup_containment_prefix",
    "sim_doc_topk_minhash",
}


def build_probe(spark) -> None:
    # embeddings.parquet is the newest replica table (r12): its absence
    # invalidates a pre-r12 probe dir even when _PROBE_OK survives
    if os.path.isfile(os.path.join(DST, "_PROBE_OK")) and os.path.exists(
        os.path.join(DST, "part.parquet")
    ) and os.path.exists(os.path.join(DST, "embeddings.parquet")):
        return
    shutil.rmtree(DST, ignore_errors=True)
    os.makedirs(DST, exist_ok=True)

    def replicate(name, transform):
        parts = []
        src = spark.read.parquet(os.path.join(SRC, f"{name}.parquet"))
        for i in range(REPLICAS):
            parts.append(transform(src, i))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out.write.mode("overwrite").parquet(os.path.join(DST, f"{name}.parquet"))

    replicate(
        "documents",
        lambda d, i: d.select(
            (F.col("doc_id") + i * OFF).alias("doc_id"),
            F.regexp_replace(
                F.concat(F.lit(f"r{i}_"), F.col("text")), " ", f" r{i}_"
            ).alias("text"),
            "lang",
            "source",
            "n_chars",
        ),
    )
    replicate(
        "orders",
        lambda d, i: d.select(
            (F.col("o_orderkey") + i * OFF).alias("o_orderkey"),
            (F.col("o_custkey") + i * OFF).alias("o_custkey"),
            "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority",
        ),
    )
    replicate(
        "lineitem",
        lambda d, i: d.select(
            (F.col("l_orderkey") + i * OFF).alias("l_orderkey"),
            "l_partkey",
            (F.col("l_suppkey") + i * OFF).alias("l_suppkey"),
            "l_linenumber", "l_quantity", "l_extendedprice", "l_discount",
            "l_tax", "l_returnflag", "l_linestatus", "l_shipdate",
        ),
    )
    # embeddings: vec_id offset per replica; each replica's vectors are
    # CIRCULARLY ROTATED by its replica index — distances/norms within a
    # replica are preserved (rotation is orthogonal on the index set) but
    # replicas are not duplicate point sets, so ANN bucket occupancy and
    # coreset geometry grow the honest way (more distinct vectors)
    replicate(
        "embeddings",
        lambda d, i: d.select(
            (F.col("vec_id") + i * OFF).alias("vec_id"),
            (
                F.col("embedding")
                if i == 0
                else F.concat(
                    F.slice(F.col("embedding"), i + 1, 64 - i),
                    F.slice(F.col("embedding"), 1, i),
                )
            ).alias("embedding"),
            "label",
        ),
    )
    replicate(
        "events",
        lambda d, i: d.select(
            (F.col("event_id") + i * OFF).alias("event_id"),
            "ts",
            (F.col("user_id") + i * OFF).alias("user_id"),
            "event_type", "value", "props",
        ),
    )
    # part is a DIMENSION: at 10x fact volume the realistic growth is
    # more lines per part, not more parts — copy it fixed-size
    spark.read.parquet(os.path.join(SRC, "part.parquet")).write.mode(
        "overwrite"
    ).parquet(os.path.join(DST, "part.parquet"))
    open(os.path.join(DST, "_PROBE_OK"), "w").write("ok")


def timed(fn, spark, sf_dir) -> tuple[float, int]:
    t0 = time.monotonic()
    n = len(fn(spark, sf_dir).collect())
    return round(time.monotonic() - t0, 3), n


def main() -> None:
    spark = get_spark("sf1-probe")  # SPARK_GRAFT_CPUS, else the usable cores
    registry._ensure_loaded()
    build_probe(spark)

    out = {"base_sf": 0.1, "probe": "10x replicas (sf1-shaped)", "ops": {}}
    for key, _tables, has_artifact in TARGETS:
        fn = registry.OPS[key].fn
        # per-op warm-up at sf0.001: pays THIS op's codegen/JIT before the
        # 1x baseline, so the ratio measures data scaling, not the cold 1x
        # run absorbing class compilation the 10x run then gets for free
        # (the first probe version warmed up on an unrelated op and read a
        # spurious 20x for the candidate-linear containment filter)
        fn(spark, "/root/testdata/sf0.001").collect()
        if has_artifact:
            # cold means COLD on both sides: a previous bench/test run
            # leaves warm artifacts for SRC (and a previous probe run for
            # DST), which would time a parquet read against an index
            # build and report a meaningless 30x "ratio"
            for d in (".neardup_index", ".graph_index", ".kmeans_index",
                      ".ivf_index"):
                shutil.rmtree(os.path.join(REPO_ROOT, d), ignore_errors=True)
        base, rows_base = timed(fn, spark, SRC)  # cold build for artifact ops
        cold, rows_cold = timed(fn, spark, DST)  # 10x, artifact build included
        warm = timed(fn, spark, DST)[0] if has_artifact else None
        ratio = round(cold / base, 2) if base else None
        rec = {
            "wall_sf01": base,
            "wall_10x_cold": cold,
            "ratio_cold": ratio,
            "rows_sf01": rows_base,
            "rows_10x": rows_cold,
        }
        if warm is not None:
            rec["wall_10x_warm"] = warm
            rec["ratio_warm"] = round(warm / base, 2) if base else None
        if key in OUTPUT_VOLUME_FLOOR and rows_base and rows_cold:
            # falsifiable bar (VERDICT r11 #3): wall per output row must
            # not increase across the decade — if it does, the op is
            # paying superlinear candidate cost, not just emitting more
            wall_eff = warm if warm is not None else cold
            per_base = base / rows_base
            per_cold = wall_eff / rows_cold
            rec["wall_ms_per_1k_rows_sf01"] = round(per_base * 1e6, 1)
            rec["wall_ms_per_1k_rows_10x"] = round(per_cold * 1e6, 1)
            rec["per_output_ratio"] = round(per_cold / per_base, 2)
            rec["output_normalized_ok"] = per_cold <= per_base * 1.05
            rec["sublinear"] = rec["output_normalized_ok"]
        else:
            rec["sublinear"] = ratio is not None and ratio < REPLICAS
        out["ops"][key] = rec
        print(key, rec, flush=True)

    path = os.path.join(os.path.dirname(DST), "..", "BENCH_SF1_PROBE.json")
    with open(os.path.abspath(path), "w") as f:
        json.dump(out, f, indent=1)
    print("wrote BENCH_SF1_PROBE.json")
    spark.stop()


if __name__ == "__main__":
    main()
