"""Round-16 A/B: pagerank_parts_2iter adjacency pre-partitioning.

VERDICT r15 item 6: r15 rejected the PERSISTED pre-partitioned adjacency
for pagerank (+8% — the broadcast-degree join re-plans the adjacency
side and the persist populate ate the win). This probe tries
partitioning WITHOUT the persist: an explicit repartition(P, src) in the
adjacency lineage, so each iteration's join on src reuses the exchange
(ReuseExchange can also collapse the two identical iteration subtrees).

Arms: ctrl = r15 shape (adj unpartitioned, join adds its own exchange
per iteration); trt_repart = repartition(P, src), no persist;
trt_shared = the cc-twin's session-persisted pre-partitioned adjacency.

Usage: python tools/pagerank_ab_r16.py [--reps 5]
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)


def build(spark, sf_dir, mode: str):
    from pyspark.sql import functions as F

    from go_dfs_mapreduce_spark.operators import graph as G

    nodes = (
        G.table(spark, sf_dir, "lineitem")
        .select(F.col("l_partkey").alias("pk"))
        .distinct()
    )
    edges = G._edges(spark, sf_dir)
    adj = None
    if mode == "repart":
        P = spark.sparkContext.defaultParallelism
        adj = (
            edges.select(F.col("u").alias("src"), F.col("v").alias("dst"))
            .unionAll(
                edges.select(F.col("v").alias("src"), F.col("u").alias("dst"))
            )
            .repartition(P, "src")
        )
    elif mode == "shared":
        P = spark.sparkContext.defaultParallelism

        def build_adj():
            return (
                edges.select(F.col("u").alias("src"), F.col("v").alias("dst"))
                .unionAll(
                    edges.select(
                        F.col("v").alias("src"), F.col("u").alias("dst")
                    )
                )
                .repartition(P, "src")
            )

        adj = G._edges_frame_memo(spark, sf_dir, "adjacency", build_adj)
    return G.pagerank_from_edges(nodes, edges, iters=2, adj=adj)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--reps", type=int, default=5)
    args = ap.parse_args()

    from go_dfs_mapreduce_spark.session import get_spark

    spark = get_spark("pagerank_ab_r16")

    ARMS = [("ctrl", "none"), ("trt_repart", "repart"), ("trt_shared", "shared")]
    smoke = "/root/testdata/sf0.001"
    for _, m in ARMS:
        build(spark, smoke, m).write.mode("overwrite").format("noop").save()

    results = {n: [] for n, _ in ARMS}
    for rep in range(args.reps):
        for n, m in ARMS:
            spark.catalog.clearCache()
            spark.sparkContext.setJobDescription(f"pr:{n}:{rep}")
            t0 = time.time()
            build(spark, args.sf_dir, m).write.mode("overwrite").format(
                "noop"
            ).save()
            results[n].append(time.time() - t0)

    print(f"{'arm':<14} {'med_s':>8} {'min_s':>8}")
    for n, _ in ARMS:
        r = results[n]
        print(f"{n:<14} {statistics.median(r):>8.2f} {min(r):>8.2f}")

    ref = sorted(map(tuple, build(spark, args.sf_dir, "none").collect()))
    for n, m in ARMS[1:]:
        got = sorted(map(tuple, build(spark, args.sf_dir, m).collect()))
        print(f"equal[{n}] = {got == ref}")
    spark.stop()


if __name__ == "__main__":
    main()
