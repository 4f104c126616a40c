"""Round-16 interleaved A/B: derived-warehouse read-back spread width.

VERDICT r15 item 1: the driver measured dedup_minhash_lsh 1.131 -> 1.455 s
after r15 changed the read-back repartition from the session core count
(r14) to a size-derived count (~1 partition per 128 KiB on disk). This
tool re-litigates that change with the bench's own methodology (noop
sink, clearCache per rep) but INTERLEAVED inside one JVM: ctrl = r14
shape (repartition to cores), trt = r15 shape (size-derived), alternating
rep by rep. The session memo store is cleared before every rep so each
rep rebuilds its arm's plan from the stored parquet.

Usage: python tools/ab_readback_r16.py [--reps 10] [names...]
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

DEFAULT = ["dedup_minhash_lsh"]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--reps", type=int, default=10)
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    import __spark_entry__ as mod
    from go_dfs_mapreduce_spark import derived, memo
    from go_dfs_mapreduce_spark.session import get_spark

    spark = get_spark("ab_readback_r16")
    qs = mod.queries()
    names = args.names or DEFAULT

    size_derived = derived._spread_partitions

    def cores_wide(spark, dst):  # the r14 shape
        return max(spark.sparkContext.defaultParallelism, 1)

    def reset(fn) -> None:
        derived._spread_partitions = fn
        memo._STORE.clear()

    # warm codegen/footers at smoke scale, both arms
    from go_dfs_mapreduce_spark.tables import SMOKE_SF_DIR

    for arm in (cores_wide, size_derived):
        reset(arm)
        for n in names:
            qs[n](spark, SMOKE_SF_DIR).write.mode("overwrite").format(
                "noop"
            ).save()

    results: dict[str, dict[str, list[float]]] = {
        n: {"ctrl": [], "trt": []} for n in names
    }
    for rep in range(args.reps):
        for n in names:
            for key, arm in (("ctrl", cores_wide), ("trt", size_derived)):
                reset(arm)
                spark.catalog.clearCache()
                spark.sparkContext.setJobDescription(f"{n}:{key}:{rep}")
                t0 = time.time()
                qs[n](spark, args.sf_dir).write.mode("overwrite").format(
                    "noop"
                ).save()
                results[n][key].append((time.time() - t0) * 1000)
    reset(size_derived)

    print(
        f"{'query':<34} {'ctrl(cores)':>11} {'trt(sized)':>10}"
        f" {'ctrl_min':>9} {'trt_min':>9} {'delta%':>7}"
    )
    for n in names:
        c = results[n]["ctrl"]
        t = results[n]["trt"]
        cm, tm = statistics.median(c), statistics.median(t)
        print(
            f"{n:<34} {cm:>11.0f} {tm:>10.0f} {min(c):>9.0f} {min(t):>9.0f}"
            f" {100 * (tm - cm) / cm:>+6.1f}%"
        )
    spark.stop()


if __name__ == "__main__":
    main()
