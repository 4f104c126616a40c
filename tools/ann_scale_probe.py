"""ANN-operator scaling probe (SCALE.md evidence): brute-force cosine vs
IVF vs LSH vs multiprobe-LSH as the vector corpus grows.

Builds a K-times-scaled embeddings table from the sf0.1 vectors — each
copy CYCLICALLY SHIFTS the dimension order by its copy index (norms and
within-copy distance structure preserved; cross-copy vectors decorrelate)
with fresh vec_ids, keeping the original query vectors (vec_id < 5)
intact — then times each registered ANN operator end-to-end (warm
codegen, noop sink, best of N) and reports vectors / result rows / wall
seconds as one JSON line per (op, K). The point is the SLOPE: brute
force must grow ~linearly in K while the bucket-pruned paths grow by
their candidate fractions.

Usage: python tools/ann_scale_probe.py [K ...]   (default: 1 4 10)
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

from pyspark.sql import functions as F  # noqa: E402

from go_dfs_mapreduce_spark.session import get_spark  # noqa: E402
from go_dfs_mapreduce_spark.tables import table  # noqa: E402

BASE_SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPS = 2


def build_vectors(spark, k: int) -> str:
    emb = table(spark, BASE_SF, "embeddings")
    n = emb.agg(F.max("vec_id")).collect()[0][0] + 1
    dims = len(emb.select("embedding").first()[0])
    copies = [emb]
    for c in range(1, k):
        shift = c % dims or 1
        rotated = F.expr(
            f"concat(slice(embedding, {shift + 1}, {dims - shift}),"
            f" slice(embedding, 1, {shift}))"
        )
        copies.append(
            emb.select(
                (F.col("vec_id") + F.lit(c * n)).alias("vec_id"),
                rotated.alias("embedding"),
                "label",
            )
        )
    out = tempfile.mkdtemp(prefix=f"ann_scale_k{k}_")
    u = copies[0]
    for df in copies[1:]:
        u = u.unionByName(df)
    u.repartition(32).write.mode("overwrite").parquet(
        os.path.join(out, "embeddings.parquet")
    )
    return out


def main() -> None:
    ks = [int(a) for a in sys.argv[1:]] or [1, 4, 10]
    spark = get_spark("ann-scale-probe")
    from go_dfs_mapreduce_spark.operators.similarity import (
        ann_cosine_batch_topk,
        ann_cosine_topk,
        ann_int8_rerank_topk,
        ann_ivf_calibrated_topk,
        ann_ivf_topk,
        ann_lsh_batch_topk,
        ann_lsh_calibrated_topk,
        ann_lsh_multiprobe_topk,
        ann_lsh_topk,
        ivf_pq_rerank_topk,
        ivf_pq_residual_topk,
        ivf_pq_topk,
        pq_adc_topk,
    )

    ops = {
        "brute": ann_cosine_topk,
        "ivf": ann_ivf_topk,
        "lsh": ann_lsh_topk,
        "lsh_multiprobe": ann_lsh_multiprobe_topk,
        # r10: width calibrated to the corpus (bits ~ log2(n/32)) — the
        # r9 saturation finding closed in code
        "lsh_calibrated": ann_lsh_calibrated_topk,
        # r10: cell count calibrated to the corpus (cells ~ sqrt(n))
        "ivf_calibrated": ann_ivf_calibrated_topk,
        # r10 crossover A/B: 64-query batch, index vs exhaustive
        "lsh_batch64": ann_lsh_batch_topk,
        "brute_batch64": ann_cosine_batch_topk,
        # r11 quantized family
        "int8_rerank": ann_int8_rerank_topk,
        "pq_adc": pq_adc_topk,
        "ivf_pq": ivf_pq_topk,
        # r12: the complete serve composition (ADC shortlist + exact rerank)
        "ivf_pq_rerank": ivf_pq_rerank_topk,
        # r12: the FAISS-default residual encoding
        "ivf_pq_residual": ivf_pq_residual_topk,
    }
    only = os.environ.get("SPARK_GRAFT_ANN_OPS")
    if only:
        keep = {s.strip() for s in only.split(",")}
        ops = {k: v for k, v in ops.items() if k in keep}
    for fn in ops.values():  # codegen warm-up
        fn(spark, "/root/testdata/sf0.001").write.mode("overwrite").format(
            "noop"
        ).save()
    for k in ks:
        d = build_vectors(spark, k)
        n_vecs = spark.read.parquet(
            os.path.join(d, "embeddings.parquet")
        ).count()
        for name, fn in ops.items():
            rows = fn(spark, d).count()

            def _run():
                spark.catalog.clearCache()
                fn(spark, d).write.mode("overwrite").format("noop").save()

            wall = min(_timed(_run) for _ in range(REPS))
            print(
                json.dumps(
                    {"op": name, "k": k, "vectors": n_vecs, "rows": rows,
                     "wall_sec": round(wall, 2)}
                ),
                flush=True,
            )
    spark.stop()


def _timed(fn) -> float:
    t0 = time.time()
    fn()
    return time.time() - t0


if __name__ == "__main__":
    main()
