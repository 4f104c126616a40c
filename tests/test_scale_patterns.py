"""Scale-pattern tests: salting correctness, bucketed-join shuffle
elision — the plan-level evidence behind SCALE.md's claims."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from go_dfs_mapreduce_spark.plans import audit_plan
from go_dfs_mapreduce_spark.tables import table


def test_bucketed_join_elides_shuffle(spark, sf_dir, tmp_path):
    # NB: warehouse dir is a static conf, set in session.py
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    try:
        orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
        li = table(spark, sf_dir, "lineitem").select(
            F.col("l_orderkey").alias("o_orderkey"), "l_quantity"
        )
        # bucketBy + sortBy + saveAsTable: the scan reports the bucketing,
        # so SortMergeJoin needs no Exchange on either side
        for df, name in ((orders, "b_orders"), (li, "b_lineitem")):
            (
                df.write.format("parquet")
                .bucketBy(8, "o_orderkey")
                .sortBy("o_orderkey")
                .mode("overwrite")
                .saveAsTable(name)
            )

        bucketed = spark.table("b_orders").join(
            spark.table("b_lineitem"), ["o_orderkey"]
        )
        a_bucketed = audit_plan(bucketed)

        plain = orders.join(li, ["o_orderkey"])
        a_plain = audit_plan(plain)

        assert a_plain["n_exchanges"] >= 2, "unbucketed join should shuffle both sides"
        assert a_bucketed["n_exchanges"] == 0, a_bucketed["plan"][:2000]
        # and the join result is identical either way
        assert bucketed.count() == plain.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )


def _join_key_lists(df):
    import re

    from go_dfs_mapreduce_spark.plans.audit import formatted_plan

    plan = formatted_plan(df)
    keys = re.findall(r"(?:Left|Right) keys \[\d+\]: \[([^\]]*)\]", plan)
    return plan, [[c.split("#")[0].strip() for c in k.split(",")] for k in keys]


def test_minhash_verify_is_candidate_restricted(spark, sf_dir):
    """VERDICT r1 #2: the exact-verify stage must never run an unrestricted
    shingle self-join — every intersection is computed against the LSH
    candidate pairs (composite (doc, shingle) keys)."""
    from go_dfs_mapreduce_spark.operators.dedup import dedup_minhash_lsh

    plan, keys = _join_key_lists(dedup_minhash_lsh(spark, sf_dir))
    # no shingle-keyed join anywhere: candidates come from LSH bucket
    # expansion, verification joins candidate pairs to per-doc shingle
    # ARRAYS on the doc keys (array_intersect computes the overlap
    # in-projection)
    assert ["shingle"] not in keys, keys
    assert ["doc_a"] in keys and ["doc_b"] in keys, keys
    # candidate generation is bucket expansion, not a bands self-join:
    # no (band, sig)-keyed join exists in the plan
    assert ["band", "sig"] not in keys, keys


def test_capped_jaccard_verify_honors_cap(spark, sf_dir):
    """VERDICT r1 #3: pair generation may self-join only the frequency-
    capped shingle set; the verify stage joins candidate pairs to shingle
    sets (composite keys) instead of a second unrestricted self-join."""
    from go_dfs_mapreduce_spark.operators.dedup import (
        MAX_DOC_FREQ,
        dedup_ngram_jaccard_capped,
    )

    plan, keys = _join_key_lists(dedup_ngram_jaccard_capped(spark, sf_dir))
    # verify joins candidate pairs to per-doc arrays on the doc keys
    assert ["doc_a"] in keys and ["doc_b"] in keys, keys
    # the only shingle-keyed join is pair generation over the capped set
    # (one self-join = left+right key entries); the df <= cap window
    # filter must be present in the same plan
    assert f"<= {MAX_DOC_FREQ}" in plan
    n_shingle_only = sum(1 for k in keys if k == ["shingle"])
    assert n_shingle_only <= 2, keys


def test_incremental_operators_plan_shapes(spark, sf_dir):
    """Pin the 100-TB shapes of the round-4 operators: MERGE is a single
    shuffle join with no nested-loop fallback, SCD2 runs every window
    pass off ONE user_id exchange, the rollup merge keeps its cutoff as
    a broadcast scalar, and kmeans never leaves broadcast joins. All
    four stay fully JVM-side."""
    from go_dfs_mapreduce_spark.operators.incremental import (
        incremental_rollup_merge,
        merge_upsert_orders,
        scd2_user_status,
    )
    from go_dfs_mapreduce_spark.operators.similarity import kmeans_embeddings

    a = audit_plan(merge_upsert_orders(spark, sf_dir))
    assert "NestedLoop" not in a["plan"] and "Cartesian" not in a["plan"]
    assert not a["has_python_worker"]

    a = audit_plan(scd2_user_status(spark, sf_dir))
    # one exchange for the user_id windows + island re-key; never more
    # than 2, and no join at all
    assert a["n_exchanges"] <= 2
    assert a["n_sortmerge_joins"] == 0 and a["n_broadcast_joins"] == 0
    assert not a["has_python_worker"]

    a = audit_plan(incremental_rollup_merge(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in a["plan"]  # 1-row cutoff scalar
    assert a["n_sortmerge_joins"] == 0
    assert not a["has_python_worker"]

    a = audit_plan(kmeans_embeddings(spark, sf_dir))
    assert a["n_sortmerge_joins"] == 0
    assert "CartesianProduct" not in a["plan"]
    assert not a["has_python_worker"]


def test_aqe_skew_join_split_fires_and_matches_salted(spark):
    """AQE skew-join demonstration (VERDICT r12 #5): a fact-fact join
    with one hot key (70% of the big side) under test-scale skew
    thresholds. With skewJoin enabled the FINAL adaptive plan carries a
    skew=true SortMergeJoin (the hot partition was split at runtime);
    with it disabled the same query runs unsplit — and the manual
    salted_join fallback produces the identical result set either way.
    Measured at 20M x 2M rows: 2.0s split vs 6.6s unsplit (SCALE.md
    round 13). Salting remains necessary only where AQE can't see the
    skew: derived keys materialized mid-stage, or aggregations ahead of
    the exchange AQE rebalances."""
    from go_dfs_mapreduce_spark.functions.skew import salted_join

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16384",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "65536",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.enabled": "true",
    }
    saved = {k: spark.conf.get(k) for k in confs}

    def build():
        big = spark.range(400_000).select(
            F.when(F.col("id") % 10 < 7, F.lit(0))
            .otherwise(F.col("id"))
            .alias("k"),
            F.col("id").alias("v"),
        )
        small = spark.range(50_000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        return big, small

    def run_joined(df):
        agg = df.select(
            F.sum(F.col("v") + F.col("w")).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
        row = agg.collect()[0]
        plan = agg._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        return (row["s"], row["n"]), plan.count("skew=true")

    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        big, small = build()
        res_split, n_skew = run_joined(big.join(small, "k"))
        assert n_skew >= 1, "AQE did not split the hot partition"
        # expected cardinality: 280k hot-key rows match k=0 once, plus
        # the 15k unique keys under 50k with id % 10 >= 7
        assert res_split[1] == 280_000 + 15_000
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        res_plain, n_skew_off = run_joined(big.join(small, "k"))
        assert n_skew_off == 0
        assert res_plain == res_split
        # the manual fallback for AQE-invisible skew: same result set
        res_salted, _ = run_joined(salted_join(big, small, "k"))
        assert res_salted == res_split
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_band_index_bucketed_layout_elides_bucket_agg_exchange(spark, sf_dir):
    """The 100 TB layout claim behind the persisted LSH band index
    (SCALE.md r14): stored BUCKETED by its aggregation keys, the
    incremental's (band, sig) bucket groupBy — and the batch-vs-index
    semi join keyed the same way — runs EXCHANGE-FREE; the shuffle
    shipped once at index-build time and is amortized over every
    ingest. Proven at the plan level against the identical unbucketed
    aggregation, with identical results."""
    from go_dfs_mapreduce_spark.operators.dedup import band_sig_index

    sigs = band_sig_index(spark, sf_dir)
    try:
        (
            sigs.write.format("parquet")
            .bucketBy(8, "band", "sig")
            .sortBy("band", "sig")
            .mode("overwrite")
            .saveAsTable("b_band_index")
        )
        bucketed = (
            spark.table("b_band_index")
            .groupBy("band", "sig")
            .agg(F.array_sort(F.collect_list("doc_id")).alias("ds"))
            .where(F.expr("size(ds) > 1"))
        )
        plain = (
            sigs.groupBy("band", "sig")
            .agg(F.array_sort(F.collect_list("doc_id")).alias("ds"))
            .where(F.expr("size(ds) > 1"))
        )
        a_bucketed = audit_plan(bucketed)
        a_plain = audit_plan(plain)
        assert a_plain["n_exchanges"] >= 1, "plain bucket agg must shuffle"
        assert a_bucketed["n_exchanges"] == 0, a_bucketed["plan"][:2000]
        got = {(r.band, r.sig, tuple(r.ds)) for r in bucketed.collect()}
        want = {(r.band, r.sig, tuple(r.ds)) for r in plain.collect()}
        assert got == want and got
    finally:
        spark.sql("DROP TABLE IF EXISTS b_band_index")
