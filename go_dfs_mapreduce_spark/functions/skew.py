"""Skew mitigation: hot-key salting for an inner equi-join.

For Zipf-skewed keys, a plain shuffle join sends every row of a hot key
to one task. Salting splits each big-side key into ``n_salts`` sub-keys
and replicates the small side once per salt, bounding any single task's
share of a hot key to 1/n_salts. It is the documented pattern for
AQE-resistant *semantic* skew (SCALE.md); ``salted_join_urgent_lineitems``
runs it under the plain join's oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    n_salts: int = 8,
) -> DataFrame:
    """Inner equi-join with hot-key salting: the big (skewed) side gets a
    random-ish salt per row; the small side is replicated ``n_salts``
    times so every (key, salt) bucket finds its match. Splits one hot
    key's rows across ``n_salts`` tasks — the manual fallback for joins
    where AQE's size-based skew split can't engage (e.g. the skew is in a
    *derived* key AQE can't see, or the join sits upstream of the
    materialization AQE rebalances). Result set is EXACTLY the plain
    join's (salt columns never escape), which is what makes it
    oracle-checkable."""
    salt = F.pmod(
        F.spark_partition_id() + F.monotonically_increasing_id(), F.lit(n_salts)
    )
    big_s = big.withColumn("_salt", salt)
    small_r = small.join(
        F.broadcast(
            big.sparkSession.range(n_salts).select(F.col("id").cast("int").alias("_salt"))
        )
    )
    joined = big_s.join(small_r, [key, "_salt"])
    return joined.drop("_salt")
