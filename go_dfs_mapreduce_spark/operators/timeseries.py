"""Time-series analytics over the events table.

Two shapes every metrics pipeline needs, both pure window/join Catalyst
plans with DuckDB oracles:

- events_locf_resample : regularize an irregular event stream onto an
  hourly grid with last-observation-carried-forward gap fill — generated
  (user x hour) spine LEFT-joined to per-hour samples, then an
  ignore-nulls window ``last`` forward-fills. The standard resample
  before any time-series model.
- funnel_signup_conversion : classic ordered funnel (signup -> click ->
  purchase): per-user first-touch timestamps, stage reached = how deep
  the strictly-increasing prefix goes. One groupBy of conditional mins —
  no joins, no self-scans.

Scale notes: the spine is generated (sequence+explode), never read; its
row count is users x grid points — intended output volume. The funnel is
a single partial-aggregated pass over events. Samples aggregate BEFORE
the spine join, so the outer join touches one row per (user, hour).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..registry import query
from ..tables import table

LOCF_START = "2024-01-01 00:00:00"
LOCF_END = "2024-01-07 23:00:00"  # inclusive hourly grid, first week

LOCF_ORACLE = f"""
WITH users AS (SELECT DISTINCT user_id FROM events),
spine AS (
  SELECT u.user_id, g.h AS hour
  FROM users u,
       unnest(generate_series(TIMESTAMP '{LOCF_START}',
                              TIMESTAMP '{LOCF_END}',
                              INTERVAL 1 HOUR)) g(h)
),
samples AS (
  SELECT user_id, date_trunc('hour', ts) AS hour, MAX(value) AS sample
  FROM events
  WHERE ts < TIMESTAMP '{LOCF_END}' + INTERVAL 1 HOUR
  GROUP BY 1, 2
)
SELECT s.user_id, s.hour,
       LAST_VALUE(p.sample IGNORE NULLS) OVER (
         PARTITION BY s.user_id ORDER BY s.hour
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_locf
FROM spine s LEFT JOIN samples p
  ON s.user_id = p.user_id AND s.hour = p.hour
"""


@query("events_locf_resample", oracle=LOCF_ORACLE)
def events_locf_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = table(spark, sf_dir, "events")
    users = events.select("user_id").distinct()
    spine = users.crossJoin(
        spark.range(1).select(
            F.explode(
                F.expr(
                    f"sequence(timestamp'{LOCF_START}', timestamp'{LOCF_END}',"
                    " interval 1 hour)"
                )
            ).alias("hour")
        )
    )
    samples = (
        events.where(
            F.col("ts")
            < F.lit(LOCF_END).cast("timestamp") + F.expr("INTERVAL 1 HOUR")
        )
        .groupBy("user_id", F.date_trunc("hour", "ts").alias("hour"))
        .agg(F.max("value").alias("sample"))
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return spine.join(samples, ["user_id", "hour"], "left").select(
        "user_id",
        "hour",
        F.last("sample", ignorenulls=True).over(w).alias("value_locf"),
    )


FUNNEL_ORACLE = """
WITH firsts AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup,
         MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
         MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
  FROM events GROUP BY user_id
)
SELECT user_id,
       CAST(CASE
         WHEN t_signup IS NULL THEN 0
         WHEN t_click IS NULL OR t_click <= t_signup THEN 1
         WHEN t_purchase IS NULL OR t_purchase <= t_click THEN 2
         ELSE 3
       END AS INTEGER) AS funnel_stage
FROM firsts
"""


@query("funnel_signup_conversion", oracle=FUNNEL_ORACLE)
def funnel_signup_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel: stage 1 = signed up, 2 = clicked strictly after
    signup, 3 = purchased strictly after that click. First-touch times
    come from one conditional-min aggregate (partial-aggregated; the
    whole funnel is a single shuffle of 3 timestamps per user)."""
    events = table(spark, sf_dir, "events")

    def first_of(t: str):
        return F.min(F.when(F.col("event_type") == t, F.col("ts")))

    firsts = events.groupBy("user_id").agg(
        first_of("signup").alias("t_signup"),
        first_of("click").alias("t_click"),
        first_of("purchase").alias("t_purchase"),
    )
    stage = (
        F.when(F.col("t_signup").isNull(), 0)
        .when(
            F.col("t_click").isNull() | (F.col("t_click") <= F.col("t_signup")), 1
        )
        .when(
            F.col("t_purchase").isNull() | (F.col("t_purchase") <= F.col("t_click")),
            2,
        )
        .otherwise(3)
    )
    return firsts.select("user_id", stage.cast("int").alias("funnel_stage"))


# --------------------------------------------------------------------------
# Linear-interpolation resample (the other canonical gap-fill mode)
# --------------------------------------------------------------------------

INTERP_ORACLE = f"""
WITH users AS (SELECT DISTINCT user_id FROM events),
spine AS (
  SELECT u.user_id, g.h AS hour
  FROM users u,
       unnest(generate_series(TIMESTAMP '{LOCF_START}',
                              TIMESTAMP '{LOCF_END}',
                              INTERVAL 1 HOUR)) g(h)
),
samples AS (
  SELECT user_id, date_trunc('hour', ts) AS hour, MAX(value) AS sample
  FROM events
  WHERE ts < TIMESTAMP '{LOCF_END}' + INTERVAL 1 HOUR
  GROUP BY 1, 2
),
j AS (
  SELECT s.user_id, s.hour, p.sample,
    LAST_VALUE(p.sample IGNORE NULLS) OVER (
      PARTITION BY s.user_id ORDER BY s.hour
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
    LAST_VALUE(CASE WHEN p.sample IS NOT NULL THEN s.hour END IGNORE NULLS)
      OVER (PARTITION BY s.user_id ORDER BY s.hour
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ph,
    FIRST_VALUE(p.sample IGNORE NULLS) OVER (
      PARTITION BY s.user_id ORDER BY s.hour
      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
    FIRST_VALUE(CASE WHEN p.sample IS NOT NULL THEN s.hour END IGNORE NULLS)
      OVER (PARTITION BY s.user_id ORDER BY s.hour
            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nh
  FROM spine s LEFT JOIN samples p
    ON s.user_id = p.user_id AND s.hour = p.hour
)
SELECT user_id, hour,
  CASE WHEN sample IS NOT NULL THEN sample
       WHEN pv IS NOT NULL AND nv IS NOT NULL
       THEN pv + (nv - pv) * (CAST(epoch(hour) - epoch(ph) AS DOUBLE)
                              / CAST(epoch(nh) - epoch(ph) AS DOUBLE))
       ELSE NULL END AS value_interp
FROM j
"""


@query("events_linear_resample", oracle=INTERP_ORACLE)
def events_linear_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-interpolation gap fill on the hourly grid: observed hours
    keep their sample, interior gaps interpolate between the bracketing
    observations, and points outside the observed range stay NULL (strict
    interpolation — LOCF is the other operator). The interpolation
    formula is written with the identical operation order on both engines
    (pv + (nv - pv) * (int-epoch delta / int-epoch delta)), so the IEEE
    doubles match bit-for-bit with no rounding step. Same
    one-shuffle-on-user shape as LOCF: both direction windows share the
    spine-join partitioning."""
    events = table(spark, sf_dir, "events")
    users = events.select("user_id").distinct()
    spine = users.crossJoin(
        spark.range(1).select(
            F.explode(
                F.expr(
                    f"sequence(timestamp'{LOCF_START}', timestamp'{LOCF_END}',"
                    " interval 1 hour)"
                )
            ).alias("hour")
        )
    )
    samples = (
        events.where(
            F.col("ts")
            < F.lit(LOCF_END).cast("timestamp") + F.expr("INTERVAL 1 HOUR")
        )
        .groupBy("user_id", F.date_trunc("hour", "ts").alias("hour"))
        .agg(F.max("value").alias("sample"))
    )
    back = (
        Window.partitionBy("user_id")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    fwd = (
        Window.partitionBy("user_id")
        .orderBy("hour")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_hour = F.when(F.col("sample").isNotNull(), F.col("hour"))
    j = (
        spine.join(samples, ["user_id", "hour"], "left")
        .withColumn("pv", F.last("sample", ignorenulls=True).over(back))
        .withColumn("ph", F.last(obs_hour, ignorenulls=True).over(back))
        .withColumn("nv", F.first("sample", ignorenulls=True).over(fwd))
        .withColumn("nh", F.first(obs_hour, ignorenulls=True).over(fwd))
    )
    frac = F.expr(
        "CAST(unix_timestamp(hour) - unix_timestamp(ph) AS DOUBLE)"
        " / CAST(unix_timestamp(nh) - unix_timestamp(ph) AS DOUBLE)"
    )
    interp = F.col("pv") + (F.col("nv") - F.col("pv")) * frac
    return j.select(
        "user_id",
        "hour",
        F.when(F.col("sample").isNotNull(), F.col("sample"))
        .when(F.col("pv").isNotNull() & F.col("nv").isNotNull(), interp)
        .alias("value_interp"),
    )


# --------------------------------------------------------------------------
# Recursive CTE (Spark 4): nonlinear integer recurrence over order chains
# --------------------------------------------------------------------------

RECURSIVE_BALANCE_ORACLE = """
WITH RECURSIVE base AS (
  SELECT o_custkey AS c,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate, o_orderkey) AS seq,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
),
acc AS (
  SELECT c, seq, cents AS bal FROM base WHERE seq = 1
  UNION ALL
  SELECT b.c, b.seq, (a.bal * 101) // 100 + b.cents
  FROM acc a JOIN base b ON b.c = a.c AND b.seq = a.seq + 1
)
SELECT c AS o_custkey,
       CAST(MAX(seq) AS BIGINT) AS n_orders,
       CAST(ARG_MAX(bal, seq) AS BIGINT) AS final_balance_cents
FROM acc GROUP BY c
"""


# positions advanced per UnionLoop level (r16; A/B in the docstring).
# Each level's join row carries _REC_K-1 lead(cents) columns, so the
# cached base widens by 8 bytes per step — at 100 TB that trade holds
# because the base is orders-count-sized either way and level count is
# the recursion's serial bottleneck.
_REC_K = 6


@query("recursive_compound_balance", oracle=RECURSIVE_BALANCE_ORACLE)
def recursive_compound_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 recursive CTE (UNION ALL recursion) driving a NONLINEAR
    integer recurrence: walking each customer's orders in (date, key)
    order, ``bal_n = floor(bal_{n-1} * 101 / 100) + cents_n`` — 1%
    compounding with integer floor between steps. The floor makes the
    recurrence inexpressible as any window aggregate (no prefix-sum
    decomposition exists), which is exactly the class of computation
    recursive CTEs earn their keep on; contrast dedup_clusters, whose
    CYCLIC reachability cannot terminate under Spark 4.1's
    UNION-ALL-only recursion and stays a driver loop (dedup.py).

    Scale shape (plan-verified): recursion depth = the longest
    per-customer chain (25 here; bounded by orders-per-customer, not
    corpus size). Spark's UnionLoop re-executes the step subtree each
    level, and the step references ``base`` — so the base scan + window
    run ONCE PER LEVEL: total cost is depth x (scan + join), not
    O(total orders). Fine at depth ~25 over a pruned 3-column scan; for
    deep recursions at 100 TB, materialize ``base`` once into a table
    bucketed on the join key (each level's join then probes
    shuffle-free) — or restructure to a window decomposition when the
    recurrence is linear (this one's integer floor makes that
    impossible, which is why it is the showcase). All arithmetic is
    integer cents — bit-identical on both engines.

    r15 (guide §5 caching / §2.4): Spark's UnionLoop re-executes the
    step subtree once per level, and with ``base`` as a plain CTE that
    meant 25 repeats of the orders scan + row_number window. ``base`` is
    now built as a DataFrame, CACHED, and eagerly populated before the
    recursion (the in-memory analog of the docstring's "materialize base
    once" scale advice); every level then probes an InMemoryTableScan.
    Measured 9.8 s -> 5.6 s at sf0.1. Cache lifetime follows the
    session like the log_analyzer triple cache; the bench clears it
    between reps so every rep pays the full populate.

    r16 (VERDICT r15 item 4, generalized): the residual was pure
    per-level UnionLoop join/stage machinery x depth 24, so each level
    now advances the recurrence ``_REC_K`` positions in ONE join: the
    same window pass that ranks the orders also precomputes each
    position's next ``_REC_K - 1`` cents values (``lead``) and the
    chain length (``count`` over the partition), and the step SELECT
    folds the recurrence through up to ``_REC_K`` exact integer steps
    in-row, emitting only the block's last reachable position. The
    emitted seq values are 1, 1+K, 1+2K, ... and always end at the
    chain's true last position, so MAX(seq) and MAX_BY(bal, seq) —
    the only things the final aggregate reads — are unchanged; the
    fold applies the identical floor steps in the identical order, so
    every emitted bal is bit-equal to the k=1 recursion's value at
    that position (branching is by POSITION arithmetic, lst - seq,
    never by value nullness). Depth falls from 24 to ceil(24/6) = 4
    levels (+1 termination probe). Interleaved A/B at sf0.1
    (tools/recursion_ab_r16.py, readable at commit cee7023): k=1
    6.76 s, k=2 4.90 s, k=4 3.55 s, k=6 3.10 s median (-54%), sorted
    outputs identical at every k;
    full 3-SF oracle proof at commit, block-boundary chain lengths
    pinned against a Python fold in tests/test_llm_ops.py.
    Deeper unrolling flattens out (the remaining wall is the populate
    + 4 joins), and the step expression grows linearly, so 6 is where
    the A/B curve went flat."""
    return _compound_balance_from_orders(
        spark, table(spark, sf_dir, "orders")
    )


def _compound_balance_from_orders(
    spark: SparkSession, orders: DataFrame
) -> DataFrame:
    """Core ``_REC_K``-step recursion over any orders-shaped frame
    (split out so tests can drive handcrafted chain lengths across the
    block boundaries); semantics in ``recursive_compound_balance``."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    cents = F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)")
    base = (
        orders
        .select(
            F.col("o_custkey").alias("c"),
            F.row_number().over(w).alias("seq"),
            cents.alias("cents"),
            *[
                F.lead(cents, j).over(w).alias(f"d{j}")
                for j in range(1, _REC_K)
            ],
            F.count(F.lit(1)).over(
                Window.partitionBy("o_custkey")
            ).alias("lst"),
        )
        .cache()
    )
    base.count()
    base.createOrReplaceTempView("_rec_base")
    # bal[j] = the recurrence folded j extra positions past b.seq
    bal = ["(a.bal * 101) DIV 100 + b.cents"]
    for j in range(1, _REC_K):
        bal.append(f"(({bal[j - 1]}) * 101) DIV 100 + b.d{j}")
    seq_expr = " ".join(
        f"WHEN b.lst - b.seq >= {j} THEN b.seq + {j}"
        for j in range(_REC_K - 1, 0, -1)
    )
    bal_expr = " ".join(
        f"WHEN b.lst - b.seq >= {j} THEN {bal[j]}"
        for j in range(_REC_K - 1, 0, -1)
    )
    return spark.sql(
        f"""
        WITH RECURSIVE acc AS (
          SELECT c, seq, cents AS bal FROM _rec_base WHERE seq = 1
          UNION ALL
          SELECT a.c,
                 CASE {seq_expr} ELSE b.seq END AS seq,
                 CASE {bal_expr} ELSE {bal[0]} END AS bal
          FROM acc a JOIN _rec_base b ON b.c = a.c AND b.seq = a.seq + 1
        )
        SELECT c AS o_custkey,
               CAST(MAX(seq) AS BIGINT) AS n_orders,
               CAST(MAX_BY(bal, seq) AS BIGINT) AS final_balance_cents
        FROM acc GROUP BY c
        """
    )


# --------------------------------------------------------------------------
# Cohort retention
# --------------------------------------------------------------------------

COHORT_ORACLE = """
WITH first_seen AS (
  SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
  FROM events GROUP BY user_id
),
activity AS (
  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS week
  FROM events
),
sizes AS (
  SELECT cohort_week, COUNT(*) AS cohort_size FROM first_seen GROUP BY 1
),
joined AS (
  SELECT f.cohort_week, (a.week - f.cohort_week) // 7 AS week_offset
  FROM activity a JOIN first_seen f USING (user_id)
)
SELECT j.cohort_week,
       CAST(j.week_offset AS BIGINT) AS week_offset,
       COUNT(*) AS n_active,
       CAST(z.cohort_size AS BIGINT) AS cohort_size,
       CAST(CAST(COUNT(*) AS DOUBLE) / CAST(z.cohort_size AS DOUBLE)
            AS DOUBLE) AS retention_rate
FROM joined j JOIN sizes z USING (cohort_week)
GROUP BY j.cohort_week, j.week_offset, z.cohort_size
"""


@query("cohort_retention", oracle=COHORT_ORACLE)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The analytics staple: users bucketed by first-seen ISO week, then
    counted per (cohort, weeks-since-cohort). week offsets are exact
    integers (both truncations land on Mondays, so the day diff is a
    multiple of 7) and the retention rate is one IEEE division.

    Plan shape: activity dedups (user, week) with map-side partials;
    first_seen is one groupBy over the same scan; the enrichment join is
    per-user rows — everything shuffles doc-id-sized keys, and the
    cohort-size dimension joins post-aggregation (|weeks| rows,
    broadcast)."""
    events = table(spark, sf_dir, "events")
    first_seen = events.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    activity = events.select(
        "user_id", F.date_trunc("week", "ts").cast("date").alias("week")
    ).distinct()
    sizes = first_seen.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    joined = activity.join(first_seen, "user_id").select(
        "cohort_week",
        (F.datediff("week", "cohort_week") / 7)
        .cast("bigint")
        .alias("week_offset"),
    )
    agg = joined.groupBy("cohort_week", "week_offset").agg(
        F.count(F.lit(1)).alias("n_active")
    )
    return agg.join(F.broadcast(sizes), "cohort_week").select(
        "cohort_week",
        "week_offset",
        "n_active",
        F.col("cohort_size").cast("bigint").alias("cohort_size"),
        (
            F.col("n_active").cast("double")
            / F.col("cohort_size").cast("double")
        )
        .cast("double")
        .alias("retention_rate"),
    )


# --------------------------------------------------------------------------
# Time-weighted average (piecewise-constant integration)
# --------------------------------------------------------------------------

TWA_ORACLE = """
WITH seq AS (
  SELECT user_id,
         CAST(ROUND(value * 1000000) AS BIGINT) AS vm,
         epoch_us(ts) AS us,
         LEAD(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS next_us
  FROM events
),
iv AS (
  SELECT user_id, vm, next_us - us AS dt FROM seq WHERE next_us IS NOT NULL
),
sums AS (
  SELECT user_id,
         CAST(COUNT(*) AS BIGINT) AS n_intervals,
         CAST(SUM(CAST(vm AS HUGEINT) * dt) AS HUGEINT) AS sp,
         CAST(SUM(dt) AS HUGEINT) AS sdt
  FROM iv GROUP BY user_id HAVING SUM(dt) > 0
)
-- the integral sp exceeds 2^53, and DuckDB's int128->double cast is NOT
-- correctly rounded up there (measured: off by 1 ulp vs Java/Python on
-- 3 of ~200 users), so the division is split exactly first:
-- sp/sdt = q + r/sdt with q, r, sdt all < 2^53, then only
-- correctly-rounded small casts and two IEEE ops remain.
SELECT user_id, n_intervals,
       CAST((CAST(CAST(sp // sdt AS BIGINT) AS DOUBLE)
             + CAST(CAST(sp % sdt AS BIGINT) AS DOUBLE)
               / CAST(CAST(sdt AS BIGINT) AS DOUBLE)) / 1000000.0
            AS DOUBLE) AS twa
FROM sums
"""


@query("events_time_weighted_avg", oracle=TWA_ORACLE)
def events_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user time-weighted average of ``value`` under a
    piecewise-constant hold: each observation is weighted by the
    microseconds until the next one (the finance/sensor TWAP shape that
    a plain AVG silently gets wrong on irregular streams). Micro-unit
    values x integer microsecond weights keep the integral exact and
    order-independent. The final division is split via exact integer
    divmod (sp/sdt = q + r/sdt) because the integral tops 2^53, where
    DuckDB's int128->double cast is not correctly rounded — after the
    split every cast is < 2^53 and the remaining float ops are
    plain IEEE arithmetic both engines agree on bit-for-bit. Users
    whose events all share one timestamp have zero total weight and are
    excluded (HAVING). One user_id exchange serves both the LEAD window
    and the aggregation."""
    events = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        "user_id",
        F.expr("CAST(ROUND(value * 1000000) AS BIGINT)").alias("vm"),
        F.unix_micros("ts").alias("us"),
        "ts",
        "event_id",
    ).withColumn("next_us", F.lead("us").over(w))
    iv = seq.where(F.col("next_us").isNotNull()).select(
        "user_id", "vm", (F.col("next_us") - F.col("us")).alias("dt")
    )
    agg = iv.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_intervals"),
        F.sum(F.col("vm").cast("decimal(38,0)") * F.col("dt")).alias("sp"),
        F.sum("dt").alias("sdt"),
    )
    return agg.where(F.col("sdt") > 0).select(
        "user_id",
        "n_intervals",
        F.expr(
            "CAST((CAST(CAST(sp DIV sdt AS BIGINT) AS DOUBLE)"
            " + CAST(CAST(sp % sdt AS BIGINT) AS DOUBLE)"
            "   / CAST(sdt AS DOUBLE)) / 1000000.0D AS DOUBLE)"
        ).alias("twa"),
    )


# --------------------------------------------------------------------------
# Ordered event-path matching (MATCH_RECOGNIZE-lite greedy subsequence)
# --------------------------------------------------------------------------

PATH_PATTERN = ("signup", "click", "purchase")

PATH_ORACLE = """
WITH o AS (
  SELECT user_id, event_type, ts,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events
),
s0 AS (
  SELECT user_id, MIN(rn) AS i0 FROM o
  WHERE event_type = 'signup' GROUP BY user_id
),
s1 AS (
  SELECT o.user_id, MIN(rn) AS i1 FROM o JOIN s0 USING (user_id)
  WHERE event_type = 'click' AND rn > i0 GROUP BY o.user_id
),
s2 AS (
  SELECT o.user_id, MIN(rn) AS i2 FROM o JOIN s1 USING (user_id)
  WHERE event_type = 'purchase' AND rn > i1 GROUP BY o.user_id
),
u AS (SELECT DISTINCT user_id FROM o)
SELECT u.user_id,
       CAST(CASE WHEN i2 IS NOT NULL THEN 3
                 WHEN i1 IS NOT NULL THEN 2
                 WHEN i0 IS NOT NULL THEN 1
                 ELSE 0 END AS INTEGER) AS steps_matched,
       i2 IS NOT NULL AS converted,
       CASE WHEN i2 IS NOT NULL
            THEN CAST(epoch_us(t2.ts) - epoch_us(t0.ts) AS BIGINT) END
         AS micros_to_convert
FROM u
LEFT JOIN s0 USING (user_id)
LEFT JOIN s1 USING (user_id)
LEFT JOIN s2 USING (user_id)
LEFT JOIN o t0 ON t0.user_id = u.user_id AND t0.rn = s0.i0
LEFT JOIN o t2 ON t2.user_id = u.user_id AND t2.rn = s2.i2
"""


@query("event_path_conversion", oracle=PATH_ORACLE)
def event_path_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy in-order subsequence matching of the funnel pattern
    signup -> click -> purchase over each user's FULL chronological event
    path — the MATCH_RECOGNIZE-lite custom operator Spark has no builtin
    for. Unlike ``funnel_signup_conversion`` (first-touch minimum per
    stage), the greedy matcher advances through the path: a click that
    precedes the first signup does not count, but a LATER click still
    does — the earliest in-order embedding, exactly what sequential
    funnel semantics mean.

    Implementation is the (a)-tier composition the brief prescribes for
    missing operators: one groupBy collects each user's (ts, event_id,
    event_type) structs, ``array_sort`` orders them chronologically
    in-row, and an ``aggregate`` lambda folds the path through the
    3-state pattern automaton — per-user state is one tiny struct, the
    whole match runs inside whole-stage codegen, and the only exchange
    is the per-user groupBy (partial ``collect_list`` combine). The
    per-entity-history-fits-in-memory assumption is the same contract
    as session windowing; a pathological user caps at its event count.
    The oracle states the same semantics as sequential stage minimums
    over (ts, event_id)-ranked rows — equality of the two formulations
    is itself the correctness argument for the fold. Conversion latency
    is an exact BIGINT MICROSECOND difference (epoch_us / unix_micros —
    a seconds-level diff truncates on Spark but rounds through DuckDB's
    double cast; session tz is UTC on both engines)."""
    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    paths = ev.groupBy("user_id").agg(
        F.array_sort(
            F.collect_list(F.struct("ts", "event_id", "event_type"))
        ).alias("evs")
    )
    p0, p1, p2 = PATH_PATTERN
    fold = f"""aggregate(
  evs,
  named_struct('k', 0L, 't0', CAST(NULL AS TIMESTAMP),
               't2', CAST(NULL AS TIMESTAMP)),
  (a, e) -> CASE
    WHEN a.k = 0 AND e.event_type = '{p0}'
      THEN named_struct('k', 1L, 't0', e.ts, 't2', a.t2)
    WHEN a.k = 1 AND e.event_type = '{p1}'
      THEN named_struct('k', 2L, 't0', a.t0, 't2', a.t2)
    WHEN a.k = 2 AND e.event_type = '{p2}'
      THEN named_struct('k', 3L, 't0', a.t0, 't2', e.ts)
    ELSE a END)"""
    return paths.select(
        "user_id", F.expr(fold).alias("m")
    ).select(
        "user_id",
        F.col("m.k").cast("int").alias("steps_matched"),
        (F.col("m.k") == 3).alias("converted"),
        # exact integer microseconds on both engines — a seconds-level
        # epoch() diff truncates on Spark but ROUNDS through DuckDB's
        # double->BIGINT cast, an off-by-one on fractional timestamps
        F.when(
            F.col("m.k") == 3,
            F.unix_micros("m.t2") - F.unix_micros("m.t0"),
        ).alias("micros_to_convert"),
    )


# ---------------------------------------------------------------------------
# Batch sessionization (gap-based). The streaming twin
# (`stream_session_windows`) uses Spark's session_window; the batch shape
# every warehouse needs is the classic lag + cumulative-sum-of-flags
# rewrite, which works over historical data with no watermark and lets the
# gap threshold be revisited after the fact. Reference parity note: the
# reference's log analyzer tallies per-crawler activity
# (example_plugins/log_analyzer/log_analyzer.go:60-101) but has no notion
# of time at all — sessions are the first thing a modern pipeline adds.
#
# Determinism: event order within a user is (ts, event_id) — event_id
# breaks timestamp ties identically on both engines. The gap test is done
# in exact integer microseconds (unix_micros / epoch_us), never interval
# arithmetic, and the session value total is an exact DECIMAL sum cast to
# DOUBLE at the end.
#
# Scale: two window passes over the same (user_id, ts, event_id) sort
# order — Catalyst runs both in ONE exchange + sort (same partitioning
# key), then a partial-aggregated groupBy on (user_id, session_idx),
# which is a prefix of the window key so no second exchange is needed.
# Per-user data is bounded by user activity, not corpus size.

SESSION_GAP_US = 30 * 60 * 1_000_000  # 30-minute inactivity gap

SESSIONIZE_ORACLE = f"""
WITH flagged AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w
                   > {SESSION_GAP_US}
              OR LAG(epoch_us(ts)) OVER w IS NULL
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, ts, event_id, value,
         SUM(new_sess) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
  FROM flagged
)
SELECT user_id,
       CAST(session_idx AS BIGINT) AS session_idx,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       MIN(ts) AS session_start,
       CAST(epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS BIGINT)
         AS duration_us,
       CAST(SUM(CAST(value AS DECIMAL(18, 2))) AS DOUBLE) AS session_value
FROM sess
GROUP BY user_id, session_idx
"""


@query("event_sessionize_stats", oracle=SESSIONIZE_ORACLE)
def event_sessionize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization: a new session starts after >30 min of
    user inactivity; emit per-session event count, start, exact duration
    in microseconds, and the DECIMAL-exact value total."""
    events = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    flagged = events.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.when(
            (us - F.lag(us).over(w) > F.lit(SESSION_GAP_US))
            | F.lag(us).over(w).isNull(),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("new_sess"),
    )
    cum = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sess = flagged.withColumn("session_idx", F.sum("new_sess").over(cum))
    return sess.groupBy("user_id", F.col("session_idx").cast("bigint").alias("session_idx")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).alias(
            "duration_us"
        ),
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("double")
        .alias("session_value"),
    )


# --------------------------------------------------------------------------
# Rolling z-score anomaly detection: each event scored against the SAME
# user's trailing history — exact integer window sums, one IEEE tail.
# --------------------------------------------------------------------------

ZS_WINDOW = 20  # trailing history rows (current row excluded)
ZS_MIN_HIST = 10  # minimum history before a score is emitted
ZS_THRESHOLD = 2.5  # |z| at or above this flags an anomaly

ZSCORE_ORACLE = f"""
WITH m AS (
  SELECT event_id, user_id, ts, value,
         CAST(ROUND(value * 1000000) AS BIGINT) AS vm
  FROM events
),
w AS (
  SELECT event_id, user_id, ts, value, vm,
         COUNT(*) OVER tw AS n,
         SUM(vm) OVER tw AS s,
         SUM(CAST(vm AS DECIMAL(38,0)) * vm) OVER tw AS ss
  FROM m
  WINDOW tw AS (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN {ZS_WINDOW} PRECEDING AND 1 PRECEDING)
),
z AS (
  SELECT event_id, user_id, ts, value,
         ROUND((n * vm - s) * 1.0
               / (n * sqrt((n * CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s)
                           / (n * (n - 1.0)))), 4) AS z_score
  FROM w
  WHERE n >= {ZS_MIN_HIST}
    AND n * CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s > 0
)
SELECT event_id, user_id, ts, value, z_score
FROM z WHERE abs(z_score) >= {ZS_THRESHOLD}
"""


@query("events_user_zscore_anomalies", oracle=ZSCORE_ORACLE)
def events_user_zscore_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection: each event's ``value`` is scored
    against the SAME user's trailing ``ZS_WINDOW`` events (current row
    excluded — the score must not contaminate its own baseline), and rows
    at or beyond ``ZS_THRESHOLD`` sample standard deviations are flagged.
    Scores start once ``ZS_MIN_HIST`` history rows exist and zero-variance
    baselines emit nothing (no 0/0 verdicts).

    Determinism: values quantize to exact integer micro-units
    (``timeseries``'s time-weighted-average convention), the window's
    count/sum/sum-of-squares are exact INTEGER/DECIMAL aggregates — no
    floating-point accumulation order anywhere — and the z statistic
    z = (n*vm - s) / (n * sqrt((n*ss - s^2) / (n*(n-1)))) is evaluated in
    the same textual order on both engines over those exact inputs, so
    every IEEE step (one subtract chain, one sqrt, one divide) is
    correctly-rounded-identical. The compare happens on the ROUNDED
    score.

    Scale: one window, partitioned by user_id — cardinality grows with
    the corpus, so partitions stay bounded (the per-user event stream)
    and skew is per-user volume, not corpus/|event_type|. A trailing
    ROWS frame is incrementally maintained by both engines: O(1) state
    per row, never a per-row rescan. 100 TB deployment notes: a single
    monster user still serializes within its own ordered stream (cap
    per-user history or sessionize first); the streaming twin of this
    exact statistic is per-key state carrying (count, sum, sumsq) ring
    buffers."""
    events = table(spark, sf_dir, "events")
    m = events.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.expr("CAST(ROUND(value * 1000000) AS BIGINT)").alias("vm"),
    )
    tw = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-ZS_WINDOW, -1)
    )
    w = m.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        "vm",
        F.count(F.lit(1)).over(tw).alias("n"),
        F.sum("vm").over(tw).alias("s"),
        F.sum(F.col("vm").cast("decimal(38,0)") * F.col("vm")).over(tw).alias("ss"),
    )
    return zscore_tail(
        w.where(
            (F.col("n") >= ZS_MIN_HIST)
            & (
                F.col("n") * F.col("ss").cast("double")
                - F.col("s").cast("double") * F.col("s")
                > 0
            )
        )
    )


def zscore_tail(scored: DataFrame) -> DataFrame:
    """The IEEE tail of the rolling z-score, shared verbatim by the
    batch operator and the streaming twin's post-sink projection: given
    rows carrying exact integer (vm, n, s, ss) baselines (n >=
    ``ZS_MIN_HIST``, positive variance already guaranteed), evaluate
    z = (n*vm - s) / (n * sqrt((n*ss - s^2) / (n*(n-1)))) in the fixed
    textual order, round to 4, and keep |z| >= ``ZS_THRESHOLD``."""
    var_num = F.col("n") * F.col("ss").cast("double") - F.col("s").cast(
        "double"
    ) * F.col("s")
    z = F.round(
        (F.col("n") * F.col("vm") - F.col("s"))
        * 1.0
        / (
            F.col("n")
            * F.sqrt(var_num / (F.col("n") * (F.col("n") - 1.0)))
        ),
        4,
    )
    return scored.select(
        "event_id", "user_id", "ts", "value", z.alias("z_score")
    ).where(F.abs(F.col("z_score")) >= ZS_THRESHOLD)


# --------------------------------------------------------------------------
# CUSUM changepoint alarms (Page 1954) via the prefix-min identity —
# the sequential recursion made window-native, exact integers throughout
# --------------------------------------------------------------------------

CUSUM_TARGET_MICRO = 75_000_000  # reference level k (micro value units)
CUSUM_ALARM_MICRO = 300_000_000  # alarm threshold h (micro value units)

CUSUM_ORACLE = f"""
WITH m AS (
  SELECT user_id, ts, event_id,
         CAST(ROUND(value * 1000000) AS BIGINT) - {CUSUM_TARGET_MICRO} AS d
  FROM events
),
p AS (
  SELECT user_id, ts, event_id,
    SUM(d) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pre
  FROM m
),
s0 AS (
  SELECT user_id, ts, event_id, pre,
    MIN(pre) OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mn
  FROM p
),
s AS (
  SELECT user_id, ts, event_id,
         pre - LEAST(mn, 0) AS cusum_micro,
         LAG(pre - LEAST(mn, 0), 1, 0) OVER
           (PARTITION BY user_id ORDER BY ts, event_id) AS prev_micro
  FROM s0
)
SELECT user_id, ts, event_id, CAST(cusum_micro AS BIGINT) AS cusum_micro
FROM s
WHERE prev_micro <= {CUSUM_ALARM_MICRO} AND cusum_micro > {CUSUM_ALARM_MICRO}
"""


@query("events_cusum_alarms", oracle=CUSUM_ORACLE)
def events_cusum_alarms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM changepoint alarms (Page 1954) per user: the
    classic sequential statistic S_i = max(0, S_{i-1} + (x_i - k)) looks
    window-hostile (a recursion over the partition), but the identity
    S_i = P_i - min(0, min_{j<=i} P_j) — P the running sum of
    deviations — turns it into two stock running-window aggregates plus
    a lag, all incrementally maintained. An alarm row is emitted at each
    upward crossing of threshold h (no post-alarm reset: Page's
    reset-to-zero would reintroduce the recursion; each excursion above
    h alarms once per crossing, the monitoring-feed semantics).

    Determinism: values quantize to integer micro-units and EVERY step —
    running sum, running min, subtraction, lag, threshold compare — is
    exact 64-bit integer arithmetic. This operator has no IEEE tail at
    all (unlike the z-score's one sqrt), so cross-engine agreement is
    unconditional.

    Scale: mirrors ``events_user_zscore_anomalies`` — user-partitioned
    running windows, O(1) state per row, cardinality grows with the
    corpus; the streaming twin is a trivial 2-long ValueState (P, min P)
    per key. CUSUM detects sustained small shifts the rolling z-score's
    per-point outlier test misses — the complementary half of a
    monitoring pair."""
    events = table(spark, sf_dir, "events")
    ordered = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cum = ordered.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    m = events.select(
        "user_id",
        "ts",
        "event_id",
        (
            F.expr("CAST(ROUND(value * 1000000) AS BIGINT)")
            - F.lit(CUSUM_TARGET_MICRO)
        ).alias("d"),
    )
    p = m.select(
        "user_id", "ts", "event_id", F.sum("d").over(cum).alias("pre")
    )
    s0 = p.select(
        "user_id",
        "ts",
        "event_id",
        "pre",
        F.min("pre").over(cum).alias("mn"),
    )
    cusum = F.col("pre") - F.least(F.col("mn"), F.lit(0))
    s = s0.select(
        "user_id",
        "ts",
        "event_id",
        cusum.alias("cusum_micro"),
        F.lag(cusum, 1, 0).over(ordered).alias("prev_micro"),
    )
    return s.where(
        (F.col("prev_micro") <= CUSUM_ALARM_MICRO)
        & (F.col("cusum_micro") > CUSUM_ALARM_MICRO)
    ).select(
        "user_id", "ts", "event_id", F.col("cusum_micro").cast("long")
    )


# --------------------------------------------------------------------------
# Token-bucket rate limiting (admission control) — the clamped-counter
# recursion that has NO window identity, shared-kernel batch twin
# --------------------------------------------------------------------------

RATELIMIT_ORACLE = """
WITH RECURSIVE e AS MATERIALIZED (
  -- FLOOR to whole seconds: the kernel floors (ns // 1e9), and DuckDB's
  -- ::BIGINT cast on the fractional epoch() double ROUNDS half-to-even
  -- (a real engine trap: verdicts shifted on every event in the later
  -- half-second)
  SELECT user_id, ts, event_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS t,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS i
  FROM {src}
),
f AS (
  SELECT user_id, i, t, ts, event_id,
         CAST({cap} AS BIGINT) AS avail
  FROM e WHERE i = 1
  UNION ALL
  SELECT e.user_id, e.i, e.t, e.ts, e.event_id,
         LEAST(CAST({cap} AS BIGINT),
               (f.avail - CASE WHEN f.avail >= {cost} THEN {cost} ELSE 0 END)
               + (e.t - f.t) * {rate})
  FROM f JOIN e ON e.user_id = f.user_id AND e.i = f.i + 1
)
SELECT user_id, ts, event_id,
       avail >= {cost} AS allowed,
       CAST(avail - CASE WHEN avail >= {cost} THEN {cost} ELSE 0 END
            AS BIGINT) AS tokens_micro_after
FROM f
"""


def _ratelimit_oracle() -> str:
    from ..streaming.ratelimit import (
        RL_CAP_MICRO,
        RL_COST_MICRO,
        RL_RATE_MICRO_PER_SEC,
    )

    return RATELIMIT_ORACLE.format(
        cap=RL_CAP_MICRO, cost=RL_COST_MICRO, rate=RL_RATE_MICRO_PER_SEC,
        src="events",
    )


def _ratelimit_eventtime_oracle() -> str:
    """The event-time twin's replay: the identical recursion over ONLY
    the rows at or below the stream's FINAL watermark — Spark tracks
    max event time in floor-milliseconds and subtracts the 1 s delay,
    which epoch_ms restates exactly (DuckDB epoch_ms = micros // 1000,
    floor for positive timestamps)."""
    from ..streaming.ratelimit import (
        RL_CAP_MICRO,
        RL_COST_MICRO,
        RL_RATE_MICRO_PER_SEC,
    )

    capped = (
        "(SELECT * FROM events WHERE epoch_ms(ts) <= "
        "(SELECT epoch_ms(MAX(ts)) - 1000 FROM events)) events"
    )
    return RATELIMIT_ORACLE.format(
        cap=RL_CAP_MICRO, cost=RL_COST_MICRO, rate=RL_RATE_MICRO_PER_SEC,
        src=capped,
    )


@query("events_rate_limit", oracle=_ratelimit_oracle())
def events_rate_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user token-bucket admission verdicts over the whole event
    history — the ingestion-edge primitive (API rate limiting, crawler
    politeness, abuse throttling) as a batch replay: bucket capacity 3
    tokens, refill 1 token / 10^4 s, cost 1 token per event, ALLOWED iff
    the refilled balance covers the cost. The recursion's min() clamp
    couples every step to the last, and unlike CUSUM's one-sided
    max(0, .) (linearized by the prefix-min identity) it has NO window
    identity — so this batch twin runs the SAME int64 Arrow kernel the
    streaming operator folds incrementally
    (``streaming/ratelimit.py::_fold_bucket``; the declared Python-path
    exception, like ``winnow_candidate_pairs_fast``), and the DuckDB
    oracle replays the recursion as a per-user recursive CTE — every
    verdict of every event is hash-checked through both engines.

    Scale: one user-keyed exchange; per-group work is a single linear
    int64 pass over that user's events (Arrow-batched); state the
    streaming twin carries is two longs per user. Hot users are bounded
    by their own event volume — and the operator IS the tool that caps
    hot users upstream.

    r15 (guide §4.1/§4.2 — fewer, larger Python crossings): the original
    ``groupBy(user_id).applyInPandas`` paid one Spark->Python UDF
    invocation (fresh Arrow batch + pandas frame) PER USER — 1 500
    invocations for 100 k rows at sf0.1, ~6 s of almost pure per-group
    overhead. Now ONE ``mapInPandas`` pass over a user-hash-partitioned,
    (user_id, ts, event_id)-sorted stream feeds the SAME ``_fold_bucket``
    kernel per contiguous user run (pandas ``groupby`` splits a batch at
    C speed; bucket state carries across Arrow batch boundaries within a
    user, and the per-partition sort guarantees a user's rows are
    contiguous and ordered). Measured 6.18 s -> 0.72 s at sf0.1 (8.5x),
    outputs verified identical at sf0.001 and sf0.1."""
    from collections.abc import Iterator

    import pandas as pd

    from ..streaming.ratelimit import OUTPUT_SCHEMA, _emit, _fold_bucket

    def fold_stream(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cur_uid, bal, last_t = None, None, None
        for pdf in batches:
            if pdf.empty:
                continue
            for uid, grp in pdf.groupby("user_id", sort=False):
                uid = int(uid)
                if uid != cur_uid:
                    cur_uid, bal, last_t = uid, None, None
                bal, last_t, out = _fold_bucket(bal, last_t, [grp], uid)
                yield from _emit(out)

    ev = table(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    n = ev.sparkSession.sparkContext.defaultParallelism
    return (
        ev.repartition(n, "user_id")
        .sortWithinPartitions("user_id", "ts", "event_id")
        .mapInPandas(fold_stream, OUTPUT_SCHEMA)
    )
