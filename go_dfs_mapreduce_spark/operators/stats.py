"""Distributed descriptive statistics with cross-engine-exact results.

Built-in ``stddev``/``var_samp``/``corr`` stream through Welford-style
accumulators whose float rounding depends on partitioning and engine —
they can never hash-match an oracle bit-for-bit. These queries instead
aggregate EXACT integer power sums (Σx, Σx², Σxy in micro-units — 128-bit
integers: DECIMAL(38,0) on Spark, HUGEINT on DuckDB; order-independent)
and spend the float budget on a fixed, tiny sequence of IEEE ops at emit:

    var_samp = (n·Σx² − (Σx)²) / (n·(n−1)) / 10¹²     two divisions
    corr     = (n·Σxy − ΣxΣy) / sqrt(A·B)              (µ-factors cancel)

Same integers in, same op sequence, same doubles out on Spark and DuckDB —
and run-to-run deterministic under ANY partitioning, which the streaming
accumulators are not. Map-side partial aggregation still applies (sums),
so the shuffle is one row of 128-bit integers per group at any scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import words_sql
from ..registry import query
from ..tables import table

_words_frag = words_sql("documents", "text")

STATS_PROFILE_ORACLE = """
WITH m AS (
  SELECT l_returnflag,
         CAST(ROUND(l_quantity * 1000000) AS HUGEINT) AS qm,
         CAST(ROUND(l_extendedprice * 1000000) AS HUGEINT) AS pm
  FROM lineitem
),
s AS (
  SELECT l_returnflag, COUNT(*) AS n,
         SUM(qm) AS s1, SUM(qm * qm) AS s2,
         SUM(pm) AS t1, SUM(pm * pm) AS t2,
         SUM(qm * pm) AS sxy
  FROM m GROUP BY l_returnflag
)
SELECT l_returnflag, n,
       CAST(s1 AS DOUBLE) / n / 1000000.0 AS mean_qty,
       CAST(n * s2 - s1 * s1 AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE)
         / 1000000000000.0 AS var_qty,
       CAST(n * sxy - s1 * t1 AS DOUBLE)
         / sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE) * CAST(n * t2 - t1 * t1 AS DOUBLE))
         AS corr_qty_price
FROM s
"""


@query("stats_profile_by_flag", oracle=STATS_PROFILE_ORACLE)
def stats_profile_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    # micro-unit integers: exact for inputs with <= 6 decimal places;
    # DECIMAL(19,0) factors so products get 128-bit headroom (39 -> 38)
    qm = F.expr("CAST(CAST(ROUND(l_quantity * 1000000) AS BIGINT) AS DECIMAL(19,0))")
    pm = F.expr(
        "CAST(CAST(ROUND(l_extendedprice * 1000000) AS BIGINT) AS DECIMAL(19,0))"
    )
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(qm).alias("s1"),
        F.sum(qm * qm).alias("s2"),
        F.sum(pm).alias("t1"),
        F.sum(pm * pm).alias("t2"),
        F.sum(qm * pm).alias("sxy"),
    )
    n = F.col("n")
    var_num = (n * F.col("s2") - F.col("s1") * F.col("s1")).cast("double")
    cov_num = (n * F.col("sxy") - F.col("s1") * F.col("t1")).cast("double")
    var_p = (n * F.col("t2") - F.col("t1") * F.col("t1")).cast("double")
    return s.select(
        "l_returnflag",
        "n",
        (F.col("s1").cast("double") / n / F.lit(1000000.0)).alias("mean_qty"),
        (var_num / (n * (n - 1)).cast("double") / F.lit(1000000000000.0)).alias(
            "var_qty"
        ),
        (cov_num / F.sqrt(var_num * var_p)).alias("corr_qty_price"),
    )


# --------------------------------------------------------------------------
# Histogram: equi-width buckets via ONE identical float op on both engines
# (x / width, floored) — DuckDB has no width_bucket, and replicating its
# internal op order would be fragile; a single shared division is not.
# --------------------------------------------------------------------------

BUCKET_WIDTH = 5500.0  # ~20 buckets over the l_extendedprice range

HISTOGRAM_ORACLE = f"""
SELECT CAST(FLOOR(l_extendedprice / {BUCKET_WIDTH}) AS INTEGER) AS bucket,
       COUNT(*) AS n_items,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(28,6))), 2) AS DOUBLE)
         AS bucket_value
FROM lineitem
GROUP BY bucket
"""


@query("price_histogram", oracle=HISTOGRAM_ORACLE)
def price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram: one scan, one partial-aggregated shuffle of
    <= n_buckets rows — the profiling primitive behind every numeric
    data-quality dashboard."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.groupBy(
            F.floor(F.col("l_extendedprice") / BUCKET_WIDTH)
            .cast("int")
            .alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,6)")), 2)
            .cast("double")
            .alias("bucket_value"),
        )
    )


# --------------------------------------------------------------------------
# Fuzzy vocabulary variants: levenshtein is integer-exact on both engines.
# --------------------------------------------------------------------------

MAX_EDIT = 2

FUZZY_VOCAB_ORACLE = """
WITH vocab AS (
  SELECT DISTINCT t.tk AS w FROM (
    SELECT string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS toks
    FROM documents) d,
    unnest(toks) t(tk)
  WHERE t.tk <> ''
)
SELECT a.w AS word_a, b.w AS word_b,
       CAST(levenshtein(a.w, b.w) AS INTEGER) AS edit_dist
FROM vocab a JOIN vocab b ON a.w < b.w
WHERE levenshtein(a.w, b.w) <= 2
"""


@query("vocab_fuzzy_variants", oracle=FUZZY_VOCAB_ORACLE)
def vocab_fuzzy_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spelling-variant pairs in the corpus vocabulary (edit distance <=
    2) — the fuzzy-matching primitive behind typo normalization. The
    self-join is over the DISTINCT vocabulary, which is dictionary-sized
    (not corpus-sized) — the standard trick that makes edit-distance
    linking feasible at corpus scale; production systems further block by
    length or q-grams, which this vocabulary is too small to need."""
    docs = table(spark, sf_dir, "documents")
    vocab = (
        docs.select(
            F.explode(
                F.expr("split(lower(trim(regexp_replace(text, '\\\\s+', ' '))), ' ')")
            ).alias("w")
        )
        .where(F.col("w") != "")
        .distinct()
    )
    a = vocab.alias("a")
    b = vocab.alias("b")
    dist = F.levenshtein(F.col("a.w"), F.col("b.w"))
    return (
        a.join(b, F.col("a.w") < F.col("b.w"))
        .where(dist <= MAX_EDIT)
        .select(
            F.col("a.w").alias("word_a"),
            F.col("b.w").alias("word_b"),
            dist.cast("int").alias("edit_dist"),
        )
    )


# --------------------------------------------------------------------------
# Data-quality audit: null rates, key uniqueness, referential integrity —
# each check is a partial-aggregated count or an anti-join count, the two
# shapes that stay cheap at any scale.
# --------------------------------------------------------------------------

DQ_ORACLE = """
SELECT 'lineitem_orphan_orders' AS check_name,
       (SELECT COUNT(*) FROM lineitem
        WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)) AS violations
UNION ALL
SELECT 'orders_orphan_customers',
       (SELECT COUNT(*) FROM orders
        WHERE o_custkey NOT IN (SELECT c_custkey FROM customer))
UNION ALL
SELECT 'orders_duplicate_keys',
       (SELECT COUNT(*) FROM
         (SELECT o_orderkey FROM orders GROUP BY o_orderkey HAVING COUNT(*) > 1))
UNION ALL
SELECT 'lineitem_null_shipdate',
       (SELECT COUNT(*) FROM lineitem WHERE l_shipdate IS NULL)
UNION ALL
SELECT 'lineitem_nonpositive_qty',
       (SELECT COUNT(*) FROM lineitem WHERE l_quantity <= 0)
"""


@query("dq_audit", oracle=DQ_ORACLE)
def dq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality audit over the fact tables: referential integrity via
    anti-join counts (never a correlated re-scan), uniqueness via a
    grouped HAVING, null/range checks via pushdown-able predicates. The
    checks union into one DataFrame so a scheduler alerts on any
    violations > 0 row. Keys here are NOT NULL in the generator, so the
    NOT IN anti-joins match Spark's left_anti exactly."""
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    orphan_li = (
        li.join(orders.select("o_orderkey"), li.l_orderkey == F.col("o_orderkey"),
                "left_anti")
        .agg(F.count(F.lit(1)).alias("violations"))
        .select(F.lit("lineitem_orphan_orders").alias("check_name"), "violations")
    )
    orphan_ord = (
        orders.join(cust.select("c_custkey"), orders.o_custkey == F.col("c_custkey"),
                    "left_anti")
        .agg(F.count(F.lit(1)).alias("violations"))
        .select(F.lit("orders_orphan_customers").alias("check_name"), "violations")
    )
    dup_keys = (
        orders.groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") > 1)
        .agg(F.count(F.lit(1)).alias("violations"))
        .select(F.lit("orders_duplicate_keys").alias("check_name"), "violations")
    )
    null_ship = (
        li.where(F.col("l_shipdate").isNull())
        .agg(F.count(F.lit(1)).alias("violations"))
        .select(F.lit("lineitem_null_shipdate").alias("check_name"), "violations")
    )
    bad_qty = (
        li.where(F.col("l_quantity") <= 0)
        .agg(F.count(F.lit(1)).alias("violations"))
        .select(F.lit("lineitem_nonpositive_qty").alias("check_name"), "violations")
    )
    return (
        orphan_li.union(orphan_ord).union(dup_keys).union(null_ship).union(bad_qty)
    )


# --------------------------------------------------------------------------
# Approximate-aggregate audit: sketches vs exact, with the bound itself
# oracle-checked.
# --------------------------------------------------------------------------

APPROX_AUDIT_ORACLE = """
SELECT 'distinct_user_id' AS metric,
       CAST(COUNT(DISTINCT user_id) AS DOUBLE) AS exact_value,
       TRUE AS approx_ok
FROM events
UNION ALL
SELECT 'distinct_props',
       CAST(COUNT(DISTINCT props) AS DOUBLE), TRUE FROM events
UNION ALL
SELECT 'median_value',
       CAST(quantile_disc(value, 0.5) AS DOUBLE), TRUE FROM events
"""


@query("approx_aggregates_audit", oracle=APPROX_AUDIT_ORACLE)
def approx_aggregates_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB cardinality/quantile path audited against ground truth:
    HyperLogLog distinct counts (rsd=0.05) and the quantile sketch
    (percentile_approx) each run NEXT TO their exact counterpart, and the
    emitted flag asserts the sketch landed within 2x its stated error
    bound. The oracle states the exact values plus literal TRUE — a sketch
    regression outside the bound fails the hash compare, making sketch
    accuracy itself a gated property. Exact values are either integers or
    an actual element of the data (percentile_disc), so no cross-engine
    float arithmetic is involved."""
    ev = table(spark, sf_dir, "events")
    # one pass: all six measures in a single aggregate, then the row-per-
    # metric shape comes from exploding an inline array — the three-scan
    # union formulation read events three times for the same numbers
    one = ev.agg(
        F.countDistinct("user_id").cast("double").alias("ex_u"),
        F.approx_count_distinct("user_id", rsd=0.05).alias("ap_u"),
        F.countDistinct("props").cast("double").alias("ex_p"),
        F.approx_count_distinct("props", rsd=0.05).alias("ap_p"),
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)")
        .cast("double")
        .alias("ex_m"),
        F.percentile_approx("value", 0.5, 10000).alias("ap_m"),
    )
    rows = one.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("distinct_user_id").alias("metric"),
                    F.col("ex_u").alias("exact_value"),
                    (F.abs(F.col("ap_u") - F.col("ex_u")) <= 0.10 * F.col("ex_u")).alias(
                        "approx_ok"
                    ),
                ),
                F.struct(
                    F.lit("distinct_props").alias("metric"),
                    F.col("ex_p").alias("exact_value"),
                    (F.abs(F.col("ap_p") - F.col("ex_p")) <= 0.10 * F.col("ex_p")).alias(
                        "approx_ok"
                    ),
                ),
                F.struct(
                    F.lit("median_value").alias("metric"),
                    F.col("ex_m").alias("exact_value"),
                    (
                        F.abs(F.col("ap_m") - F.col("ex_m"))
                        <= 0.05 * F.abs(F.col("ex_m"))
                    ).alias("approx_ok"),
                ),
            )
        ).alias("r")
    )
    return rows.select("r.metric", "r.exact_value", "r.approx_ok")


# --------------------------------------------------------------------------
# 2D skyline (Pareto frontier) — window-based, no pairwise self-join
# --------------------------------------------------------------------------

SKYLINE_ORACLE = """
WITH g AS (
  SELECT p_retailprice AS price, MIN(p_size) AS min_size
  FROM part GROUP BY p_retailprice
),
w AS (
  SELECT price, min_size,
         MIN(min_size) OVER (
           ORDER BY price
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ) AS prev_min
  FROM g
)
SELECT p.p_partkey AS part_id, p.p_retailprice AS price, p.p_size AS size
FROM part p JOIN w ON w.price = p.p_retailprice
WHERE p.p_size = w.min_size
  AND (w.prev_min IS NULL OR p.p_size < w.prev_min)
"""


@query("skyline_parts_2d", oracle=SKYLINE_ORACLE)
def skyline_parts_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier of parts on (price low, size low): a part survives
    iff NO other part is <= on both dimensions and < on at least one.
    The naive formulation is a quadratic NOT EXISTS self-join; this is
    the O(n log n) sweep instead — collapse to per-price minimum size
    (one aggregate), then a single ordered window pass where a price
    group's running-minimum-so-far decides domination, and a broadcast
    join back to parts recovers the surviving rows. Equal (price, size)
    ties all survive (neither strictly dominates). The window runs over
    DISTINCT price groups — dimension cardinality, not corpus
    cardinality — which is what keeps the single-partition sort safe at
    scale; a continuous-price corpus would first be bucketed the way
    price_histogram buckets (the frontier of bucket minima).
    """
    return skyline_2d_from_parts(table(spark, sf_dir, "part"))


def skyline_2d_from_parts(part: DataFrame) -> DataFrame:
    """Core sweep over a ``part[p_partkey, p_retailprice, p_size]`` frame
    (split out so tests can drive handcrafted point sets)."""
    g = part.groupBy(F.col("p_retailprice").alias("price")).agg(
        F.min("p_size").alias("min_size")
    )
    from pyspark.sql.window import Window

    sweep = Window.orderBy("price").rowsBetween(
        Window.unboundedPreceding, -1
    )
    w = g.withColumn("prev_min", F.min("min_size").over(sweep))
    return (
        part.join(
            F.broadcast(w), part.p_retailprice == w.price, "inner"
        )
        .where(
            (F.col("p_size") == F.col("min_size"))
            & (F.col("prev_min").isNull() | (F.col("p_size") < F.col("prev_min")))
        )
        .select(
            F.col("p_partkey").alias("part_id"),
            F.col("p_retailprice").alias("price"),
            F.col("p_size").alias("size"),
        )
    )


# --------------------------------------------------------------------------
# Datasketches HLL distinct-count audit — the sketch-summary path a
# 100 TB cardinality pass actually ships, checked against ground truth.
# --------------------------------------------------------------------------

HLL_LG_K = 14  # 2^14 buckets -> ~0.8% rsd
HLL_TOL = 0.04  # audit tolerance: 5x the lgK=14 rsd — retune if HLL_LG_K changes

HLL_AUDIT_ORACLE = """
WITH toks AS (
  SELECT d.source, t.tk AS token FROM (
    SELECT source,
           string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')
      AS toks FROM documents) d,
    unnest(toks) t(tk)
  WHERE t.tk <> ''
)
SELECT source,
       COUNT(DISTINCT token) AS exact_distinct,
       TRUE AS hll_ok
FROM toks GROUP BY source
"""


@query("distinct_sketch_audit", oracle=HLL_AUDIT_ORACLE)
def distinct_sketch_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distinct-token cardinality via the Datasketches HLL
    functions (Spark 4: ``hll_sketch_agg`` -> ``hll_sketch_estimate``),
    audited next to the exact distinct count in ONE aggregate pass. The
    emitted ``hll_ok`` flag asserts the estimate landed within 5x the
    sketch's stated rsd at lgK=14 (~0.8%); the oracle states the exact
    counts plus literal TRUE, so a sketch regression fails the hash
    compare. HLL is hash-deterministic (no RNG), so the audit is stable
    across runs and partitionings. At 100 TB this is the load-bearing
    shape: per-partition sketches merge associatively (map-side
    combine), the shuffle carries kilobytes per group, and the same
    sketch column can be rolled up across sources without re-reading
    the corpus — exactly what COUNT(DISTINCT) cannot do twice."""
    docs = table(spark, sf_dir, "documents")
    norm = "lower(trim(regexp_replace(text, '\\\\s+', ' ')))"
    toks = docs.select(
        "source",
        F.explode(
            F.expr(f"filter(split({norm}, ' '), x -> x <> '')")
        ).alias("token"),
    )
    agg = toks.groupBy("source").agg(
        F.countDistinct("token").alias("exact_distinct"),
        F.expr(
            f"hll_sketch_estimate(hll_sketch_agg(token, {HLL_LG_K}))"
        ).alias("ap"),
    )
    return agg.select(
        "source",
        "exact_distinct",
        (
            F.abs(F.col("ap") - F.col("exact_distinct"))
            <= HLL_TOL * F.col("exact_distinct")
        ).alias("hll_ok"),
    )


# --------------------------------------------------------------------------
# Theta-sketch set operations: audience overlap between event types.
# --------------------------------------------------------------------------

THETA_OVERLAP_ORACLE = """
WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
pairs AS (
  SELECT a.event_type AS ta, b.event_type AS tb, COUNT(*) AS n
  FROM du a JOIN du b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
),
types AS (SELECT DISTINCT event_type FROM events)
SELECT x.event_type AS type_a, y.event_type AS type_b,
       COALESCE(p.n, 0) AS users_both
FROM types x JOIN types y ON x.event_type < y.event_type
LEFT JOIN pairs p ON p.ta = x.event_type AND p.tb = y.event_type
"""


@query("audience_overlap_theta", oracle=THETA_OVERLAP_ORACLE)
def audience_overlap_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise audience overlap (how many users did BOTH event types)
    via Datasketches THETA set sketches: one pass folds distinct user
    ids into a sketch per event type, then every pair intersects two
    KILOBYTE sketches (``theta_intersection`` — the scalar two-sketch
    form; the aggregate form crashes on empty partitions under partial
    aggregation, probed and avoided). This is the 100 TB overlap shape:
    the exact formulation below (the oracle) joins the full distinct
    (type, user) set against itself — quadratic in types x users — while
    the sketch pass reads the corpus once and does set algebra on
    summaries. At gate scale (150 users/type << the sketch's 4096
    retained-hash threshold) theta operates in EXACT mode, so the
    estimates equal the oracle's true counts deterministically; at
    estimation scale the same plan returns within the sketch's published
    rsd. The from-the-driver contract stays declarative: sketches never
    leave the JVM."""
    ev = table(spark, sf_dir, "events")
    sk = ev.groupBy("event_type").agg(
        F.expr("theta_sketch_agg(user_id)").alias("sk")
    )
    a, b = sk.alias("a"), sk.alias("b")
    return (
        a.join(b, F.col("a.event_type") < F.col("b.event_type"))
        .select(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
            F.expr(
                "cast(round(theta_sketch_estimate("
                "theta_intersection(a.sk, b.sk))) as bigint)"
            ).alias("users_both"),
        )
    )


HLL_ROLLUP_ORACLE = """
SELECT 'distinct_parts_global' AS metric,
       COUNT(DISTINCT l_partkey) AS exact_distinct,
       TRUE AS rollup_ok
FROM lineitem
"""


@query("distinct_sketch_rollup_audit", oracle=HLL_ROLLUP_ORACLE)
def distinct_sketch_rollup_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The property that makes sketches the 100 TB cardinality answer:
    RE-AGGREGABILITY. Per-returnflag HLL sketches of distinct part keys
    are rolled up with ``hll_union_agg`` into a global estimate WITHOUT
    re-reading the fact table — the two-level aggregation a cube of
    distinct counts needs and COUNT(DISTINCT) fundamentally cannot do
    (distinctness does not sum). The audit runs the rollup next to the
    exact global distinct and gates the estimate within 5x the lgK=14
    rsd (~0.8%); the oracle's literal TRUE makes sketch accuracy a
    hash-gated property, as in ``distinct_sketch_audit``."""
    li = table(spark, sf_dir, "lineitem")
    per_flag = li.groupBy("l_returnflag").agg(
        F.expr(f"hll_sketch_agg(l_partkey, {HLL_LG_K})").alias("sk")
    )
    rolled = per_flag.agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias(
            "ap"
        )
    )
    exact = li.agg(
        F.countDistinct("l_partkey").alias("exact_distinct")
    )
    return exact.crossJoin(rolled).select(
        F.lit("distinct_parts_global").alias("metric"),
        "exact_distinct",
        (
            F.abs(F.col("ap") - F.col("exact_distinct"))
            <= HLL_TOL * F.col("exact_distinct")
        ).alias("rollup_ok"),
    )


# --------------------------------------------------------------------------
# Count-min-sketch heavy hitters — the third sketch family (HLL counts
# distincts, theta intersects sets, CMS estimates FREQUENCIES), with the
# overestimate guarantee audited in-query against exact truth.
# --------------------------------------------------------------------------

CMS_DEPTH = 4  # independent hash rows
CMS_WIDTH = 512  # buckets per row
CMS_TOP = 32  # heavy hitters audited

# Oracle token stream built from the SAME tokenizer fragment the Spark
# side uses (functions.text.words_sql is the stated DuckDB twin of
# exploded_words): lowercase, whitespace-split, strip [^a-zA-Z0-9],
# drop empties. An ad-hoc whitespace-only split here would diverge on
# punctuated tokens ('dog.' vs 'dog') and the gate would only pass by
# luck of the corpus.
_CMS_TOKS_DUCK = f"""
  SELECT word AS token FROM ({_words_frag})
"""

CMS_AUDIT_ORACLE = f"""
WITH toks AS ({_CMS_TOKS_DUCK}),
cells AS (
  SELECT r, ('0x' || substr(md5(CAST(r AS VARCHAR) || ':' || token), 1, 15))
             ::UBIGINT % {CMS_WIDTH} AS bucket,
         COUNT(*) AS c
  FROM toks, UNNEST(range(0, {CMS_DEPTH})) AS u(r)
  GROUP BY 1, 2
),
exact AS (
  SELECT token, COUNT(*) AS exact_count FROM toks GROUP BY token
  ORDER BY exact_count DESC, token LIMIT {CMS_TOP}
),
est AS (
  SELECT e.token, e.exact_count, MIN(c.c) AS cms_estimate
  FROM exact e, UNNEST(range(0, {CMS_DEPTH})) AS u(r)
  JOIN cells c
    ON c.r = u.r
   AND c.bucket = ('0x' || substr(md5(CAST(u.r AS VARCHAR) || ':' || e.token),
                   1, 15))::UBIGINT % {CMS_WIDTH}
  GROUP BY 1, 2
)
SELECT token, CAST(exact_count AS BIGINT) AS exact_count,
       CAST(cms_estimate AS BIGINT) AS cms_estimate,
       cms_estimate >= exact_count AS never_underestimates
FROM est
"""


@query("heavy_hitters_cms_audit", oracle=CMS_AUDIT_ORACLE)
def heavy_hitters_cms_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan 2005) frequency
    estimation for the corpus's top-``CMS_TOP`` tokens, audited in-query
    against exact truth: each token is counted into ``CMS_DEPTH``
    md5-derived buckets of ``CMS_WIDTH``, its estimate is the MIN across
    rows, and the emitted ``never_underestimates`` flag pins the CMS
    one-sided error guarantee (estimate >= truth, always — collisions
    only inflate). The hash family is md5-derived, so both engines build
    the IDENTICAL sketch and the gate hash-checks estimates exactly, not
    just the flag.

    Scale: the sketch build is one scan + a groupBy whose keyspace is
    fixed at DEPTH x WIDTH = 2048 cells — map-side combine bounds the
    shuffle at 2048 rows per partition no matter the corpus (the same
    argument as ``bpe_merge_candidates``); the sketch itself is ~16 KB
    and mergeable across partitions/days by cell-wise addition, which is
    why CMS is the 100 TB heavy-hitters shape (exact top-k needs the
    full token keyspace shuffled). The exact side here is the AUDIT, at
    gate scale only — production queries the sketch alone.

    r15 (guide §2.5): DEPTH md5s per token occurrence (~10 M at sf0.1)
    ride the scan stage; spread_frame fans the docs across cores first
    (no-op at real scale). Interleaved A/B: ~3.0 s -> ~2.0 s (-33%)."""
    from ..functions.text import exploded_words
    from ..tables import spread_frame

    docs = spread_frame(table(spark, sf_dir, "documents"))
    toks = exploded_words(docs, "text").select(F.col("word").alias("token"))
    bucket = (
        f"CAST(conv(substr(md5(concat(CAST(r AS STRING), ':', token)),"
        f" 1, 15), 16, 10) AS BIGINT) % {CMS_WIDTH}"
    )
    cells = (
        toks.select(
            "token",
            F.explode(F.expr(f"sequence(0, {CMS_DEPTH - 1})")).alias("r"),
        )
        .select("r", F.expr(bucket).alias("bucket"))
        .groupBy("r", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    exact = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_count"))
        .orderBy(F.desc("exact_count"), F.asc("token"))
        .limit(CMS_TOP)
    )
    probes = exact.select(
        "token",
        "exact_count",
        F.explode(F.expr(f"sequence(0, {CMS_DEPTH - 1})")).alias("r"),
    ).select("token", "exact_count", "r", F.expr(bucket).alias("bucket"))
    return (
        probes.join(F.broadcast(cells), ["r", "bucket"])
        .groupBy("token", "exact_count")
        .agg(F.min("c").cast("long").alias("cms_estimate"))
        .select(
            "token",
            "exact_count",
            "cms_estimate",
            (F.col("cms_estimate") >= F.col("exact_count")).alias(
                "never_underestimates"
            ),
        )
    )
