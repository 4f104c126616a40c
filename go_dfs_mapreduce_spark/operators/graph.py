"""Graph analytics over the co-purchase graph.

The graph: parts are nodes; an undirected edge connects two parts that
appear together in at least one order (distinct pairs from a lineitem
self-join on ``l_orderkey``). This is the standard market-basket /
co-occurrence graph, and the two operators here are the standard
large-graph primitives over it:

- ``graph_triangle_counts`` — per-node triangle participation + local
  clustering coefficient, via DEGREE-ORDERED ORIENTATION: every edge is
  directed from its (degree, id)-smaller endpoint to the larger, wedges
  are enumerated only at the oriented apex, and a triangle is a wedge
  whose far endpoints are themselves an oriented edge. Orientation
  bounds out-degree by O(sqrt(m)) on any graph, so wedge count is
  O(m^{3/2}) instead of the Sum C(deg,2) blow-up a hub would cause —
  the MapReduce triangle algorithm of Suri & Vassilvitskii (WWW'11),
  expressed as two shuffle joins Catalyst schedules freely.
- ``graph_common_neighbors_topk`` — link prediction: the top-k
  NON-adjacent pairs ranked by common-neighbor count. Wedges here need
  both hops of the apex, so orientation can't bound them; instead the
  apex is DEGREE-CAPPED (a hub connected to everything predicts nothing
  — standard practice in link-prediction pipelines), which bounds wedge
  work at n * cap^2 by construction. The cap is applied identically in
  the oracle.

At 100 TB the shape holds: the edge list is one shuffle of
order-locally generated pairs (map-side distinct inside each order),
degrees are one small aggregate, and every join key is a part id —
hash-partitioned, AQE-skew-splittable, no driver-side state.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..registry import query
from ..tables import table

# --------------------------------------------------------------------------
# shared frames
# --------------------------------------------------------------------------


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataFrame[u, v] with u < v — distinct co-purchase edges.

    PERSISTED (and populated eagerly), same trade as dedup's
    ``_shingle_arrays``: every graph query consumes this frame along
    several pruned branches (degrees are a union of both endpoint
    columns, orientation joins degrees back onto the edges), and
    ReuseExchange never collapses branch-pruned subtrees (SCALE.md) —
    unpersisted, the lineitem self-join + distinct ran 4-5x per query.
    The graph query family shares one materialization per sweep; a
    per-call persist would pin duplicate cache entries across a gate
    sweep. The edge list is 2 longs per edge (orders of magnitude
    smaller than the fact table), which is exactly the frame a 100 TB
    deployment would materialize once before any graph pass.

    Round 7: the edge list is additionally a PERSISTED DERIVED TABLE
    (``derived.derived_table``, content-fingerprinted against lineitem)
    — the lineitem self-join + distinct runs once per corpus version and
    cold invocations re-read 8.1 MB of parquet instead (2.71 s -> 0.31 s
    at sf0.1, SCALE.md round-7). This is the curated feature-table
    pattern a 100 TB deployment uses for any graph built from a fact
    table."""
    from ..memo import index_table

    def build_edges() -> DataFrame:
        li = (
            table(spark, sf_dir, "lineitem")
            .select(
                F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
            )
            .distinct()
        )
        a, b = li.alias("a"), li.alias("b")
        return (
            a.join(
                b,
                (F.col("a.ok") == F.col("b.ok"))
                & (F.col("a.pk") < F.col("b.pk")),
            )
            .select(F.col("a.pk").alias("u"), F.col("b.pk").alias("v"))
            .distinct()
        )

    return index_table(
        spark, sf_dir, "copurchase_edges", ("lineitem",), build_edges
    )


def _edges_frame_memo(
    spark: SparkSession, sf_dir: str, name: str, build
) -> DataFrame:
    """A persisted frame derived from the edge list, memoized like the
    edge list itself (per-call persist would accrete cached frames
    across gate sweeps) and tokened by the same lineitem fingerprint."""
    from ..derived import _source_fingerprint
    from ..memo import frame_memo

    return frame_memo(
        spark,
        (name, os.path.abspath(sf_dir)),
        _source_fingerprint(sf_dir, ("lineitem",)),
        build,
    )


def _degrees(edges: DataFrame) -> DataFrame:
    """DataFrame[pk, d] — undirected degree of every non-isolated node."""
    ends = edges.select(F.col("u").alias("pk")).unionAll(
        edges.select(F.col("v").alias("pk"))
    )
    return ends.groupBy("pk").agg(F.count(F.lit(1)).alias("d"))


# --------------------------------------------------------------------------
# triangle counts + clustering coefficient
# --------------------------------------------------------------------------

_TRI_EDGE_CTE = """
li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
e AS (
  SELECT DISTINCT a.pk AS u, b.pk AS v
  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
),
deg AS (
  SELECT pk, COUNT(*) AS d FROM (
    SELECT u AS pk FROM e UNION ALL SELECT v AS pk FROM e
  ) GROUP BY pk
)
"""

TRIANGLE_ORACLE = f"""
WITH {_TRI_EDGE_CTE},
oe AS (
  -- orient each edge from the (degree, id)-smaller endpoint; carry the
  -- head's degree so the wedge join can order the two far endpoints
  SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v) THEN e.u ELSE e.v END AS s,
         CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v) THEN e.v ELSE e.u END AS t,
         CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v) THEN dv.d ELSE du.d END AS dt
  FROM e JOIN deg du ON du.pk = e.u JOIN deg dv ON dv.pk = e.v
),
tri AS (
  SELECT a.s AS x, a.t AS y, b.t AS z
  FROM oe a
  JOIN oe b ON a.s = b.s AND (a.dt < b.dt OR (a.dt = b.dt AND a.t < b.t))
  JOIN oe c ON c.s = a.t AND c.t = b.t
),
pernode AS (
  SELECT pk, COUNT(*) AS triangles FROM (
    SELECT x AS pk FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri
  ) GROUP BY pk
)
SELECT n.pk AS part_id,
       COALESCE(deg.d, 0) AS degree,
       COALESCE(pernode.triangles, 0) AS triangles,
       CASE WHEN COALESCE(deg.d, 0) >= 2
            THEN 2.0 * COALESCE(pernode.triangles, 0) / (deg.d * (deg.d - 1))
            ELSE 0.0 END AS clustering
FROM (SELECT DISTINCT pk FROM li) n
LEFT JOIN deg ON deg.pk = n.pk
LEFT JOIN pernode ON pernode.pk = n.pk
"""


def _oriented(edges: DataFrame) -> DataFrame:
    """DataFrame[s, t, dt] — each edge directed from its (degree, id)-
    smaller endpoint, carrying the head's degree for wedge ordering."""
    deg = _degrees(edges)
    e = (
        edges.join(
            F.broadcast(deg.withColumnRenamed("pk", "u").withColumnRenamed("d", "du")),
            "u",
        ).join(
            F.broadcast(deg.withColumnRenamed("pk", "v").withColumnRenamed("d", "dv")),
            "v",
        )
    )
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    return e.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("s"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("t"),
        F.when(u_first, F.col("dv")).otherwise(F.col("du")).alias("dt"),
    )


def triangle_counts_from_edges(
    nodes: DataFrame,
    edges: DataFrame,
    oe: DataFrame | None = None,
) -> DataFrame:
    """Core triangle/clustering computation over ``nodes[pk]`` and
    u<v-normalized distinct ``edges[u, v]`` (see ``graph_triangle_counts``
    for the full semantics; split out so tests can drive handcrafted
    graphs). ``edges`` should be persisted+populated by the caller — it
    is consumed along several branch-pruned subtrees. ``oe`` lets the
    registered query pass its memoized oriented-edge frame; direct
    (test) callers omit it and get a per-call persist, released with
    their short-lived session."""
    deg = _degrees(edges)

    if oe is None:
        # persisted: consumed by all three triangle-join aliases below —
        # the same branch-pruned-subtree recompute as _edges (degree
        # count rows broadcast; oe itself is 3 longs per edge)
        oe = _oriented(edges).persist()
        oe.count()

    a, b = oe.alias("a"), oe.alias("b")
    wedge_ord = (F.col("a.dt") < F.col("b.dt")) | (
        (F.col("a.dt") == F.col("b.dt")) & (F.col("a.t") < F.col("b.t"))
    )
    # the closing join keys on the WEDGE ENDPOINTS PACKED INTO ONE LONG
    # (y << 32 | z) against the identically packed edge list — the same
    # single-column-key win as common_neighbors' pk2 (half the key
    # width, one hash), and the packed edge side is a frame of single
    # longs small enough that AQE broadcasts it, so the wedge stream is
    # never shuffled for the closing step at all. Measured 4.6 -> 2.3 s
    # at sf0.1 (same-session A/B, identical 20k-row output; SCALE.md).
    # Ids must fit [0, 2^31); the guard raises in-plan like
    # common_neighbors' rather than silently mispacking.
    wk = F.expr(
        "CASE WHEN a.t BETWEEN 0 AND 2147483647 "
        "AND b.t BETWEEN 0 AND 2147483647 "
        "THEN a.t * 4294967296 + b.t "
        "ELSE raise_error('triangle_counts: node id outside [0, 2^31) "
        "breaks the packed closing key; widen to a two-column key') END"
    )
    ce = oe.select(
        F.expr(
            "CASE WHEN s BETWEEN 0 AND 2147483647 "
            "AND t BETWEEN 0 AND 2147483647 "
            "THEN s * 4294967296 + t "
            "ELSE raise_error('triangle_counts: node id outside [0, 2^31) "
            "breaks the packed closing key; widen to a two-column key') END"
        ).alias("wk")
    )
    tri = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & wedge_ord)
        .select(
            F.col("a.s").alias("x"),
            F.col("a.t").alias("y"),
            F.col("b.t").alias("z"),
            wk.alias("wk"),
        )
        .join(ce, "wk")
        .select("x", "y", "z")
    )
    # credit all three corners in ONE pass over the triangle join (a
    # 3-branch union would recompute the wedge+closing joins 3x)
    pernode = (
        tri.select(F.explode(F.array("x", "y", "z")).alias("pk"))
        .groupBy("pk")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )

    out = (
        nodes.join(deg, "pk", "left")
        .join(pernode, "pk", "left")
        .select(
            F.col("pk").alias("part_id"),
            F.coalesce(F.col("d"), F.lit(0)).alias("degree"),
            F.coalesce(F.col("triangles"), F.lit(0)).alias("triangles"),
            F.when(
                F.coalesce(F.col("d"), F.lit(0)) >= 2,
                F.lit(2.0)
                * F.coalesce(F.col("triangles"), F.lit(0))
                / (F.col("d") * (F.col("d") - 1)),
            )
            .otherwise(F.lit(0.0))
            .alias("clustering"),
        )
    )
    return out


@query("graph_triangle_counts", oracle=TRIANGLE_ORACLE)
def graph_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part triangle participation and local clustering coefficient
    over the co-purchase graph, with degree-ordered orientation bounding
    wedge enumeration at O(m^{3/2}) regardless of hubs. The coefficient
    divides exact integer counts once in IEEE double (portable); nodes
    with degree < 2 report 0.0, not a 0/0."""
    nodes = (
        table(spark, sf_dir, "lineitem")
        .select(F.col("l_partkey").alias("pk"))
        .distinct()
    )
    edges = _edges(spark, sf_dir)
    oe = _edges_frame_memo(
        spark, sf_dir, "oriented_edges", lambda: _oriented(edges)
    )
    return triangle_counts_from_edges(nodes, edges, oe=oe)


# --------------------------------------------------------------------------
# common-neighbor link prediction (degree-capped apex)
# --------------------------------------------------------------------------

CN_APEX_CAP = 512  # max apex degree: hubs predict nothing, and capping
# bounds wedge enumeration at n * cap^2 by construction
CN_MIN_CN = 2  # candidate floor: a single shared neighbor is noise for
# link prediction, and the floor prunes the (heavily cn=1-dominated)
# pair set BEFORE the non-edge anti-join — applied identically in the
# oracle, so it is part of the operator's declared contract
CN_TOPK = 50

COMMON_NEIGHBORS_ORACLE = f"""
WITH {_TRI_EDGE_CTE},
adj AS (
  -- both directions, apex side degree-capped
  SELECT e.u AS apex, e.v AS nb FROM e JOIN deg ON deg.pk = e.u WHERE deg.d <= {CN_APEX_CAP}
  UNION ALL
  SELECT e.v AS apex, e.u AS nb FROM e JOIN deg ON deg.pk = e.v WHERE deg.d <= {CN_APEX_CAP}
),
pairs AS (
  SELECT a.nb AS p1, b.nb AS p2, COUNT(*) AS cn
  FROM adj a JOIN adj b ON a.apex = b.apex AND a.nb < b.nb
  GROUP BY a.nb, b.nb
  HAVING COUNT(*) >= {CN_MIN_CN}
),
nonedges AS (
  SELECT * FROM pairs p
  WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.u = p.p1 AND e.v = p.p2)
)
SELECT part_a, part_b, common_neighbors, CAST(rn AS INTEGER) AS rank FROM (
  SELECT p1 AS part_a, p2 AS part_b, cn AS common_neighbors,
         row_number() OVER (ORDER BY cn DESC, p1, p2) AS rn
  FROM nonedges
) WHERE rn <= {CN_TOPK}
"""


def common_neighbors_topk_from_edges(
    edges: DataFrame, cap: int = CN_APEX_CAP, k: int = CN_TOPK,
    min_cn: int = CN_MIN_CN,
) -> DataFrame:
    """Core common-neighbor ranking over u<v-normalized distinct
    ``edges[u, v]`` (see ``graph_common_neighbors_topk``; split out so
    tests can drive handcrafted graphs)."""
    deg = _degrees(edges)
    # the cap keeps MOST nodes (hubs above it are the rare tail of a
    # power-law degree distribution), so express it as a broadcast
    # ANTI-join against the tiny hub set instead of shuffling the whole
    # edge list through an inner join with the huge keep-set — the
    # broadcast side is bounded by the hub count at any graph scale
    hubs = deg.where(F.col("d") > cap).select("pk")
    fwd = edges.join(
        F.broadcast(hubs.withColumnRenamed("pk", "u")), "u", "left_anti"
    ).select(F.col("u").alias("apex"), F.col("v").alias("nb"))
    rev = edges.join(
        F.broadcast(hubs.withColumnRenamed("pk", "v")), "v", "left_anti"
    ).select(F.col("v").alias("apex"), F.col("u").alias("nb"))
    adj = fwd.unionAll(rev)

    # wedge pairs via a STREAMING SELF-JOIN on the apex, deliberately NOT
    # dedup's bucket-expansion trick: expansion wins when buckets hold a
    # handful of members (LSH signatures), but an apex of degree d
    # materializes a C(d,2)-struct array per row before explode, outside
    # whole-stage codegen — measured 2.3x SLOWER than this join at sf0.1
    # (103 s vs 45 s over 148M wedges, SCALE.md). The join streams both
    # probe sides through generated code and feeds the partial count
    # directly.
    # r16 (guide §3.1 — pick the join strategy deliberately): the wedge
    # self-join emits ~124 wedges per probe row (148 M from 2.4 M adj
    # rows at sf0.1), and sort-merge buffers every apex's match group in
    # an ExternalAppendOnlyUnsafeRowArray that each probe row re-scans.
    # A shuffled-hash join streams the probe side through the per-
    # partition hash map with no sort and no buffering copy — interleaved
    # A/B at sf0.1: 17.5 -> 15.2 s median (-13%), identical top-k
    # (tools/cn_variants_r16.py, readable at commit cee7023; fastmap/
    # sort-agg/partition-count arms all measured worse or flat and are
    # recorded in OPTIMIZATION_r16).
    # Build side = the hinted adjacency ``b`` (BuildRight, pinned in
    # tests/test_catalog_plans.py). Spark has NO runtime fallback from a
    # hinted shuffled-hash join to sort-merge: the build map must fit in
    # the task's execution memory or the task fails. Two things bound it.
    # The apex cap: hubs above ``cap`` were anti-joined away above, so no
    # join key puts more than ``cap`` rows into one partition's map and
    # no skewed apex can concentrate the build. Partition sizing: the
    # build exchange hashes the adjacency over spark.sql.shuffle.partitions
    # and AQE only merges partitions up to the advisory size, so each map
    # holds about |adj| / shuffle partitions rows (2.4 M / 32 = 75 k at
    # sf0.1); a larger graph needs that partition count raised with it.
    a, b = adj.alias("a"), adj.hint("SHUFFLE_HASH").alias("b")
    # the wedge aggregation keys on the PAIR PACKED INTO ONE LONG
    # (p1 << 32 | p2): half the shuffle key width and a single-column
    # hash, measured 31% faster end-to-end at sf0.1 (39.0 s -> 27.1 s,
    # SCALE.md) over 148M wedges. Packing requires ids < 2^31; the guard
    # raises inside the task (loud, distributed, in-plan — the
    # dedup_ngram_jaccard idiom) the moment a graph's id space outgrows
    # it, rather than silently corrupting pairs.
    packed = F.expr(
        "CASE WHEN a.nb BETWEEN 0 AND 2147483647 "
        "AND b.nb BETWEEN 0 AND 2147483647 "
        "THEN a.nb * 4294967296 + b.nb "
        "ELSE raise_error('common_neighbors_topk: node id outside "
        "[0, 2^31) breaks the packed pair key (negative ids mispack "
        "under shiftright/%); widen to a two-column key') END"
    )
    # r15 (guide §2.5/§5): the wedge stream is ~unique pairs (148 M wedges
    # -> 33.6 M distinct cn>=2 pairs at sf0.1), so the default partial
    # aggregate builds a multi-million-entry hash map per map task that
    # collapses almost nothing before the exchange — pure memory pressure.
    # Hash-repartitioning the 8-byte packed keys to 4x parallelism FIRST
    # keeps every aggregate's state ~4x smaller and lets the partial and
    # final agg run inside one post-exchange stage; AQE never coalesces an
    # explicit keyed repartition, and the factor scales with the session's
    # core count, not a local constant. Interleaved A/B at sf0.1:
    # 18.5 s -> 15.6 s median end-to-end (-16%), identical top-k.
    wedge_parts = 4 * edges.sparkSession.sparkContext.defaultParallelism
    pairs = (
        a.join(b, (F.col("a.apex") == F.col("b.apex")) & (F.col("a.nb") < F.col("b.nb")))
        .select(packed.alias("pk2"))
        .repartition(wedge_parts, "pk2")
        .groupBy("pk2")
        .agg(F.count(F.lit(1)).alias("cn"))
        # candidate floor (mirrored in the oracle's HAVING): the pair set
        # is dominated by cn=1 noise, so this prunes the anti-join input
        # by 4-5x before the non-edge anti-join shuffle
        .where(F.col("cn") >= min_cn)
        .select(
            F.shiftright("pk2", 32).alias("p1"),
            (F.col("pk2") % F.lit(1 << 32)).alias("p2"),
            "cn",
        )
    )
    nonedges = pairs.join(
        edges,
        (pairs.p1 == edges.u) & (pairs.p2 == edges.v),
        "left_anti",
    )
    topk = (
        nonedges.select(
            F.col("p1").alias("part_a"),
            F.col("p2").alias("part_b"),
            F.col("cn").alias("common_neighbors"),
        )
        .orderBy(F.desc("common_neighbors"), "part_a", "part_b")
        .limit(k)
    )
    w = Window.orderBy(F.desc("common_neighbors"), "part_a", "part_b")
    return topk.withColumn("rank", F.row_number().over(w).cast("int"))


@query("graph_common_neighbors_topk", oracle=COMMON_NEIGHBORS_ORACLE)
def graph_common_neighbors_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction over the co-purchase graph: the strongest
    NOT-yet-connected part pairs by common-neighbor count (top-50).
    Wedge apexes are degree-capped (identically in the oracle), so
    enumeration is n*cap^2-bounded; candidate pairs then anti-join the
    edge list (both sides already u<v-normalized). The
    top-k is a distributed TakeOrderedAndProject over the candidate
    pairs — per-task heaps, never a single-partition global sort — and
    only the <=50 survivors pass through the rank window (ties broken
    by pair ids)."""
    return common_neighbors_topk_from_edges(_edges(spark, sf_dir))


# --------------------------------------------------------------------------
# PageRank, 2 unrolled iterations, exact integer micro-units
# --------------------------------------------------------------------------

PR_DAMP_NUM, PR_DAMP_DEN = 85, 100  # damping 0.85 as an exact ratio
PR_BASE = 1_000_000  # initial rank mass per node, micro-units
PR_TELEPORT = 150_000  # (1 - d) * base, micro-units

PAGERANK_ORACLE = f"""
WITH {_TRI_EDGE_CTE},
adj AS (
  SELECT u AS src, v AS dst FROM e
  UNION ALL
  SELECT v AS src, u AS dst FROM e
),
nodes AS (SELECT DISTINCT pk FROM li),
r0 AS (SELECT pk, CAST({PR_BASE} AS BIGINT) AS r FROM nodes),
r1 AS (
  SELECT n.pk,
         {PR_TELEPORT} + ({PR_DAMP_NUM} * COALESCE(s.m, 0)) // {PR_DAMP_DEN} AS r
  FROM nodes n LEFT JOIN (
    SELECT adj.dst AS pk, SUM(r0.r // deg.d) AS m
    FROM adj JOIN r0 ON r0.pk = adj.src JOIN deg ON deg.pk = adj.src
    GROUP BY adj.dst
  ) s ON s.pk = n.pk
),
r2 AS (
  SELECT n.pk,
         {PR_TELEPORT} + ({PR_DAMP_NUM} * COALESCE(s.m, 0)) // {PR_DAMP_DEN} AS r
  FROM nodes n LEFT JOIN (
    SELECT adj.dst AS pk, SUM(r1.r // deg.d) AS m
    FROM adj JOIN r1 ON r1.pk = adj.src JOIN deg ON deg.pk = adj.src
    GROUP BY adj.dst
  ) s ON s.pk = n.pk
)
SELECT r2.pk AS part_id, COALESCE(deg.d, 0) AS degree,
       CAST(r2.r AS BIGINT) AS pr_micro
FROM r2 LEFT JOIN deg ON deg.pk = r2.pk
"""


def _pr_iteration(nodes: DataFrame, adj_d: DataFrame, r: DataFrame) -> DataFrame:
    """One damped PageRank step in exact integers: every node sends
    floor(r/d) along each incident edge; a node's next rank is
    teleport + floor(0.85 * received). Shares ride the adjacency join
    (keyed by node id, map-side-combined sum); floor-of-nonnegative
    integer division is spelled `div` (Spark) / `//` (DuckDB), which
    agree everywhere and never round through a double."""
    shares = (
        adj_d.join(r, adj_d.src == r.pk)
        .select("dst", F.expr("r div d").alias("share"))
        .groupBy("dst")
        .agg(F.sum("share").alias("m"))
    )
    return nodes.join(shares, nodes.pk == shares.dst, "left").select(
        nodes.pk,
        (
            F.lit(PR_TELEPORT)
            + F.expr(f"({PR_DAMP_NUM} * coalesce(m, 0)) div {PR_DAMP_DEN}")
        ).alias("r"),
    )


def pagerank_from_edges(
    nodes: DataFrame, edges: DataFrame, iters: int = 2,
    adj: DataFrame | None = None,
) -> DataFrame:
    """Core PageRank over ``nodes[pk]`` and u<v-normalized distinct
    ``edges[u, v]`` (split out so tests can drive handcrafted graphs).
    ``adj`` optionally supplies a prebuilt bidirectional adjacency (the
    shared-adjacency convention of ``cc_labels_from_edges``)."""
    deg = _degrees(edges)
    if adj is None:
        adj = edges.select(
            F.col("u").alias("src"), F.col("v").alias("dst")
        ).unionAll(
            edges.select(F.col("v").alias("src"), F.col("u").alias("dst"))
        )
    adj_d = adj.join(F.broadcast(deg), adj.src == deg.pk).select("src", "dst", "d")

    r = nodes.select("pk", F.lit(PR_BASE).cast("long").alias("r"))
    for _ in range(iters):
        r = _pr_iteration(nodes, adj_d, r)
    return r.join(deg, "pk", "left").select(
        F.col("pk").alias("part_id"),
        F.coalesce(F.col("d"), F.lit(0)).alias("degree"),
        F.col("r").cast("long").alias("pr_micro"),
    )


@query("pagerank_parts_2iter", oracle=PAGERANK_ORACLE)
def pagerank_parts_2iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Damped PageRank over the undirected co-purchase graph, two Lloyd-
    style unrolled iterations (the kmeans pattern: iteration count is a
    constant plan factor, not driver-side looping), entirely in exact
    integer micro-units so the result is order-independent and engine-
    portable — no float accumulation anywhere. Per iteration the only
    corpus-sized exchange is the share aggregation keyed by node id;
    degrees ride along broadcast. Isolated nodes hold teleport mass only
    (the undirected graph has no other sinks)."""
    nodes = (
        table(spark, sf_dir, "lineitem")
        .select(F.col("l_partkey").alias("pk"))
        .distinct()
    )
    return pagerank_from_edges(nodes, _edges(spark, sf_dir), iters=2)


# --------------------------------------------------------------------------
# Connected-component labels, 2 unrolled min-propagation iterations
# --------------------------------------------------------------------------

CC_ITERS = 2

CC_ORACLE = f"""
WITH {_TRI_EDGE_CTE},
adj AS (
  SELECT u AS src, v AS dst FROM e
  UNION ALL
  SELECT v AS src, u AS dst FROM e
),
nodes AS (SELECT DISTINCT pk FROM li),
l0 AS (SELECT pk, pk AS lbl FROM nodes),
l1 AS (
  SELECT n.pk, least(p.lbl, COALESCE(s.mn, p.lbl)) AS lbl
  FROM nodes n JOIN l0 p ON p.pk = n.pk
  LEFT JOIN (
    SELECT adj.dst AS pk, MIN(l0.lbl) AS mn
    FROM adj JOIN l0 ON l0.pk = adj.src GROUP BY adj.dst
  ) s ON s.pk = n.pk
),
l2 AS (
  SELECT n.pk, least(p.lbl, COALESCE(s.mn, p.lbl)) AS lbl
  FROM nodes n JOIN l1 p ON p.pk = n.pk
  LEFT JOIN (
    SELECT adj.dst AS pk, MIN(l1.lbl) AS mn
    FROM adj JOIN l1 ON l1.pk = adj.src GROUP BY adj.dst
  ) s ON s.pk = n.pk
)
SELECT pk AS part_id, CAST(lbl AS BIGINT) AS cc_label FROM l2
"""


def _cc_iteration(adj: DataFrame, lbl: DataFrame) -> DataFrame:
    """One min-label propagation step: a node's next label is the min of
    its own and its neighbors' current labels. MIN is order-free, so the
    result is deterministic under any partitioning. ``lbl`` carries
    exactly one row per node (it starts as the node list and a left join
    preserves the key set), so no separate node-list join is needed —
    round-8 re-plan dropped the per-iteration ``nodes`` shuffle join the
    r7 version carried (one exchange fewer per superstep; labels are
    row-identical because the dropped join was key-preserving)."""
    mins = (
        adj.join(lbl, adj.src == lbl.pk)
        .groupBy("dst")
        .agg(F.min("lbl").alias("mn"))
    )
    return lbl.join(mins, lbl.pk == mins.dst, "left").select(
        lbl.pk,
        F.least(F.col("lbl"), F.coalesce(F.col("mn"), F.col("lbl"))).alias(
            "lbl"
        ),
    )


def cc_labels_from_edges(
    nodes: DataFrame, edges: DataFrame, iters: int = CC_ITERS,
    adj: DataFrame | None = None,
) -> DataFrame:
    """Core label propagation over ``nodes[pk]`` and u<v-normalized
    ``edges[u, v]`` (split out so tests can drive handcrafted graphs —
    ``nodes`` may include isolated nodes absent from ``edges``; they
    keep their own id as label through every iteration). ``adj``
    optionally supplies a prebuilt bidirectional adjacency frame (e.g.
    pre-partitioned by src and persisted) so a caller sweeping several
    graph queries can share one materialization — the round-9 shared-
    adjacency A/B (SCALE.md) measures that trade."""
    if adj is None:
        adj = edges.select(
            F.col("u").alias("src"), F.col("v").alias("dst")
        ).unionAll(
            edges.select(F.col("v").alias("src"), F.col("u").alias("dst"))
        )
    lbl = nodes.select("pk", F.col("pk").alias("lbl"))
    if iters >= 1:
        # iteration 1 shortcut: under the identity labeling, the min of
        # the neighbors' labels IS min(src) — a bare partial-aggregated
        # groupBy, no label join (round-8 re-plan: halves the join count
        # of the 2-iteration operator)
        mins0 = adj.groupBy("dst").agg(F.min("src").alias("mn"))
        lbl = lbl.join(mins0, lbl.pk == mins0.dst, "left").select(
            lbl.pk,
            F.least(
                F.col("lbl"), F.coalesce(F.col("mn"), F.col("lbl"))
            ).alias("lbl"),
        )
    for _ in range(iters - 1):
        lbl = _cc_iteration(adj, lbl)
    return lbl.select(
        F.col("pk").alias("part_id"), F.col("lbl").cast("long").alias("cc_label")
    )


@query("graph_cc_labels_2iter", oracle=CC_ORACLE)
def graph_cc_labels_2iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected-component label propagation over the co-purchase graph,
    two unrolled iterations — the iterative-algorithm pattern
    (``pagerank_parts_2iter``'s sibling) with MIN instead of a damped
    sum: after k iterations every node carries the smallest node id
    within k hops, so labels are exact component ids for components of
    diameter <= k and a monotone over-approximation otherwise (the
    fixed-iteration contract, identical in the oracle; production runs
    the same step to a convergence check — large-star/small-star for
    O(log n) rounds).

    Scale: each iteration is one adjacency join + a MIN aggregate keyed
    by node id (map-side combine; MIN is order-free so determinism never
    depends on partitioning); the label frame is |nodes| rows of two
    longs. Unlike PageRank there is no per-edge division — the join
    carries only the neighbor label.

    Reference parity: iterative label spreading is the canonical
    "MapReduce round per superstep" workload
    (``cn/mr_actions.go:54-291``'s Map_reduce job loop); here each superstep is a
    declarative join the optimizer plans, not hand-written mapper
    plumbing.

    r15 (guide §2.4 "two operations keyed the same way can share one
    exchange"): the bidirectional adjacency is STATIC across iterations
    but was re-shuffled by every superstep's join; it is now
    hash-partitioned by src once and session-persisted, so each
    iteration's join reuses that partitioning and only the |nodes|-sized
    label vector moves. Interleaved A/B at sf0.1: 3.89 s -> 2.35 s
    (-40%), identical labels. (The same treatment measured +8% on
    pagerank — its broadcast-degree join re-plans the adjacency side
    anyway — so pagerank keeps its shape; recorded in
    OPTIMIZATION_r15.md.)"""
    edges = _edges(spark, sf_dir)
    nodes = (
        edges.select(F.col("u").alias("pk"))
        .unionAll(edges.select(F.col("v").alias("pk")))
        .distinct()
    )
    P = spark.sparkContext.defaultParallelism

    def build_adj() -> DataFrame:
        return (
            edges.select(F.col("u").alias("src"), F.col("v").alias("dst"))
            .unionAll(
                edges.select(F.col("v").alias("src"), F.col("u").alias("dst"))
            )
            .repartition(P, "src")
        )

    adj = _edges_frame_memo(spark, sf_dir, "adjacency", build_adj)
    return cc_labels_from_edges(nodes, edges, adj=adj)
