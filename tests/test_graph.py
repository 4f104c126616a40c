"""Graph analytics: handcrafted-graph exactness + skyline domination law.

The sf0.01 oracle gate already cross-checks both graph queries against
DuckDB end-to-end; these tests pin the CORE semantics on graphs small
enough to verify by hand (where triangle counts are computable on paper)
and exercise the knobs the oracle runs at fixed values (apex degree cap).
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMOKE


def _edges_df(spark, pairs):
    df = spark.createDataFrame(
        [(int(u), int(v)) for (u, v) in pairs], "u long, v long"
    ).persist()
    df.count()
    return df


def _nodes_df(spark, ids):
    return spark.createDataFrame([(int(i),) for i in ids], "pk long")


def test_triangle_counts_handcrafted(spark):
    """K4 on {1,2,3,4} + pendant 5-1 + isolated 6: every K4 node is in
    C(3,2)=3 triangles; node 1 has degree 4 so clustering 3/C(4,2)=0.5,
    nodes 2-4 have clustering 1.0, pendant and isolated report 0."""
    from go_dfs_mapreduce_spark.operators.graph import triangle_counts_from_edges

    k4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    edges = _edges_df(spark, k4 + [(1, 5)])
    out = {
        r["part_id"]: r
        for r in triangle_counts_from_edges(
            _nodes_df(spark, [1, 2, 3, 4, 5, 6]), edges
        ).collect()
    }
    edges.unpersist()
    assert set(out) == {1, 2, 3, 4, 5, 6}
    assert (out[1]["degree"], out[1]["triangles"]) == (4, 3)
    assert out[1]["clustering"] == pytest.approx(0.5)
    for n in (2, 3, 4):
        assert (out[n]["degree"], out[n]["triangles"]) == (3, 3)
        assert out[n]["clustering"] == pytest.approx(1.0)
    assert (out[5]["degree"], out[5]["triangles"], out[5]["clustering"]) == (1, 0, 0.0)
    assert (out[6]["degree"], out[6]["triangles"], out[6]["clustering"]) == (0, 0, 0.0)


def test_triangle_orientation_counts_each_triangle_once(spark):
    """A 5-cycle with one chord (1-3): exactly one triangle (1,2,3) —
    wedge enumeration at the oriented apex must not double-count it."""
    from go_dfs_mapreduce_spark.operators.graph import triangle_counts_from_edges

    edges = _edges_df(spark, [(1, 2), (2, 3), (3, 4), (4, 5), (1, 5), (1, 3)])
    rows = triangle_counts_from_edges(
        _nodes_df(spark, [1, 2, 3, 4, 5]), edges
    ).collect()
    edges.unpersist()
    total = sum(r["triangles"] for r in rows)
    assert total == 3  # one triangle, credited once to each corner
    by_id = {r["part_id"]: r["triangles"] for r in rows}
    assert by_id == {1: 1, 2: 1, 3: 1, 4: 0, 5: 0}


def test_common_neighbors_ranking_and_cap(spark):
    """Star-with-tail: hub 1 adjacent to 2,3,4; plus edge 2-3. The only
    non-adjacent pairs through apexes are (2,4) and (3,4) via hub 1
    (cn=1). With the hub capped out (cap=2), no wedge apex survives and
    the result is empty — the cap must change candidates, not crash."""
    from go_dfs_mapreduce_spark.operators.graph import (
        common_neighbors_topk_from_edges,
    )

    edges = _edges_df(spark, [(1, 2), (1, 3), (1, 4), (2, 3)])
    rows = common_neighbors_topk_from_edges(
        edges, cap=512, k=10, min_cn=1
    ).collect()
    got = {(r["part_a"], r["part_b"]): r["common_neighbors"] for r in rows}
    assert got == {(2, 4): 1, (3, 4): 1}
    ranks = {(r["part_a"], r["part_b"]): r["rank"] for r in rows}
    assert ranks == {(2, 4): 1, (3, 4): 2}  # ties broken by pair ids

    # the default candidate floor (min_cn=2) excludes single-shared-
    # neighbor noise — these cn=1 pairs vanish under it
    floored = common_neighbors_topk_from_edges(edges, cap=512, k=10).collect()
    assert floored == []

    capped = common_neighbors_topk_from_edges(
        edges, cap=2, k=10, min_cn=1
    ).collect()
    edges.unpersist()
    # hub 1 (degree 3) excluded as apex; remaining apexes 2,3 (degree 2)
    # wedge only adjacent pairs (1,3)/(1,2) — filtered as edges -> empty
    assert capped == []


def test_common_neighbors_negative_id_hits_guard(spark):
    """A negative node id would mispack silently (negative multiply plus
    shiftright/% reconstruct the wrong pair) — the id-width guard must
    raise in-plan, exactly as it does for ids >= 2^31."""
    import pytest

    from go_dfs_mapreduce_spark.operators.graph import (
        common_neighbors_topk_from_edges,
    )

    edges = _edges_df(spark, [(1, -2), (1, 3), (1, 4)])
    with pytest.raises(Exception, match="packed pair key"):
        common_neighbors_topk_from_edges(
            edges, cap=512, k=10, min_cn=1
        ).collect()
    edges.unpersist()


def test_skyline_domination_law(spark):
    """Against sf0.001 parts: every emitted row is undominated and every
    non-emitted part is dominated by some part (the defining property,
    checked exhaustively in driver memory at smoke scale)."""
    from go_dfs_mapreduce_spark.operators.stats import skyline_parts_2d
    from go_dfs_mapreduce_spark.tables import table

    parts = [
        (r["p_partkey"], r["p_retailprice"], r["p_size"])
        for r in table(spark, SF_SMOKE, "part")
        .select("p_partkey", "p_retailprice", "p_size")
        .collect()
    ]
    sky = {
        r["part_id"] for r in skyline_parts_2d(spark, SF_SMOKE).collect()
    }

    def dominated(p):
        return any(
            q[1] <= p[1] and q[2] <= p[2] and (q[1] < p[1] or q[2] < p[2])
            for q in parts
        )

    for p in parts:
        assert (p[0] in sky) == (not dominated(p)), p


# --------------------------------------------------------------------------
# property: orientation-based counts == brute force on random graphs
# --------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from itertools import combinations

_GSET = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(
    edges=st.sets(
        st.tuples(st.integers(1, 8), st.integers(1, 8)).filter(
            lambda p: p[0] != p[1]
        ),
        min_size=1,
        max_size=20,
    )
)
@_GSET
def test_triangle_counts_match_bruteforce(spark, edges):
    """Degree-ordered wedge enumeration == brute-force C(n,3) scan, on
    arbitrary random graphs (the orientation invariants — exactly-once
    counting, hub independence — hold for every degree profile)."""
    from go_dfs_mapreduce_spark.operators.graph import triangle_counts_from_edges

    norm = {(min(u, v), max(u, v)) for (u, v) in edges}
    nodes = sorted({x for e in norm for x in e})
    adj = {n: set() for n in nodes}
    for u, v in norm:
        adj[u].add(v)
        adj[v].add(u)
    want_tri = {n: 0 for n in nodes}
    for a, b, c in combinations(nodes, 3):
        if b in adj[a] and c in adj[a] and c in adj[b]:
            for x in (a, b, c):
                want_tri[x] += 1

    df = _edges_df(spark, sorted(norm))
    got = {
        r["part_id"]: (r["degree"], r["triangles"])
        for r in triangle_counts_from_edges(_nodes_df(spark, nodes), df).collect()
    }
    df.unpersist()
    assert got == {n: (len(adj[n]), want_tri[n]) for n in nodes}


def test_pagerank_matches_integer_reference(spark):
    """Path graph 1-2-3 plus isolated 4: compare against the same integer
    recurrence computed by hand in Python (floor division everywhere).
    Also pins the semantics choices: isolated nodes hold teleport mass,
    degree-1 endpoints forward their whole rank."""
    from go_dfs_mapreduce_spark.operators.graph import (
        PR_BASE,
        PR_TELEPORT,
        pagerank_from_edges,
    )

    pairs = [(1, 2), (2, 3)]
    adj = {1: [2], 2: [1, 3], 3: [2], 4: []}

    r = {n: PR_BASE for n in adj}
    for _ in range(2):
        shares = {n: sum(r[u] // len(adj[u]) for u in adj if n in adj[u]) for n in adj}
        r = {n: PR_TELEPORT + (85 * shares[n]) // 100 for n in adj}

    edges = _edges_df(spark, pairs)
    got = {
        row["part_id"]: (row["degree"], row["pr_micro"])
        for row in pagerank_from_edges(
            _nodes_df(spark, [1, 2, 3, 4]), edges, iters=2
        ).collect()
    }
    edges.unpersist()
    assert got == {
        1: (1, r[1]),
        2: (2, r[2]),
        3: (1, r[3]),
        4: (0, r[4]),
    }
    assert got[4][1] == PR_TELEPORT  # isolated: teleport mass only


@given(
    pts=st.lists(
        st.tuples(st.integers(0, 6), st.integers(0, 6)),
        min_size=1,
        max_size=15,
    )
)
@_GSET
def test_skyline_matches_bruteforce(spark, pts):
    """Window-sweep skyline == brute-force domination scan on random
    integer point sets (ties on one or both dimensions included)."""
    from go_dfs_mapreduce_spark.operators.stats import skyline_2d_from_parts

    rows = [(i, float(p), s) for i, (p, s) in enumerate(pts)]
    docs = spark.createDataFrame(
        rows, "p_partkey long, p_retailprice double, p_size int"
    )
    sky = {r["part_id"] for r in skyline_2d_from_parts(docs).collect()}

    def dominated(i):
        pi, si = rows[i][1], rows[i][2]
        return any(
            (q[1] <= pi and q[2] <= si and (q[1] < pi or q[2] < si))
            for q in rows
        )

    assert sky == {i for i in range(len(rows)) if not dominated(i)}


@given(
    edges=st.sets(
        st.tuples(st.integers(1, 7), st.integers(1, 7)).filter(
            lambda p: p[0] != p[1]
        ),
        min_size=1,
        max_size=15,
    )
)
@_GSET
def test_pagerank_matches_python_recurrence(spark, edges):
    """Distributed PageRank == the plain-Python integer recurrence on
    random graphs: same floor divisions, same damping ratio, two
    iterations — exact equality, no tolerance."""
    from go_dfs_mapreduce_spark.operators.graph import (
        PR_BASE,
        PR_DAMP_DEN,
        PR_DAMP_NUM,
        PR_TELEPORT,
        pagerank_from_edges,
    )

    norm = sorted({(min(u, v), max(u, v)) for (u, v) in edges})
    nodes = sorted({x for e in norm for x in e})
    adj = {n: set() for n in nodes}
    for u, v in norm:
        adj[u].add(v)
        adj[v].add(u)

    r = {n: PR_BASE for n in nodes}
    for _ in range(2):
        shares = {
            n: sum(r[u] // len(adj[u]) for u in adj[n]) for n in nodes
        }
        r = {
            n: PR_TELEPORT + (PR_DAMP_NUM * shares[n]) // PR_DAMP_DEN
            for n in nodes
        }

    df = _edges_df(spark, norm)
    got = {
        row["part_id"]: row["pr_micro"]
        for row in pagerank_from_edges(_nodes_df(spark, nodes), df, iters=2).collect()
    }
    df.unpersist()
    assert got == r


def test_cc_labels_handcrafted(spark):
    """Path 1-2-3-4-5 plus isolated-pair 10-11: after 2 min-propagation
    iterations every node holds the smallest id within 2 hops (exact
    component ids where diameter <= 2, over-approximation beyond)."""
    from pyspark.sql import functions as F

    from go_dfs_mapreduce_spark.operators.graph import cc_labels_from_edges

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)], "u long, v long"
    )
    nodes = (
        edges.select(F.col("u").alias("pk"))
        .unionAll(edges.select(F.col("v").alias("pk")))
        .distinct()
    )
    got = {r.part_id: r.cc_label for r in cc_labels_from_edges(nodes, edges).collect()}
    # 2 hops of min: node 4 sees 2 (via 3), node 5 sees 3 (via 4)
    assert got == {1: 1, 2: 1, 3: 1, 4: 2, 5: 3, 10: 10, 11: 10}

    # one more iteration tightens monotonically toward the true component id
    got3 = {
        r.part_id: r.cc_label
        for r in cc_labels_from_edges(nodes, edges, iters=4).collect()
    }
    assert got3 == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10}
