"""Triangle counting (operators/graph.py) edge semantics.

The compact-forward claim is exactly-once enumeration at the
lowest-(degree, id) corner — pinned on hand graphs where the counts
are computable by eye, a canonicalization gauntlet (reversed /
duplicated / self-loop edges), and a brute-force equivalence sweep
over every 6-vertex edge subset of a seeded random graph.
"""

from __future__ import annotations

import itertools
import random

from pyspark.sql import functions as F

from etl_cpc_schema_spark.operators.graph import (
    cooccurrence_edges,
    label_propagation,
    pagerank,
    triangle_counts,
)


def _edges(spark, pairs):
    return spark.createDataFrame(
        [(int(u), int(v)) for u, v in pairs], "u bigint, v bigint"
    )


def _counts(spark, pairs):
    out = triangle_counts(_edges(spark, pairs))
    return {r.node: r.triangles for r in out.collect()}


def _naive(pairs):
    es = {tuple(sorted(p)) for p in pairs if p[0] != p[1]}
    nodes = {n for e in es for n in e}
    got: dict[int, int] = {}
    for tri in itertools.combinations(sorted(nodes), 3):
        if all(e in es for e in itertools.combinations(tri, 2)):
            for n in tri:
                got[n] = got.get(n, 0) + 1
    return got


def test_single_triangle_with_dangle(spark):
    assert _counts(spark, [(1, 2), (2, 3), (1, 3), (3, 4)]) == {
        1: 1, 2: 1, 3: 1,
    }


def test_star_has_no_triangles(spark):
    assert _counts(spark, [(0, i) for i in range(1, 6)]) == {}


def test_k4_every_node_in_three(spark):
    k4 = list(itertools.combinations(range(4), 2))
    assert _counts(spark, k4) == {0: 3, 1: 3, 2: 3, 3: 3}


def test_canonicalization_reversed_dup_selfloop(spark):
    messy = [(2, 1), (1, 2), (3, 2), (1, 3), (1, 1), (3, 3)]
    assert _counts(spark, messy) == {1: 1, 2: 1, 3: 1}


def test_brute_force_equivalence_random_graph(spark):
    rng = random.Random(7)
    nodes = list(range(12))
    pairs = [
        (u, v)
        for u, v in itertools.combinations(nodes, 2)
        if rng.random() < 0.35
    ]
    assert _counts(spark, pairs) == _naive(pairs)


def test_cooccurrence_edges_and_cap(spark):
    rows = [
        # basket A: 3 items -> 3 edges; basket B: duplicate rows and
        # one overlap item; basket C: 4 items, dropped by the cap
        ("A", 1), ("A", 2), ("A", 3),
        ("B", 2), ("B", 2), ("B", 5),
        ("C", 6), ("C", 7), ("C", 8), ("C", 9),
    ]
    df = spark.createDataFrame(rows, "g string, item bigint")
    full = {
        (r.u, r.v)
        for r in cooccurrence_edges(df, "g", "item").collect()
    }
    assert full == {
        (1, 2), (1, 3), (2, 3), (2, 5),
        (6, 7), (6, 8), (6, 9), (7, 8), (7, 9), (8, 9),
    }
    capped = {
        (r.u, r.v)
        for r in cooccurrence_edges(
            df, "g", "item", max_group_size=3
        ).collect()
    }
    assert capped == {(1, 2), (1, 3), (2, 3), (2, 5)}


def _ranks(spark, pairs, **kw):
    out = pagerank(_edges(spark, pairs), **kw)
    return {r.node: r.rank for r in out.collect()}


def test_pagerank_hand_computed_exact_integers(spark):
    # 1->2, 1->3, 2->1; node 3 dangling.  By hand in micro-units:
    # iter1 r = (1_000_000, 575_000, 575_000)
    # iter3 r = (  638_750, 421_468, 421_468)
    e = [(1, 2), (1, 3), (2, 1)]
    assert _ranks(spark, e, iterations=1) == {
        1: 1_000_000, 2: 575_000, 3: 575_000,
    }
    assert _ranks(spark, e, iterations=3) == {
        1: 638_750, 2: 421_468, 3: 421_468,
    }


def test_pagerank_dedup_and_selfloop_ignored(spark):
    # duplicate edges and a self-loop must not inflate out-degrees
    e = [(1, 2), (1, 2), (1, 3), (2, 1), (1, 1)]
    assert _ranks(spark, e, iterations=3) == {
        1: 638_750, 2: 421_468, 3: 421_468,
    }


def test_pagerank_groups_are_independent(spark):
    rows = [
        ("A", 1, 2), ("A", 1, 3), ("A", 2, 1),
        ("B", 1, 2), ("B", 2, 1),
    ]
    df = spark.createDataFrame(rows, "g string, u bigint, v bigint")
    out = pagerank(df, iterations=3, group_cols=["g"]).collect()
    got = {(r.g, r.node): r.rank for r in out}
    # group A = the hand-computed graph; group B = a symmetric 2-cycle
    # (each node keeps the full unit: 150000 + 850*1e6//1000)
    assert got[("A", 1)] == 638_750 and got[("A", 3)] == 421_468
    assert got[("B", 1)] == 1_000_000 and got[("B", 2)] == 1_000_000


def _lpa_model(pairs, iterations=2):
    es = {tuple(sorted(p)) for p in pairs if p[0] != p[1]}
    nbrs: dict[int, list[int]] = {}
    for u, v in es:
        nbrs.setdefault(u, []).append(v)
        nbrs.setdefault(v, []).append(u)
    lab = {n: n for n in nbrs}
    for _ in range(iterations):
        new = {}
        for n, ns in nbrs.items():
            cnt: dict[int, int] = {}
            for m in ns:
                cnt[lab[m]] = cnt.get(lab[m], 0) + 1
            new[n] = min(
                cnt, key=lambda c: (-cnt[c], c)
            )
        lab = new
    return lab


def _lpa(spark, pairs, **kw):
    out = label_propagation(_edges(spark, pairs), **kw)
    return {r.node: r.community for r in out.collect()}


def test_lpa_two_cliques_with_bridge_hand_traced(spark):
    e = [(1, 2), (1, 3), (2, 3), (4, 5), (4, 6), (5, 6), (3, 4)]
    want = {1: 1, 2: 1, 3: 1, 4: 4, 5: 3, 6: 3}
    assert _lpa(spark, e, iterations=2) == want
    assert want == _lpa_model(e, 2)


def test_lpa_bipartite_two_cycle_is_the_documented_behavior(spark):
    # a single edge oscillates under synchronous updates: labels swap
    # each round — pinned so the fixed-round contract stays honest
    assert _lpa(spark, [(1, 2)], iterations=1) == {1: 2, 2: 1}
    assert _lpa(spark, [(1, 2)], iterations=2) == {1: 1, 2: 2}


def test_lpa_canonicalization(spark):
    messy = [(2, 1), (1, 2), (3, 1), (1, 1)]
    assert _lpa(spark, messy, iterations=1) == _lpa_model(
        [(1, 2), (1, 3)], 1
    )


def test_hypothesis_lpa_matches_reference_model(spark):
    # random graphs batched into ONE Spark run via disjoint id ranges
    # (labels are node ids, so disconnected subgraphs cannot interact)
    from hypothesis import given, settings, strategies as st

    node = st.integers(min_value=0, max_value=7)
    graph = st.lists(st.tuples(node, node), min_size=1, max_size=14)
    graphs: list[list[tuple[int, int]]] = []

    @settings(max_examples=30, deadline=None)
    @given(graph)
    def _collect(pairs):
        graphs.append(pairs)

    _collect()
    rows = [
        (1000 * gi + u, 1000 * gi + v)
        for gi, pairs in enumerate(graphs)
        for u, v in pairs
    ]
    got = _lpa(spark, rows, iterations=2)
    for gi, pairs in enumerate(graphs):
        want = {
            1000 * gi + n: 1000 * gi + c
            for n, c in _lpa_model(pairs, 2).items()
        }
        sub = {n: c for n, c in got.items() if n // 1000 == gi}
        assert sub == want, f"graph {gi}: {pairs}"


def test_hypothesis_pagerank_matches_reference_model(spark):
    # the distributed integer recurrence must agree with a
    # straight-line dict-loop reference on arbitrary small digraphs —
    # batched into ONE Spark run via the group column (each generated
    # graph is its own group, and groups are independent by the
    # grouped-pagerank contract tested above).
    from hypothesis import given, settings, strategies as st

    node = st.integers(min_value=0, max_value=7)
    graph = st.lists(st.tuples(node, node), min_size=1, max_size=14)

    def _model(pairs, iters=3, unit=1_000_000, d=850):
        es = sorted({(u, v) for u, v in pairs if u != v})
        nodes = sorted({n for e in es for n in e})
        out: dict[int, int] = {}
        for u, _ in es:
            out[u] = out.get(u, 0) + 1
        r = {n: unit for n in nodes}
        base = unit * (1000 - d) // 1000
        for _ in range(iters):
            c = {n: 0 for n in nodes}
            for u, v in es:
                c[v] += r[u] // out[u]
            r = {n: base + d * c[n] // 1000 for n in nodes}
        return r

    graphs: list[list[tuple[int, int]]] = []

    @settings(max_examples=30, deadline=None)
    @given(graph)
    def _collect(pairs):
        graphs.append(pairs)

    _collect()
    rows = [
        (gi, u, v) for gi, pairs in enumerate(graphs) for u, v in pairs
    ]
    df = spark.createDataFrame(rows, "g bigint, u bigint, v bigint")
    out = pagerank(df, iterations=3, group_cols=["g"]).collect()
    got: dict[int, dict[int, int]] = {}
    for r in out:
        got.setdefault(r.g, {})[r.node] = r.rank
    for gi, pairs in enumerate(graphs):
        want = _model(pairs)
        assert got.get(gi, {}) == want, f"graph {gi}: {pairs}"


def test_edges_then_triangles_composition(spark):
    # two baskets sharing two items close a triangle only when some
    # basket holds all three pairwise edges
    rows = [("A", 1), ("A", 2), ("A", 3), ("B", 3), ("B", 4)]
    df = spark.createDataFrame(rows, "g string, item bigint")
    out = triangle_counts(cooccurrence_edges(df, "g", "item"))
    assert {r.node: r.triangles for r in out.collect()} == {1: 1, 2: 1, 3: 1}


def test_invariants_reclaimed_after_caller_drops_result(spark):
    """Each call checkpoints its own loop invariants; their blocks
    must outlive the operator's handle (callers derive, drop the
    handle, then act) and must not accumulate across calls: once the
    caller drops its frames, GC plus Spark's ContextCleaner bring
    block storage back to the baseline with no explicit release and
    no ``clearCache``.  Identical repeated calls return identical
    rows.  RDD ids grow monotonically, so the baseline is "no stored
    RDD newer than this test's start" — immune to blocks that earlier
    tests on the shared session leave for the cleaner."""
    import gc
    import time

    sc = spark.sparkContext
    mark = sc.emptyRDD().id()

    def n_cached():
        return sum(
            1 for info in sc._jsc.sc().getRDDStorageInfo() if info.id() > mark
        )

    def edges(k):
        pairs = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 1), (4, 6 + k)]
        return spark.createDataFrame(pairs, "u bigint, v bigint")

    calls = {
        "lpa": lambda e: label_propagation(e, iterations=2).orderBy("node"),
        "tri": lambda e: triangle_counts(e).orderBy("node"),
        "pr": lambda e: pagerank(e, iterations=3).orderBy("node"),
    }

    # derive, drop the operator's handle, collect garbage, THEN act:
    # the derived plan alone must keep the invariants readable
    firsts = {name: call(edges(0)) for name, call in calls.items()}
    gc.collect()
    sc._jvm.System.gc()
    # lpa: arcs; triangles: e, arcs; pagerank: e, e_od, m_base
    assert n_cached() >= 6, "invariants must be materialized per call"
    rows0 = {name: df.collect() for name, df in firsts.items()}
    assert rows0["tri"] and rows0["lpa"] and rows0["pr"]

    # identical repeats: identical rows
    for name, call in calls.items():
        assert call(edges(0)).collect() == rows0[name], name

    # distinct calls in the same derive-drop-act pattern
    for k in range(1, 5):
        for call in calls.values():
            assert call(edges(k)).collect()

    del firsts
    # Python GC detaches the py4j handles, JVM GC enqueues the
    # unreachable RDDs, the ContextCleaner unpersists them
    # asynchronously — poll
    for _ in range(100):
        gc.collect()
        sc._jvm.System.gc()
        time.sleep(0.2)
        if n_cached() == 0:
            break
    assert n_cached() == 0, "invariant blocks leaked past the calls"
