"""Graph analytics: co-occurrence edges and triangle counting.

Triangle counting is the canonical "join-shaped graph algorithm": the
naive form joins the edge table with itself twice and counts closures
— correct, but the wedge (2-path) volume is Σ deg(v)², which a few
celebrity vertices turn quadratic at 100 TB.

The scale shape here is **degree-oriented compact-forward** (Latapy
2008; the shape MapReduce/Cyclone-style systems use): orient every
edge from its lower-(degree, id) endpoint to the higher one, generate
wedges only at each arc's SOURCE, and close them against the oriented
arc set.  Every triangle is then found exactly once (at its
lowest-(degree, id) corner), and the wedge volume drops from
Σ deg(v)² to Σ outdeg(v)² where outdeg(v) = O(√m) on any graph
(arboricity bound) — the difference between a star vertex emitting
deg² wedges and emitting none.

Everything is equi-joins and aggregations on integer keys — no
Python, no state, three shuffle keys (edge canonicalization, the
wedge join's source vertex, the closing join's (b, c) pair), each
AQE-sized.  The closing join is candidate-bounded: wedges, never
vertex².

`cooccurrence_edges` builds the standard market-basket graph (items
co-occurring within a group) with the group-size cap as the fan-out
lever: a group of g items emits C(g, 2) edges, so one degenerate
basket (a crawler session, a bulk order) is the quadratic hot spot —
`max_group_size` drops groups past the cap, the same documented
bounded-recall trade as `max_doc_freq` in the n-gram dedup path.

Every operator materializes the frames it reads more than once (its
loop invariants) through ``iterutils.iter_checkpoint``, one set per
call.  A checkpoint's blocks belong to its RDD, not to the
CacheManager: the caller may derive from the result and drop the
operator's handle before acting (the invariants stay reachable
through the derived plan), and once the caller drops every frame
built on them the JVM collects the RDD and Spark's ContextCleaner
removes the blocks.  So storage stays bounded per call with no
release bookkeeping here.

No analog in the reference (its only graph-shaped work is the parent
hierarchy walk, reference validator.py:161-174); this opens the graph
family next to connected components (operators/components.py).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .iterutils import iter_checkpoint

__all__ = [
    "cooccurrence_edges",
    "label_propagation",
    "pagerank",
    "triangle_counts",
]


def cooccurrence_edges(
    df: DataFrame,
    group_col: str,
    item_col: str,
    *,
    max_group_size: int | None = None,
) -> DataFrame:
    """Undirected co-occurrence edges ``(u, v)`` with ``u < v``: one
    row per distinct item pair appearing together in at least one
    group.  A group of g distinct items emits C(g, 2) pairs before
    the cross-group ``distinct``; ``max_group_size`` drops groups
    larger than the cap (the degenerate-basket lever)."""
    g = df.select(
        F.col(group_col).alias("_g"), F.col(item_col).alias("_i")
    ).distinct()
    if max_group_size is not None:
        big = (
            g.groupBy("_g")
            .agg(F.count("*").alias("_n"))
            .filter(F.col("_n") > max_group_size)
            .select("_g")
        )
        g = g.join(big, "_g", "left_anti")
    a = g.select("_g", F.col("_i").alias("u"))
    b = g.select("_g", F.col("_i").alias("v"))
    return (
        a.join(b, "_g")
        .filter(F.col("u") < F.col("v"))
        .select("u", "v")
        .distinct()
    )


def pagerank(
    edges: DataFrame,
    *,
    iterations: int = 3,
    group_cols: Sequence[str] = (),
    unit: int = 1_000_000,
    damping_milli: int = 850,
) -> DataFrame:
    """Fixed-iteration damped PageRank over directed edges ``u -> v``
    (duplicates deduped, self-loops dropped), optionally one
    independent graph per ``group_cols`` value (e.g. per document for
    TextRank).  Returns ``(*group_cols, node, rank)`` with ranks in
    EXACT integer micro-units:

        rank' = unit·(1000−d)//1000 + (d · Σ_{u→v} rank_u // outdeg_u) // 1000

    — every step is integer multiplication and floor division, so two
    engines computing it independently agree bit-for-bit (the same
    determinism discipline as the quantized vector math in
    functions/vectors.py; float PageRank is NOT cross-engine stable).
    Dangling mass (nodes without out-edges) is dropped, as both
    engines state it identically.

    Overflow envelope: total rank mass is non-increasing (each round
    emits at most base + d/1000 of the previous mass per node), so
    any vertex's contribution sum is bounded by the INITIAL total
    mass, nodes × unit — iteration count and topology (funnels, hubs)
    cannot push it past that.  The damping multiply needs
    1000 × nodes × unit < 2^63: with the default unit=1e6 that is
    ~10^9 vertices per group.  For larger graphs lower ``unit``
    (ranks are ratios; precision scales with it) — stated rather than
    silently wrapped.

    Scale shape: per iteration one equi-join of edges with ranks on
    the source key and one aggregation on the destination key — all
    shuffles keyed on (group, node), so a co-partitioned layout (or
    bucketed edge/node tables) reuses one exchange across all
    iterations.  The node-table left join the loop used to pay per
    iteration is gone (round 14, guide §1.2): it existed only to
    re-introduce zero-IN-degree nodes, whose rank is the CONSTANT
    ``base`` from iteration 1 on — so those nodes ride a
    loop-invariant union leg computed once, and each iteration is
    join + agg + union (narrow).  ``iterations`` is a fixed small
    constant: lineage stays shallow, no per-round checkpoint (contrast
    the until-convergence loop in operators/components.py, which
    checkpoints per round via iterutils)."""
    gc = list(group_cols)
    # e feeds every iteration's contribution join (and the node
    # derivation) — an unmaterialized plan re-expands the caller's
    # edge derivation once PER REFERENCE (for text_textrank that is
    # the tokenize + adjacent-pair explode over the whole corpus,
    # re-run 14 times — the same .explain finding that cost q82 30
    # parquet scans).  Checkpointed per call (module docstring): the
    # blocks live while the caller holds a frame built on them.
    e = iter_checkpoint(
        edges.select(*gc, "u", "v").filter(F.col("u") != F.col("v")).distinct()
    )
    base = unit * (1000 - damping_milli) // 1000
    if iterations == 0:
        # degenerate call: every node at its initial mass — the only
        # path that still needs the full node table
        nodes = (
            e.select(*gc, F.col("u").alias("node"))
            .union(e.select(*gc, F.col("v").alias("node")))
            .distinct()
        )
        return nodes.withColumn("rank", F.lit(unit).cast("bigint"))
    # e ⋈ outdeg is LOOP-INVARIANT (round 13, guide §1.2 "remove
    # unnecessary passes"): the arc list and its out-degrees never
    # change across iterations, so joining them inside the loop paid
    # one extra join (and its exchange) per iteration.  Hoist and
    # materialize the joined frame once; each iteration then joins
    # ONLY the ranks that actually changed.
    e_od = iter_checkpoint(
        e.join(e.groupBy(*gc, "u").agg(F.count("*").alias("_od")), [*gc, "u"])
    )
    # zero-IN-degree nodes receive no contribution in ANY iteration,
    # so from iteration 1 on their rank is the constant ``base`` —
    # the loop-invariant union leg that replaces the per-iteration
    # node-table left join (round 14).  src \ dst = exactly the
    # non-isolated nodes with no incoming arc.
    m_base = iter_checkpoint(
        e.select(*gc, F.col("u").alias("node"))
        .distinct()
        .join(
            e.select(*gc, F.col("v").alias("node")).distinct(),
            [*gc, "node"],
            "left_anti",
        )
        .withColumn("rank", F.lit(base).cast("bigint"))
    )
    ranks = None
    for it in range(iterations):
        if it == 0:
            # iteration 1 collapses algebraically (round 13, the
            # label_propagation round-0 precedent): every rank is
            # still the literal ``unit``, so the ranks join is an
            # identity lookup — each arc's share is unit div outdeg
            # with no join at all
            contrib = (
                e_od.select(
                    *gc,
                    F.col("v").alias("node"),
                    F.expr(f"CAST({unit} AS BIGINT) div _od").alias("_sh"),
                )
                .groupBy(*gc, "node")
                .agg(F.sum("_sh").alias("_c"))
            )
        else:
            contrib = (
                e_od.join(
                    ranks.withColumnRenamed("node", "u").withColumnRenamed(
                        "rank", "_ru"
                    ),
                    [*gc, "u"],
                )
                .select(
                    *gc,
                    F.col("v").alias("node"),
                    F.expr("_ru div _od").alias("_sh"),
                )
                .groupBy(*gc, "node")
                .agg(F.sum("_sh").alias("_c"))
            )
        ranks = contrib.select(
            *gc,
            "node",
            (
                F.lit(base) + F.expr(f"({damping_milli} * _c) div 1000")
            ).cast("bigint").alias("rank"),
        ).unionByName(m_base)
    return ranks


def label_propagation(
    edges: DataFrame, *, iterations: int = 2
) -> DataFrame:
    """Synchronous label-propagation community detection over an
    undirected simple graph (``u``/``v`` edge columns; reversed
    duplicates and self-loops canonicalized away): every node starts
    as its own label (= its id), then each round simultaneously
    adopts the MODE of its neighbors' labels, ties broken toward the
    SMALLEST label — the deterministic variant of Raghavan et al.
    2007 (the classic randomized LPA is not reproducible across
    engines or even across runs; fixed synchronous rounds with a
    total tie order are).  Returns ``(node, community)``.

    Fixed ``iterations`` rather than until-convergence: synchronous
    LPA can 2-cycle on bipartite structures, so a convergence loop
    may never exit — a bounded round count is the honest contract,
    and two engines running the same rounds agree exactly.

    Scale shape per round: one arcs⋈labels equi-join on the source,
    one (node, label) count aggregation, then the argmax as a second
    AGGREGATE — ``max(struct(cnt, -label))`` — not a ranking window,
    so a celebrity vertex costs a bounded two-phase hash aggregate
    (partials per task) instead of a single-task sort over its
    neighbor list.  All shuffles key on the node id."""
    e = (
        edges.select(
            F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    # every round joins arcs against the previous labels — checkpoint
    # so the caller's edge derivation expands once, not once per round
    # (the pagerank/triangle_counts materialization rule).  Both
    # directions come from ONE explode rather than a self-union
    # (round 13, guide §1.2): the union's two legs each expand the
    # caller's edge derivation — for q83's basket self-join the
    # per-job profile showed the full C(g,2) derivation running TWICE
    # (two 64-task stages, ~14 s executor time each) because the two
    # leg stages launch concurrently before a lazy cache is populated.
    # One explode = one derivation pass; rows are identical (u≠v and
    # e is distinct, so the two directions are disjoint).
    arcs = iter_checkpoint(
        e.select(
            F.explode(
                F.array(
                    F.struct(F.col("u"), F.col("v")),
                    F.struct(
                        F.col("v").alias("u"), F.col("u").alias("v")
                    ),
                )
            ).alias("_arc")
        )
        .select(F.col("_arc.u").alias("u"), F.col("_arc.v").alias("v"))
    )
    nodes = arcs.select(F.col("u").alias("node")).distinct()
    labels = nodes.withColumn("community", F.col("node"))
    for rnd in range(iterations):
        if rnd == 0:
            # round 1 collapses algebraically: labels are still node
            # ids and arcs are distinct, so every neighbor label has
            # count exactly 1 — the mode-with-min-tie-break IS the
            # minimum neighbor id.  One aggregate, no join (the
            # generic round below would join against an identity
            # frame just to rediscover this).
            labels = arcs.groupBy(F.col("v").alias("node")).agg(
                F.min("u").alias("community")
            )
            continue
        counts = (
            arcs.join(
                labels.withColumnRenamed("node", "u"), "u"
            )
            .groupBy(F.col("v").alias("node"), "community")
            .agg(F.count("*").alias("_cnt"))
        )
        labels = counts.groupBy("node").agg(
            (
                -F.max(
                    F.struct(F.col("_cnt"), (-F.col("community")).alias("_n"))
                )["_n"]
            ).alias("community")
        )
    return labels


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-vertex triangle participation counts over an undirected
    simple graph: ``(node, triangles)``, one row per vertex in at
    least one triangle.  ``edges`` needs columns ``u``/``v``; rows
    are canonicalized (self-loops dropped, (u,v)/(v,u) deduped), so
    any edge list is accepted.

    Each triangle contributes exactly +1 to each of its three
    corners: it is enumerated once, at its lowest-(degree, id)
    corner, by the compact-forward orientation (module docstring)."""
    # e is referenced three times (both degree legs + the ranking
    # join) and arcs three more (both wedge legs + the closing arc);
    # without materialization every reference re-expanded the whole
    # upstream edge derivation — for the co-order graph that is the
    # C(g,2) basket self-join, re-run up to nine times (the round-9
    # .explain audit showed 30 parquet scans).  Checkpointed, not
    # persisted: a CacheManager entry outlives the call until someone
    # unpersists it, while checkpoint blocks are reclaimed with the
    # caller's result (module docstring).  The row blocks are larger
    # than the columnar cache's: at sf0.1 they OOM'd a local[8]
    # session on Spark's 1 GB default driver heap (round 9), and fit
    # the 4 GB heap the contract session (tools/drive_contract.py)
    # runs with.
    e = iter_checkpoint(
        edges.select(
            F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
        ).filter(F.col("u") != F.col("v")).distinct()
    )
    deg = (
        e.select(F.col("u").alias("n"))
        .unionAll(e.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("d"))
    )
    # orient each edge toward the higher-(degree, id) endpoint,
    # carrying the target's rank so the wedge join can order its two
    # far endpoints without re-joining degrees
    du = deg.select(F.col("n").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("n").alias("v"), F.col("d").alias("dv"))
    ranked = e.join(du, "u").join(dv, "v")
    # (degree, id) lexicographic order spelled as plain boolean
    # arithmetic rather than struct comparison (round 13, guide
    # §1.2 per-task work): the wedge filter below evaluates this
    # predicate once per WEDGE (Σ outdeg² rows — ~35M at sf0.1), and
    # codegen builds two InternalRow allocations per struct compare;
    # the boolean form is branch + integer compares, no allocation.
    # Identical ordering — columns are non-null by construction.
    fwd = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    arcs = iter_checkpoint(
        ranked.select(
            F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("a"),
            F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("b"),
            F.when(fwd, F.col("dv")).otherwise(F.col("du")).alias("db"),
        )
    )
    # wedges at the source: two arcs out of a, far ends ordered by
    # (degree, id) to match the closing arc's own orientation
    e1 = arcs.select("a", F.col("b").alias("x"), F.col("db").alias("dx"))
    e2 = arcs.select("a", F.col("b").alias("y"), F.col("db").alias("dy"))
    wedges = e1.join(e2, "a").filter(
        (F.col("dx") < F.col("dy"))
        | ((F.col("dx") == F.col("dy")) & (F.col("x") < F.col("y")))
    )
    closing = arcs.select(F.col("a").alias("x"), F.col("b").alias("y"))
    # explicit projection before the closing join: dx/dy are dead past
    # the filter and must not ride the wedge-sized exchange when the
    # planner keeps one (guide §2.3 "project before the exchange")
    tri = wedges.select("a", "x", "y").join(closing, ["x", "y"])
    counts = (
        tri.select(F.explode(F.array("a", "x", "y")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("triangles"))
    )
    return counts
