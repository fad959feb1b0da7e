"""Graph operators over edge-list DataFrames: PageRank centrality,
triangle census, bounded BFS, k-core peeling (fixed-round and to the
fixed point), neighbor feature aggregation (one round and stacked),
and deterministic label propagation (fixed-round and to the fixed
point). Every result is exact integer arithmetic or an exact argmax,
so each is reproducible bit-for-bit by a SQL oracle under any
partitioning.

The iterative operators are driver-side loops over LAZY DataFrame
plans. Each round ends in ``localCheckpoint``, which cuts the lineage,
so plan depth (and Catalyst re-analysis cost) stays O(1) in the round
count instead of growing one round per iteration.

Checkpoint/release rule:

- A fixed-round loop releases nothing. Its cuts are lazy and still
  unmaterialized when the function returns; the caller's action
  materializes them.
- A loop run to the fixed point runs one count action per round. Once
  that count has materialized the new round's checkpoint, nothing
  reads the previous round any more, and the loop drops it with
  :func:`~..session.release_checkpoint`. Executor storage then holds
  O(1) rounds, not O(rounds). (``DataFrame.unpersist`` does not drop a
  ``localCheckpoint`` RDD.)
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..session import release_checkpoint


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
    scale: int = 10_000_000,
    damping_pct: int = 85,
) -> DataFrame:
    """Fixed-iteration integer-scaled PageRank (link centrality, as
    web-corpus pipelines use to weight crawl hosts before sampling).

    ``edges``: a directed edge list (duplicates allowed; they weight
    the edge, matching the multigraph reading of repeated links).
    Returns (node, rank): every node appearing as source or
    destination, with its rank after ``iterations`` rounds, as longs
    at ``scale`` (initial rank = ``scale``; base term =
    ``scale - scale*damping_pct div 100``).

    Ranks are longs, per-edge contributions use integer division by
    out-degree and the damping mix is integer ``div``, so every sum is
    exact in any partition order (float PageRank would hash-diverge on
    summation order alone). Dangling nodes (no out-edges) leak their
    mass; the oracle transcribes that rule. Per iteration: one
    equi-join of ranks to edges on the source key, one aggregate on
    the destination key, one left join back to the node set.
    """
    # Loop-invariant handling (r16, guide §2.4/§5). The r15 experiment
    # that checkpointed e / nodes / out_deg SEPARATELY lost at sf0.1
    # (3.27 -> 4.02 s: three barrier jobs, and the per-iteration degree
    # join still ran 3x). The shape that wins at EVERY measured scale
    # is different: pre-join the out-degree onto the edge list ONCE and
    # checkpoint that single (src, dst, deg) frame plus the node set —
    # each iteration then pays one rank join + one aggregate instead of
    # two joins over a re-derived edge scan, and nodes' 2|E|-row
    # distinct runs once instead of once per iteration. Paired
    # alternating A/B (r16): sf1eq 16.4 -> 8.1 s best, winner in 4/4
    # pairs; sf0.1 flat-to-better in 4/4 (4.14 -> 4.12 s best). Inner
    # joins commute, so attaching __deg before instead of after the
    # rank join leaves contrib row-identical.
    e = edges.select(
        F.col(src).cast("long").alias("__src"),
        F.col(dst).cast("long").alias("__dst"),
    )
    nodes = (
        e.select(F.col("__src").alias("node"))
        .union(e.select(F.col("__dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    out_deg = e.groupBy("__src").agg(F.count(F.lit(1)).alias("__deg"))
    deg_edges = e.join(out_deg, "__src").localCheckpoint(eager=False)
    base = scale - (scale * damping_pct) // 100
    ranks = nodes.select("node", F.lit(scale).cast("long").alias("rank"))
    for _ in range(iterations):
        contrib = (
            deg_edges.join(ranks.withColumnRenamed("node", "__src"), "__src")
            .select(
                F.col("__dst").alias("node"),
                F.expr("rank div __deg").alias("__c"),
            )
        )
        mass = contrib.groupBy("node").agg(F.sum("__c").alias("__m"))
        ranks = (
            nodes.join(mass, "node", "left")
            .select(
                "node",
                (
                    F.lit(base)
                    + F.expr(
                        f"({damping_pct} * coalesce(__m, 0L)) div 100"
                    )
                )
                .cast("long")
                .alias("rank"),
            )
            # truncate lineage: each iteration's plan starts from a
            # materialized-on-first-action snapshot, not the whole
            # unrolled join tree.
            .localCheckpoint(eager=False)
        )
    return ranks


def undirected_simple_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Collapse a directed multigraph edge list to the undirected
    simple graph: self-loops dropped, duplicates and reversals
    collapsed, endpoints normalized to (a, b) with a < b."""
    return (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def _symmetric(und: DataFrame) -> DataFrame:
    """Both directions of normalized edges (a, b) as (__node, __nbr):
    one union, no distinct, since the (a, b) pairs are unique and
    a != b."""
    return und.select(
        F.col("a").alias("__node"), F.col("b").alias("__nbr")
    ).unionByName(und.select(F.col("b").alias("__node"), F.col("a").alias("__nbr")))


def _degrees(und: DataFrame) -> DataFrame:
    """(node, degree) of the normalized undirected edges (a, b)."""
    return _symmetric(und).groupBy(F.col("__node").alias("node")).agg(
        F.count(F.lit(1)).alias("degree")
    )


def orient_edges(und: DataFrame) -> DataFrame:
    """Orient normalized undirected edges (a, b) low->high under the
    (degree, id) node order — the compact-forward trick that caps
    oriented out-degree at O(sqrt(m))."""
    deg = _degrees(und)
    return (
        und.join(deg.select(F.col("node").alias("a"), F.col("degree").alias("__da")), "a")
        .join(deg.select(F.col("node").alias("b"), F.col("degree").alias("__db")), "b")
        .select(
            F.when(
                (F.col("__da") < F.col("__db"))
                | ((F.col("__da") == F.col("__db")) & (F.col("a") < F.col("b"))),
                F.struct(F.col("a").alias("a"), F.col("b").alias("b")),
            )
            .otherwise(F.struct(F.col("b").alias("a"), F.col("a").alias("b")))
            .alias("__e")
        )
        .select(F.col("__e.a").alias("a"), F.col("__e.b").alias("b"))
    )


def triangle_count(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Exact triangle count of the undirected simple graph induced by
    ``edges`` (self-loops dropped, duplicates collapsed, direction
    ignored). Returns ONE row: (n_nodes, n_edges, n_triangles).

    The canonical two-join formulation: impose a TOTAL ORDER on the
    nodes, orient every edge low->high under it, and close wedges —
    a triangle a<b<c is exactly one (a,b)x(b,c) wedge closed by
    (a,c), each triangle counted once, no post-division. Both joins
    are equi-joins on edge endpoints (hash-partitionable; no
    cartesian). The triangle count is the same under ANY total order;
    only the wedge count (join fan-out) differs.

    The order is (degree, id), the standard compact-forward /
    degree-ordering trick: every node's out-degree in the oriented
    graph is O(sqrt(m)), so wedge counts drop from O(deg^2) on hubs to
    O(m^{3/2}) total — the 100 TB-safe choice on power-law graphs, at
    the cost of one degree aggregate + one join to attach orders to
    endpoints. (Id order skips the degree pass but put 98% of 48M
    wedges on one node of the 8x hub graph in the scale probe.)
    """
    # Both edge frames feed several consumers (e three join sides;
    # und the degree pass, the node census, and the edge count) —
    # without a barrier each consumer re-derives from the raw input
    # (measured r13: 18 FileScans of the source in one plan). Same
    # localCheckpoint discipline as pagerank/LPA's symmetrized edges;
    # the frames are edge-sized, never larger than the input.
    und = undirected_simple_edges(edges, src, dst).localCheckpoint(eager=False)
    e = orient_edges(und).localCheckpoint(eager=False)
    nodes = _symmetric(und).select("__node").distinct()
    # Directed-path closure: a triangle x<y<z under the total order
    # has oriented edges x->y, y->z, x->z — exactly one path
    # (x->y)(y->z), closed by (x->z). Join fan-out is
    # sum_y indeg(y)*outdeg(y) <= m * max-outdeg; degree ordering
    # caps max-outdeg at O(sqrt(m)).
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.b") == F.col("e2.a"))
        .join(
            e3,
            (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")),
        )
        .select(F.lit(1).alias("one"))
    )
    return (
        nodes.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
        .crossJoin(und.agg(F.count(F.lit(1)).cast("long").alias("n_edges")))
        .crossJoin(tri.agg(F.count(F.lit(1)).cast("long").alias("n_triangles")))
    )


def bfs_levels(
    edges: DataFrame,
    src: str,
    dst: str,
    sources: Sequence[int],
    max_hops: int,
) -> DataFrame:
    """Bounded multi-source BFS: (node, hops) for every node reachable
    from ``sources`` within ``max_hops`` directed hops (hops = the
    MINIMUM hop count, i.e. unweighted shortest path).

    The loop is O(max_hops) rounds of frontier-join + anti-join — each
    round one equi-join on the edge key and one left-anti against the
    settled set, both hash-partitionable; the frontier localCheckpoints
    per round so the composed plan stays O(1) deep in hops (same
    discipline as :func:`pagerank`). At 100 TB the settled set is the
    state to watch: it grows monotonically, so long-horizon BFS wants
    it partitioned on node and checkpointed to storage, not memory.
    """
    # Loop-invariant edge frame checkpointed once (r16, the pagerank
    # discipline extended): every hop round joins against e, and
    # without the barrier each round re-ran the |E|-row distinct
    # shuffle from the raw scan.
    e = (
        edges.select(F.col(src).alias("__s"), F.col(dst).alias("__d"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    spark = edges.sparkSession
    # dedupe sources: duplicate ids would seed duplicate (node, 0) rows
    # and double-count every downstream union row for those nodes.
    dist = spark.createDataFrame(
        [(s, 0) for s in sorted({int(s) for s in sources})],
        "node long, hops long",
    )
    frontier = dist.select("node")
    for h in range(1, int(max_hops) + 1):
        nxt = (
            frontier.join(e, frontier["node"] == e["__s"])
            .select(F.col("__d").alias("node"))
            .distinct()
            .join(dist.select("node"), "node", "left_anti")
            .withColumn("hops", F.lit(h).cast("long"))
            .localCheckpoint(eager=False)
        )
        dist = dist.unionByName(nxt)
        frontier = nxt.select("node")
    return dist


def _peel(e: DataFrame, k: int) -> DataFrame:
    """One k-core round: keep the edges whose endpoints both have
    degree >= k. Two key-partitioned semi-joins, so no value column
    crosses; cut lazily."""
    keep = _degrees(e).filter(F.col("degree") >= k).select("node")
    return (
        e.join(keep.withColumnRenamed("node", "a"), "a", "left_semi")
        .join(keep.withColumnRenamed("node", "b"), "b", "left_semi")
        .localCheckpoint(eager=False)
    )


def kcore(
    edges: DataFrame, src: str, dst: str, k: int, rounds: int
) -> DataFrame:
    """Bounded k-core peeling of the undirected simple graph: ``rounds``
    iterations of "drop every node with degree < k, restrict edges to
    survivors". Web-graph pipelines use the core as a spam/orphan
    filter before centrality (low-core pages are the crawl fringe).
    Returns (node, degree): survivors with their degree INSIDE the
    surviving subgraph after the last round.

    Fixed-round peeling is deterministic and SQL-transcribable (the
    oracle unrolls the rounds); :func:`kcore_converged` is the
    fixed-point form (loop until the edge count stops changing). Each
    round is one degree aggregate + two key-partitioned semi-joins.
    Nodes with zero surviving edges leave the edge-list representation
    — consistent with any k >= 1.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    e = undirected_simple_edges(edges, src, dst)
    for _ in range(int(rounds)):
        e = _peel(e, k)
    return _degrees(e)


def kcore_converged(
    edges: DataFrame,
    src: str,
    dst: str,
    k: int,
    max_rounds: int = 50,
) -> tuple[DataFrame, int]:
    """k-core peeling run to the FIXED POINT (the true k-core): loop
    "drop every node with degree < k" until the edge count stops
    changing. Returns ``(survivors, rounds)`` — the (node, degree)
    frame of the core plus the number of peel rounds executed (the
    last round is the confirming no-op).

    Each round costs one degree aggregate + two key-partitioned
    semi-joins + ONE ``count()`` action — the convergence test is the
    price of not knowing the cascade length up front (the fixed-round
    form stays the choice when the round budget is known). The edge
    count is monotonically nonincreasing, so count-unchanged ==
    vertex-set-unchanged == fixed point. The count materializes the
    round's checkpoint, so the next round reads it instead of
    recomputing the cascade, and the previous round is released.

    ``max_rounds`` caps the loop LOUDLY (RuntimeError, never a silent
    truncation): a cascade can legitimately run O(n) rounds on
    path-like graphs, so the cap is a budget the caller owns, not an
    internal heuristic.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    if max_rounds < 1:
        raise ValueError("max_rounds must be >= 1")
    e = undirected_simple_edges(edges, src, dst).localCheckpoint(eager=False)
    prev = e.count()
    for rounds in range(1, int(max_rounds) + 1):
        peeled = _peel(e, k)
        cur = peeled.count()
        release_checkpoint(e)
        e = peeled
        if cur == prev:
            return _degrees(e), rounds
        prev_before, prev = prev, cur
    # prev_before/cur is the LAST round's real delta (prev has already
    # been advanced to cur, so printing prev->cur would show X -> X).
    raise RuntimeError(
        f"kcore_converged: no fixed point within max_rounds={max_rounds} "
        f"(edge count still falling: {prev_before} -> {cur}); raise "
        "max_rounds or use the fixed-round kcore()"
    )


def _int64_sum(overflow_msg: str) -> Column:
    """``nbr_sum``: the DECIMAL(38,0) ``__sum_dec`` back as a long.
    A sum of in-range longs can exceed int64 on a high-fan-in node,
    and non-ANSI Spark wraps sum(long) silently, so past the two-sided
    long range (-2^63 is representable) this raises ``overflow_msg``
    in-plan instead."""
    dec = F.col("__sum_dec")
    # 2^63 exceeds a py4j long literal: ship the bounds as strings
    lo, hi = (F.lit(str(b)).cast("decimal(38,0)") for b in (-(2**63), 2**63 - 1))
    return (
        F.when(dec.isNull(), F.lit(None).cast("long"))
        .when((dec >= lo) & (dec <= hi), dec.cast("long"))
        .otherwise(F.raise_error(F.lit(overflow_msg)))
        .alias("nbr_sum")
    )


def neighbor_agg(
    edges: DataFrame,
    src: str,
    dst: str,
    features: DataFrame,
    id_col: str,
    value_col: str,
) -> DataFrame:
    """One round of neighborhood feature aggregation over the
    undirected simple graph — the distributed core of GNN-style
    feature propagation / label smoothing (each node receives the
    sum/count/mean of its neighbors' feature). Returns
    (node, n_neighbors, nbr_sum, nbr_mean).

    Shape: symmetrize the normalized edges (one union — no second
    distinct needed, (a,b) pairs are already unique and a != b), one
    equi-join to attach the neighbor's feature, one key-partitioned
    aggregate. Integer/exact features keep nbr_sum engine-exact; the
    mean is a SINGLE division of exact parts, so it is reproducible
    wherever the sum is. :func:`neighbor_agg_rounds` stacks rounds
    (repeating join+aggregate with the :func:`pagerank`
    localCheckpoint discipline, integer-scaled between rounds).

    Integral features sum through DECIMAL(38,0) with an in-plan raise
    past int64 (same discipline as :func:`neighbor_agg_rounds` — a
    high-fan-in node can overflow sum(long) even when every input
    fits, and non-ANSI Spark wraps it silently). Fractional features
    keep the documented sum-then-truncate behavior.
    """
    from pyspark.sql import types as T

    sym = _symmetric(undirected_simple_edges(edges, src, dst))
    feat = features.select(
        F.col(id_col).alias("__nbr"), F.col(value_col).alias("__v")
    )
    integral = isinstance(
        features.schema[value_col].dataType,
        (T.ByteType, T.ShortType, T.IntegerType, T.LongType),
    )
    if integral:
        sum_cell = F.sum(F.col("__v").cast("decimal(38,0)")).alias("__sum_dec")
        guard = _int64_sum("neighbor_agg: neighbor feature sum overflows int64")
    else:
        sum_cell = F.sum("__v").alias("__sum_dec")
        guard = F.col("__sum_dec").cast("long").alias("nbr_sum")
    return (
        sym.join(feat, "__nbr")
        .groupBy(F.col("__node").alias("node"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_neighbors"), sum_cell)
        .select("node", "n_neighbors", guard)
        .withColumn(
            "nbr_mean", F.col("nbr_sum") / F.col("n_neighbors")
        )
    )


def neighbor_agg_rounds(
    edges: DataFrame,
    src: str,
    dst: str,
    features: DataFrame,
    id_col: str,
    value_col: str,
    rounds: int = 2,
    scale: int = 1_000_000,
) -> DataFrame:
    """STACKED neighborhood aggregation — :func:`neighbor_agg`'s
    "stacking rounds = repeating join+aggregate with the pagerank
    checkpoint discipline" claim made real (multi-hop GNN-style
    propagation: round r sees features r hops out).

    Round r+1's input feature is round r's mean INTEGER-SCALED:
    ``(nbr_sum * scale) div n_neighbors`` — a long, so every
    cross-round sum stays exact under any partition order and a SQL
    oracle unrolls the rounds bit-for-bit (a float mean would
    hash-diverge on summation order by round 2). Missing-feature
    semantics are inner-join per round, same as the single-round
    operator: a neighbor with no feature row contributes nothing and
    does not count in n_neighbors.

    UNITS: scaling compounds — the returned ``nbr_sum`` and
    ``nbr_mean`` of round r are in ``feature-units x scale^(r-1)``
    (divide by ``scale**(rounds-1)`` float-side to recover raw
    units). BOTH the per-round neighbor sum and the cross-round
    multiply run through DECIMAL(38,0) (the
    :func:`~..operators.dedup._draw_index` discipline): the sum of
    in-range longs can itself exceed int64 on a high-fan-in node, and
    non-ANSI Spark would wrap it silently — decimal keeps it exact,
    so ``nbr_sum`` and ``nbr_sum * scale`` never wrap — and a sum or
    quotient that no longer fits a long RAISES in-plan
    (``raise_error``) instead of nulling out:
    at that point the caller's (rounds, scale) budget is genuinely
    unrepresentable and must shrink.

    Shape per round: one equi-join + one key-partitioned aggregate;
    the symmetrized edge frame is built ONCE and localCheckpointed
    (it is the reused big side — at cluster scale, pre-partition or
    bucket it by __nbr so every round's join co-locates), and each
    round's feature frame checkpoints so plan depth stays O(1).
    Returns (node, n_neighbors, nbr_sum, nbr_mean) of the LAST round.
    """
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    sym = _symmetric(undirected_simple_edges(edges, src, dst)).localCheckpoint(
        eager=False
    )
    feat = features.select(
        F.col(id_col).alias("__nbr"), F.col(value_col).cast("long").alias("__v")
    )
    # the cross-round quotient guard below stays one-sided
    # (|prod| < 2^63*n): a quotient of exactly -2^63 raises — a
    # documented one-value conservatism, vs. tracking truncation
    # direction at the negative boundary.
    sum_bound = F.lit(str(2**63)).cast("decimal(38,0)")
    for r in range(int(rounds)):
        # The per-round sum runs in DECIMAL(38,0) (exact for any
        # realistic fan-in, < 10^38): a wrapped sum(long) would pass the
        # cross-round |prod| guard and propagate wrong.
        agg = (
            sym.join(feat, "__nbr")
            .groupBy(F.col("__node").alias("node"))
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_neighbors"),
                F.sum(F.col("__v").cast("decimal(38,0)")).alias("__sum_dec"),
            )
            .select(
                "node",
                "n_neighbors",
                _int64_sum(
                    "neighbor_agg_rounds: neighbor feature sum "
                    f"overflows int64 at round {r + 1}; lower "
                    "`scale` or `rounds`"
                ),
            )
        )
        if r < rounds - 1:
            # DECIMAL(38,0) multiply: |nbr_sum| < 2^63 and scale < 2^63
            # keep the product < 2^126 < 10^38 — exact, never wraps.
            # `div` (IntegralDivide) then converts the decimal quotient
            # to a LONG, and in non-ANSI Spark that conversion WRAPS
            # silently once the quotient exceeds int64 — so the guard
            # runs on the exact product BEFORE dividing: |prod| <
            # 2^63 * n  <=>  the truncated quotient fits a long
            # (prod <= 2^63*n - 1 => prod div n <= 2^63 - 1). Past the
            # bound the next round's feature is genuinely
            # unrepresentable: raise in-plan, never feed sum() a
            # wrapped value.
            prod = F.expr(f"CAST(nbr_sum AS DECIMAL(38,0)) * {int(scale)}")
            bound = sum_bound * F.col("n_neighbors")
            q = F.expr(
                f"CAST(nbr_sum AS DECIMAL(38,0)) * {int(scale)} "
                "div n_neighbors"
            )
            feat = agg.select(
                F.col("node").alias("__nbr"),
                F.when(F.col("nbr_sum").isNull(), F.lit(None).cast("long"))
                .when(F.abs(prod) < bound, q)
                .otherwise(
                    F.raise_error(
                        F.lit(
                            "neighbor_agg_rounds: scaled feature "
                            f"(nbr_sum * {int(scale)}) div n_neighbors "
                            f"overflows int64 at round {r + 1}; lower "
                            "`scale` or `rounds`"
                        )
                    )
                )
                .alias("__v"),
            ).localCheckpoint(eager=False)
    return agg.withColumn("nbr_mean", F.col("nbr_sum") / F.col("n_neighbors"))


def _initial_labels(sym: DataFrame) -> DataFrame:
    """(node, label) with every node labelled by its own id. The label
    inherits the node's type (numeric or string ids both work; the
    min-label tie rule is then the type's natural ordering)."""
    return sym.select(F.col("__node").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )


def _lpa_round(sym: DataFrame, labels: DataFrame) -> DataFrame:
    """One synchronous round: every node adopts its neighbors' most
    frequent label, ties to the smallest; cut lazily."""
    freq = (
        sym.join(labels.select(F.col("node").alias("__nbr"), "label"), "__nbr")
        .groupBy(F.col("__node").alias("node"), "label")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    w = Window.partitionBy("node").orderBy(F.col("__c").desc(), F.col("label").asc())
    return (
        freq.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("node", "label")
        .localCheckpoint(eager=False)
    )


def label_propagation(
    edges: DataFrame,
    src: str,
    dst: str,
    rounds: int = 2,
) -> DataFrame:
    """Synchronous label propagation (community detection) over the
    undirected simple graph — graph family #7 (rank/cluster/census/
    reach/filter/propagate/COMMUNITY). Deterministic by construction,
    unlike the classic randomized LPA: labels start as node ids, and
    each round EVERY node simultaneously adopts the most frequent
    label among its neighbors, ties resolving to the SMALLEST label —
    an exact integer argmax, so any round count is reproducible
    bit-for-bit on any engine and partitioning (the randomized
    variant's tie-coin is exactly what a SQL oracle cannot
    transcribe). Returns (node, label) after ``rounds`` rounds.

    Shape per round: one equi-join of the label frame onto the
    once-checkpointed symmetrized edges + one (node, label) count
    aggregate + one per-node window argmax — all key-partitioned;
    labels localCheckpoint per round (the :func:`pagerank`
    discipline). Fixed rounds are the transcribable form; loop with a
    convergence count (the :func:`kcore_converged` pattern) when the
    community structure, not a round budget, is the contract.
    """
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    sym = _symmetric(undirected_simple_edges(edges, src, dst)).localCheckpoint(
        eager=False
    )
    labels = _initial_labels(sym)
    for _ in range(int(rounds)):
        labels = _lpa_round(sym, labels)
    return labels


def label_propagation_converged(
    edges: DataFrame,
    src: str,
    dst: str,
    max_rounds: int = 50,
) -> tuple[DataFrame, int]:
    """Synchronous deterministic label propagation run to the FIXED
    POINT — the :func:`kcore_converged` pattern :func:`label_propagation`'s
    docstring promises, for when the COMMUNITY STRUCTURE (not a round
    budget) is the contract: loop "every node adopts its neighbors'
    most frequent label, ties to the smallest" until NO label changes.
    Returns ``(labels, rounds)`` — the converged (node, label) frame
    plus the number of rounds executed (the last is the confirming
    no-op), mirroring :func:`kcore_converged`'s return shape.

    Convergence test: ONE count action per round on the left-anti
    join of the new label frame against the previous one on
    (node, label) — zero rows == nothing moved == fixed point (the
    update rule is deterministic, so an unchanged frame reproduces
    itself forever; the SQL oracle exploits that idempotence by
    unrolling exactly ``max_rounds`` rounds). Both frames are
    node-sized and localCheckpointed, so the per-round test is a
    key-partitioned hash join over O(V) rows — cheap next to the
    edge-sized propagation join.

    ``max_rounds`` caps the loop LOUDLY (RuntimeError, never a silent
    partial answer): synchronous LPA is NOT guaranteed to converge on
    every graph — bipartite-ish structures can 2-cycle forever (a
    star flips center/leaf labels each round) — so the cap is the
    defense the classic randomized/asynchronous variants don't need.
    On community-shaped inputs (dense blocks, sparse bridges) the
    deterministic rule converges in O(diameter) rounds.
    """
    if max_rounds < 1:
        raise ValueError("max_rounds must be >= 1")
    sym = _symmetric(undirected_simple_edges(edges, src, dst)).localCheckpoint(
        eager=False
    )
    labels = _initial_labels(sym).localCheckpoint(eager=False)
    for rounds in range(1, int(max_rounds) + 1):
        new_labels = _lpa_round(sym, labels)
        changed = new_labels.join(labels, ["node", "label"], "left_anti").count()
        release_checkpoint(labels)
        labels = new_labels
        if changed == 0:
            return labels, rounds
    raise RuntimeError(
        f"label_propagation_converged: no fixed point within "
        f"max_rounds={max_rounds} ({changed} labels still changing); "
        "synchronous LPA can oscillate on bipartite-like graphs — "
        "raise max_rounds or use the fixed-round label_propagation()"
    )
