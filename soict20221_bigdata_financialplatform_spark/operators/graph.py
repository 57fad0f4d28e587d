"""Iterative graph analytics over edge lists — PageRank as the canonical
centrality pass over the near-duplicate / similarity graphs the dedup
family produces (``dedup.minhash_near_dup_pairs``, q66's shared-n-gram
pairs). The headline use: pick the CANONICAL document per duplicate
cluster by centrality instead of by min-id — the doc most connected to
its cluster is usually the cleanest/most complete copy.

Execution model (Spark-first, no GraphX/GraphFrames dependency):
  - the graph lives as two DataFrames: ``edges (src, dst)`` and the
    derived out-degree frame; ranks are a ``(node, rank)`` frame;
  - one synchronous iteration = one hash join (edges x ranks on src) +
    one aggregation (sum of rank/deg by dst) + one left join back onto
    the node set — all key-partitioned on node ids, no driver loop over
    nodes, nothing collected;
  - every iteration ends in a LAZY ``localCheckpoint(eager=False)``:
    persist() does NOT truncate the logical plan, and an iterative frame
    that re-references the previous round grows its plan each round until
    the driver chokes on plan size, not data size (see
    ``components.connected_components``, same invariant). Lazy keeps the
    truncation (each round plans over the previous round's LogicalRDD)
    while the caller's single action materializes the chain — no
    per-round driver job (r15, the q208 recipe).

Scale notes: state is two longs + a double per node; edges shuffle once
per iteration on src then dst — at 100 TB pre-partition ``edges`` by
src (bucketing) so the per-iteration join reuses the layout. Skewed
in-degree (one mega-hub) shows up as one hot reducer in the dst
aggregation; salt the sum (partial sums over (dst, salt), then re-sum)
via ``operators.skew`` if a hub dominates.

Float policy: the per-node contribution ``rank/deg`` is a single IEEE
division (bit-equal cross-engine); the SUM over in-neighbors is
order-dependent, so each iteration rounds the new rank to ``round_to``
decimals — the repo-wide rule for order-dependent accumulations, and
what makes a DuckDB unrolled-CTE oracle bit-comparable (q117).

Reference parity: the reference has no graph operator; engine-added for
the large-scale-pipeline brief (canonical-doc selection; cf. SURVEY.md
§2 engine-added rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 5,
    damping: float = 0.85,
    round_to: int = 6,
    seeds: DataFrame | None = None,
) -> DataFrame:
    """``(node, rank)`` after ``iterations`` synchronous PageRank rounds
    over the DIRECTED edge list (symmetrize first for undirected graphs —
    near-dup pair lists should be fed both orientations).

    Plain PageRank without dangling-mass redistribution: a node with
    in-edges but no out-edges absorbs rank. Symmetric graphs (the
    near-dup use case) have no dangling nodes, so total mass is
    conserved there. Ranks start uniform at 1/N over the nodes that
    appear in any edge; each round computes

        rank' = round((1 - damping)/N + damping * sum_in(rank/deg), round_to)

    with the rounding applied AFTER the affine step (see module note on
    cross-engine parity). ``(1 - damping)`` is computed, not pre-folded:
    ``1.0 - 0.85`` yields a different double than the literal ``0.15``,
    so the oracle twin must write the same subtraction — identical
    expression trees are what bit-parity needs (q110 Holt lesson).

    ``seeds`` (a one-column ``node`` frame) switches to PERSONALIZED
    PageRank: teleport mass lands only on the seed set, ranks start
    uniform over the seeds — "rank everything by proximity to THESE
    docs through the duplication/similarity graph" (related-document
    expansion, contamination blast-radius). Seeds are broadcast; the
    iteration shape is unchanged.

    r15 optimization (guide §2.4/§5, the q208 recipe): ``N`` (node or
    seed count) is an exact integer collected ONCE and re-embedded as a
    long literal — the division sees the same long either way, so ranks
    are bit-identical — which removes the per-plan
    ``crossJoin(broadcast(Σ))`` carry; and every round's checkpoint is
    LAZY (``eager=False``), planned at build time over the previous
    round's flat LogicalRDD (constant per-round plan size) but
    materialized by the CALLER's single action — the per-round eager
    materialization jobs are gone, and every round truncates. Each
    round's checkpoint blocks stay pinned until the session ends
    (``unpersist`` cannot release them; SCALE.md)."""
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .distinct()
        .persist()
    )
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    # 1-row exact-integer scalar: collected once, re-embedded as a long
    # literal (the q208 recipe — a count is exact, so `1.0 / N` is the
    # same IEEE division either way). The count also materializes the
    # e/nodes persists before the iteration builds on them.
    if seeds is None:
        n = F.lit(nodes.count()).cast("long")
        base = nodes.withColumn("__tmass", F.lit(1.0))  # uniform teleport
        ranks = base.select("node", (F.lit(1.0) / n).alias("rank"))
    else:
        s = seeds.select(F.col(seeds.columns[0]).alias("node")).distinct()
        n = F.lit(s.count()).cast("long")
        base = nodes.join(
            F.broadcast(s.withColumn("__is_seed", F.lit(True))),
            "node",
            "left",
        )
        # teleport indicator: 1 on seeds, 0 elsewhere (n = |seeds| here,
        # so the shared (1-d)/n * tmass expression lands (1-d)/|S| mass
        # on each seed and nothing elsewhere)
        base = base.withColumn(
            "__tmass",
            F.when(F.col("__is_seed"), F.lit(1.0)).otherwise(F.lit(0.0)),
        ).persist()
        ranks = base.select(
            "node",
            F.when(F.col("__is_seed"), F.lit(1.0) / n)
            .otherwise(F.lit(0.0))
            .alias("rank"),
        )
    # edge weight stays as rank/deg DIVISION per edge (not a precomputed
    # 1/deg multiply — r/d and r*(1/d) differ bitwise, and the oracle
    # divides)
    ewd = e.join(deg, "src").persist()  # src, dst, deg
    # x * 1.0 is an exact IEEE identity, so the uniform case stays
    # bit-identical to the pre-personalization expression (q117 oracle)
    teleport = F.lit(1.0 - damping) / n * F.col("__tmass")
    for _ in range(iterations):
        contrib = (
            ewd.join(ranks.withColumnRenamed("node", "src"), "src")
            .groupBy("dst")
            .agg(F.sum(F.col("rank") / F.col("deg")).alias("s"))
        )
        ranks = base.join(
            contrib, base["node"] == contrib["dst"], "left"
        ).select(
            "node",
            F.round(
                teleport
                + F.lit(damping) * F.coalesce(F.col("s"), F.lit(0.0)),
                round_to,
            ).alias("rank"),
        )
        # LAZY checkpoint every round: plans each round over the previous
        # round's LogicalRDD leaf (bounded plan size — invariant 9's
        # concern) without paying a materialization job; the caller's
        # action executes the whole nested chain once (q208 pattern).
        ranks = ranks.localCheckpoint(eager=False)
    return ranks


def triangle_counts(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-vertex triangle participation counts over an UNDIRECTED edge list
    — the clustering-coefficient numerator and the standard density signal
    for the similarity graphs the dedup family emits (a near-dup cluster
    that is a clique behaves very differently from a chain under
    transitive-closure dedup, q53). Engine-added graph-analytics member
    beside :func:`pagerank` and ``components.connected_components``.

    Input edges may be in either orientation and may contain duplicates;
    self-loops are dropped. The count for vertex v = number of unordered
    vertex triples {v, x, y} whose three edges all exist.

    Plan shape (the classic distributed algorithm): canonicalize each edge
    to (lo, hi) and distinct → every triangle a<b<c is found exactly once
    by joining (a,b)⋈(b,c) on the middle vertex, then a semi-join against
    the edge set on (a,c). ALL equi-joins, hash-partitionable; the wedge
    join's fan-out is Σ deg² — at 100 TB use the degree-ordered variant
    (orient each edge low-degree→high-degree before wedging) to cap hub
    fan-out, and salt hot vertices via ``operators.skew``. Nothing here is
    BNLJ (invariant 13) and nothing collects."""
    lo, hi = F.least(F.col(src), F.col(dst)), F.greatest(F.col(src), F.col(dst))
    e = (
        edges.where(F.col(src) != F.col(dst))
        .select(lo.alias("a"), hi.alias("b"))
        .distinct()
        .persist()
    )
    wedge = e.alias("e1").join(
        e.alias("e2"), F.col("e1.b") == F.col("e2.a")
    ).select(
        F.col("e1.a").alias("a"), F.col("e1.b").alias("b"), F.col("e2.b").alias("c")
    )
    tri = wedge.alias("w").join(
        e.alias("e3"),
        (F.col("w.a") == F.col("e3.a")) & (F.col("w.c") == F.col("e3.b")),
        "left_semi",
    )
    per_vertex = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("vertex"))
        .groupBy("vertex")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )
    return per_vertex


def clustering_coefficients(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-vertex local clustering coefficient over an undirected edge list:
    cc(v) = 2·triangles(v) / (deg(v)·(deg(v)−1)) — how close v's
    neighborhood is to a clique. The interpretation layer over
    :func:`triangle_counts` for near-dup graph forensics: a duplicate
    cluster with cc ≈ 1 is one template (safe to keep a single canonical
    doc); cc ≈ 0 with high degree is a chain/star (transitive dedup may
    over-merge — inspect before collapsing). Vertices with degree < 2 are
    excluded (coefficient undefined).

    Parity: triangle and degree counts are exact integers; the coefficient
    is ONE long/long IEEE division, emitted unrounded (float policy).
    Scale: degree is one map-side-combined count over the canonicalized
    edge list; the join with triangle counts is vertex-keyed. The wedge
    cost lives in :func:`triangle_counts` (see its degree-ordering note)."""
    lo, hi = F.least(F.col(src), F.col(dst)), F.greatest(F.col(src), F.col(dst))
    e = (
        edges.where(F.col(src) != F.col(dst))
        .select(lo.alias("a"), hi.alias("b"))
        .distinct()
    )
    deg = (
        e.select(F.explode(F.array("a", "b")).alias("vertex"))
        .groupBy("vertex")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )
    tri = triangle_counts(edges, src, dst)
    return (
        deg.where(F.col("degree") >= 2)
        .join(tri, "vertex", "left")
        .select(
            "vertex",
            "degree",
            F.coalesce(F.col("n_triangles"), F.lit(0).cast("long")).alias(
                "n_triangles"
            ),
            (
                (F.coalesce(F.col("n_triangles"), F.lit(0)) * 2.0)
                / (F.col("degree") * (F.col("degree") - 1))
            ).alias("clustering_coeff"),
        )
    )
