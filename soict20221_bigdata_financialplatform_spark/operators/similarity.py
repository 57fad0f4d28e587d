"""Similarity search over embedding columns (driver brief: ANN over
``array<float>`` — one exact cosine kNN, :func:`brute_force_topk_blocked`,
plus the LSH / IVF / PQ candidate paths that scale past it). The
approximate paths are all-native expressions: dot products and squared
distances via ``zip_with``+``aggregate`` higher-order functions (JVM-side,
no Python), nearest-centroid picks via one broadcast centroid array and a
per-row HOF argmin, top-k via per-query windows. Each of those pieces is
one helper below, shared by every operator that needs it.
"""

from __future__ import annotations

import math
import random

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def sqdist(a: Column, b: Column) -> Column:
    """Squared Euclidean distance as the left fold 0.0 + (a₁−b₁)² + …, the
    order the DuckDB twins' ``list_sum`` reproduces. NULL when either
    vector (or any element) is NULL; ragged pairs are NULL too, since
    ``zip_with`` pads the shorter side with NULL."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _inf_null(d: Column) -> Column:
    """NULL distance -> +infinity, so a NULL vector or NULL centroid can
    never WIN an argmin. Spark's struct comparator ranks a NULL first
    field ahead of real values while DuckDB's ``ORDER BY d, cid`` puts
    NULLs LAST — without this, every argmin over dirt flips cross-engine
    (r14 dirty-embedding gate: q51/q127/q151/q185 all diverged here).
    +inf ties (all-NULL candidate sets) fall to the cid tiebreak in both
    engines, same as DuckDB's all-NULL ordering."""
    return F.coalesce(d, F.lit(float("inf")))


def _centroid_array(
    cents: DataFrame,
    cid: str,
    cv: str,
    grp: str | None = None,
    name: str = "__cents",
) -> DataFrame:
    """Every centroid in ONE broadcast row: an array ``name`` of
    (cid, cv) structs, led by a group id ``g`` when ``grp`` is given
    (stacked trainings). Consumers cross-join it, so picking a cell is a
    per-row HOF over the array — the corpus is never row-inflated by the
    centroid count and never shuffles to pick a cell."""
    fields = [F.col(cid).alias("cid"), F.col(cv).alias("cv")]
    if grp is not None:
        fields.insert(0, F.col(grp).alias("g"))
    return F.broadcast(cents.agg(F.collect_list(F.struct(*fields)).alias(name)))


def _cell_dists(vec: Column, cents: Column | str = "__cents") -> Column:
    """(d, cid) for every centroid struct in ``cents``, d = ``sqdist``
    with NULL -> +inf (:func:`_inf_null`). Struct order is (d, cid), so
    ``array_min`` is the nearest cell and ``array_sort`` the probe order,
    both breaking distance ties on the lower centroid id — the DuckDB
    twins' ``ORDER BY d, cid``. The lambda closes over ``vec`` through
    this function's scope (single-parameter HOF lambdas only, invariant
    3); callers stage any slice as its own column first (invariant 14)."""
    return F.transform(
        cents,
        lambda c: F.struct(
            _inf_null(sqdist(vec, c["cv"])).alias("d"), c["cid"].alias("cid")
        ),
    )


def _nearest(vec: Column, cents: Column | str = "__cents") -> Column:
    """The argmin centroid id of ``vec`` over ``cents``."""
    return F.array_min(_cell_dists(vec, cents))["cid"]


def _nearest_n(vec: Column, n: int) -> Column:
    """The ids of the ``n`` nearest centroids (an IVF query's probes)."""
    return F.transform(
        F.slice(F.array_sort(_cell_dists(vec)), 1, n), lambda s: s["cid"]
    )


def _topk(scored: DataFrame, part: str, order: list[Column], k: int) -> DataFrame:
    """The ranked tail of every join-shaped top-k operator: ``row_number``
    over ``order`` per ``part`` key, rows past rank ``k`` dropped. Callers
    end ``order`` on a unique id, so ranks are the same in both engines."""
    w = Window.partitionBy(part).orderBy(*order)
    return scored.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def cosine_safe(a: Column, b: Column) -> Column:
    """Cosine that is NULL when either vector is NULL or zero-norm —
    exactly DuckDB's semantics for the same expression (x/0 and
    NULL-poisoned norms both yield NULL there, while Spark ANSI THROWS
    on the division; r14 dirty-embedding gate). Use this when the score
    is a plain output column; RANKED consumers must EXCLUDE bad rows
    instead (see brute_force_topk_blocked — NULL must never reach an
    ORDER BY whose placement defaults could differ)."""
    na, nb = _norm(a), _norm(b)
    return F.when((na > 0) & (nb > 0), _dot(a, b) / (na * nb))


def random_hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic unit hyperplanes for sign-LSH (public random-projection
    construction; seeded so plans are reproducible across runs/executors)."""
    rng = random.Random(seed)
    planes = []
    for _ in range(n_planes):
        v = [rng.gauss(0.0, 1.0) for _ in range(dim)]
        n = math.sqrt(sum(x * x for x in v)) or 1.0
        planes.append([x / n for x in v])
    return planes


def lsh_bucket(vec_col: Column, planes: list[list[float]]) -> Column:
    """Sign-LSH bucket id: bit i = sign(v · plane_i), packed into a BIGINT."""
    bucket = None
    for i, p in enumerate(planes):
        lits = F.array(*[F.lit(float(x)) for x in p])
        bit = F.when(_dot(vec_col, lits) >= 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        term = F.shiftleft(bit, i)
        bucket = term if bucket is None else bucket.bitwiseXOR(term)
    return bucket


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    seed: int = 42,
    multi_probe: int = 0,
) -> DataFrame:
    """Approximate top-k: score only corpus vectors in the query's sign-LSH
    bucket. 2^n_planes buckets → ~corpus/2^n candidates per query.

    ``multi_probe=1`` additionally probes every bucket one bit-flip away
    (the n_planes nearest neighbors in Hamming space) — the standard recall
    lever that costs n_planes extra probe rows per query instead of fewer
    planes (which would halve selectivity).

    The bucket id is computed in the scan projection for both sides; the join
    is an equi-join on (bucket) with the query side broadcast — the corpus
    never shuffles.
    """
    planes = random_hyperplanes(dim, n_planes, seed)
    c = corpus.select(
        F.col(id_col), F.col(vec_col),
        lsh_bucket(F.col(vec_col), planes).alias("__b"),
        _norm(F.col(vec_col)).alias("__cnorm"),
    )
    qbase = queries.select(
        F.col(query_id_col),
        F.col(vec_col).alias("__qvec"),
        lsh_bucket(F.col(vec_col), planes).alias("__b0"),
        _norm(F.col(vec_col)).alias("__qnorm"),
    )
    # r14 zero-norm/NULL exclusion — see brute_force_topk_blocked
    c = c.where(F.col("__cnorm") > 0)
    qbase = qbase.where(F.col("__qnorm") > 0)
    if multi_probe >= 1:
        probes = F.array(
            F.col("__b0"),
            *[F.col("__b0").bitwiseXOR(F.lit(1 << i)) for i in range(n_planes)],
        )
    else:
        probes = F.array(F.col("__b0"))
    q = F.broadcast(
        qbase.select(
            F.col(query_id_col),
            F.col("__qvec"),
            F.col("__qnorm"),
            F.explode(probes).alias("__b"),
        )
    )
    scored = c.join(q, "__b").select(
        F.col(query_id_col),
        F.col(id_col),
        (_dot(F.col(vec_col), F.col("__qvec"))
         / (F.col("__cnorm") * F.col("__qnorm"))).alias("score"),
    )
    return _topk(
        scored, query_id_col, [F.col("score").desc(), F.col(id_col).asc()], k
    ).select(query_id_col, id_col, "score", "rank")


def ivf_topk_fixed(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    cent_id_col: str = "cent_id",
) -> DataFrame:
    """IVF (inverted-file) ANN over a caller-supplied coarse quantizer:
    corpus bucketed by nearest centroid, each query scores only its
    ``nprobe`` nearest cells. The centroids come in as a DataFrame — fixed
    (q72) or trained by :func:`kmeans_lloyd_det` (q51) — so the whole
    pipeline is deterministic and SQL-expressible (both queries
    cross-check it against DuckDB end-to-end). ``nprobe`` = the number of
    cells probes everything and degenerates to the exact kNN.

    Scale shape: centroids collapse to ONE array-of-structs row that is
    broadcast-cross-joined — cell assignment is a per-row HOF argmin (the
    corpus is never row-inflated by nlist and never shuffles to pick a
    cell); probe selection is the same fold on the query side. The only
    exchanges are the candidate equi-join on the cell id and the final
    per-query top-k window. Ties (equidistant centroids, equal scores)
    break on centroid/vector id — struct lexicographic order — so results
    are deterministic in both engines."""
    carr = _centroid_array(centroids, cent_id_col, vec_col)
    cells = (
        corpus.select(id_col, vec_col)
        .crossJoin(carr)
        .select(
            id_col,
            vec_col,
            _nearest(F.col(vec_col)).alias("__cell"),
            _norm(F.col(vec_col)).alias("__cnorm"),
        )
    )
    probes = (
        queries.select(
            F.col(query_id_col),
            F.col(vec_col).alias("__qvec"),
            _norm(F.col(vec_col)).alias("__qnorm"),
        )
        .crossJoin(carr)
        .select(
            query_id_col,
            "__qvec",
            "__qnorm",
            F.explode(_nearest_n(F.col("__qvec"), nprobe)).alias("__cell"),
        )
    )
    # r14 zero-norm/NULL exclusion — see brute_force_topk_blocked
    scored = probes.where(F.col("__qnorm") > 0).join(
        cells.where(F.col("__cnorm") > 0), "__cell"
    ).select(
        query_id_col,
        id_col,
        (
            _dot(F.col(vec_col), F.col("__qvec"))
            / (F.col("__cnorm") * F.col("__qnorm"))
        ).alias("score"),
    )
    return _topk(
        scored, query_id_col, [F.col("score").desc(), F.col(id_col).asc()], k
    ).select(query_id_col, id_col, "score", "rank")


def kmeans_lloyd_det(
    corpus: DataFrame,
    init_centroids: DataFrame,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cent_id_col: str = "cent_id",
    round_dp: int = 6,
) -> DataFrame:
    """Deterministic Lloyd k-means, the engine's trainer for the IVF coarse
    quantizer and the SemDeDup cells: start from caller-supplied seed
    centroids (q51 uses the nlist lowest-id vectors — data-independent
    given the table), run ``iters`` assign→mean rounds, and ROUND each
    centroid coordinate to ``round_dp`` after every mean, so the TRAINED
    pipeline — not just a fixed quantizer — has a DuckDB oracle (q51,
    q127, q151, q185, q278).

    One training is the one-group case of :func:`kmeans_lloyd_det_stacked`
    (constant group 0, dropped on return); the mechanics, scale shape and
    per-round truncation are documented there."""
    g = F.lit(0).alias("__grp")
    return kmeans_lloyd_det_stacked(
        corpus.select(g, id_col, vec_col),
        init_centroids.select(g, cent_id_col, vec_col),
        iters,
        "__grp",
        id_col,
        vec_col,
        cent_id_col,
        round_dp,
    ).drop("__grp")


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: self-join within LSH buckets,
    verify cosine >= threshold. (id_a < id_b.)"""
    planes = random_hyperplanes(dim, n_planes, seed)
    # r14 zero-norm/NULL exclusion — see brute_force_topk_blocked: a zero/NULL
    # vector has no direction, so it can never clear a cosine threshold.
    b = df.select(
        F.col(id_col), F.col(vec_col), lsh_bucket(F.col(vec_col), planes).alias("__b"),
        _norm(F.col(vec_col)).alias("__n"),
    ).where(F.col("__n") > 0).drop("__n")
    l, r = b.alias("l"), b.alias("r")
    return (
        l.join(
            r,
            (F.col("l.__b") == F.col("r.__b"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            cosine(F.col(f"l.{vec_col}"), F.col(f"r.{vec_col}")).alias("cos"),
        )
        .where(F.col("cos") >= threshold)
    )


def quantize_embeddings(
    emb: DataFrame, vec_col: str = "emb", out_col: str = "qvec"
) -> DataFrame:
    """Scalar (int8-range) quantization of an ``array<double>`` embedding
    column — the standard 4× compression before ANN at corpus scale
    (recall trade pytest-pinned in ``test_dedup_similarity``). Per-dim
    min/max from ONE posexplode aggregate (the shuffle carries one row per
    dimension per map partition); the (mins, maxs) arrays collapse to a
    single broadcast row, so the corpus is scanned once and never
    shuffles. Quantizer is the engine-neutral half-up rule
    ``floor(t·255 + 0.5)`` (never ``round`` — cross-engine tie-breaks
    differ); flat dimensions quantize to 0. The registered oracle-checked
    form is q109."""
    dims = (
        emb.select(F.posexplode(vec_col).alias("pos", "x"))
        .groupBy("pos")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
    )
    stats = dims.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "mn"))), lambda s: s["mn"]
        ).alias("__mins"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "mx"))), lambda s: s["mx"]
        ).alias("__maxs"),
    )
    quant = F.transform(
        F.sequence(F.lit(1), F.size(vec_col)),
        lambda i: F.when(
            F.element_at("__maxs", i) != F.element_at("__mins", i),
            F.floor(
                (F.element_at(vec_col, i) - F.element_at("__mins", i))
                / (F.element_at("__maxs", i) - F.element_at("__mins", i))
                * 255.0
                + 0.5
            ).cast("int"),
        ).otherwise(F.lit(0)),
    )
    return (
        emb.crossJoin(F.broadcast(stats))
        .withColumn(out_col, quant)
        .drop("__mins", "__maxs")
    )


def _cells(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    cent_id_col: str,
) -> DataFrame:
    """(id, vector, cell): every vector with its nearest centroid's id."""
    return (
        corpus.select(id_col, vec_col)
        .crossJoin(_centroid_array(centroids, cent_id_col, vec_col))
        .select(id_col, vec_col, _nearest(F.col(vec_col)).alias("cell"))
    )


def assign_cells(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cent_id_col: str = "cent_id",
) -> DataFrame:
    """Assign every vector to its nearest centroid: (id, cell).

    The shared read-side primitive of the IVF/SemDeDup family
    (:func:`kmeans_lloyd_det` training, :func:`semdedup_keep` pruning, q185
    index-health monitoring): centroids collapse to ONE broadcast row and
    the argmin is a per-row HOF fold over (sqdist, cid) structs — the
    corpus never shuffles to pick a cell, and ties break on the lower
    centroid id (identical to the DuckDB oracle's
    ``row_number() OVER (ORDER BY d, cid)``)."""
    return _cells(corpus, centroids, id_col, vec_col, cent_id_col).drop(vec_col)


def semdedup_keep(
    corpus: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cent_id_col: str = "cent_id",
    cell_cap: int = 4096,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic deduplication by clustering
    embeddings with k-means, then dropping within each cluster every vector
    that has a higher-cosine-than-``threshold`` neighbor with a LOWER id
    (min-id survivor policy, matching the exact/MinHash dedup operators).
    Returns one row per vector: (id, cell, keep) — ``keep=false`` marks the
    semantic duplicates a corpus pipeline would drop.

    Where it sits in the dedup family: exact (q30) catches byte-equal,
    MinHash/SimHash (q32/q33/q57/q58) catch lexical near-dups, and this
    catches MEANING-level duplicates (paraphrases, translations re-encoded
    by the same embedding model) that share no n-grams. The clustering is
    what makes it tractable: candidate pairs exist only within a cell, so
    pair cost is sum(|cell|²) instead of n² — the paper's design, with the
    cell count chosen so cells stay bounded (√n cells of √n vectors each is
    the classic operating point). Train the cells with
    :func:`kmeans_lloyd_det` (deterministic, oracle-checkable — q127
    cross-checks training AND pruning against DuckDB).

    Scale shape: cell assignment is the broadcast-centroid per-row HOF
    argmin (corpus never shuffles to pick a cell); the pair join is an
    EQUI-join on the cell id (hash-partitionable, never BNLJ — invariant
    13); the prune set is a distinct-id semi-join. Skewed giant cells are
    the known failure mode — cap them upstream (more centroids) or salt via
    ``skew.salted_self_pairs``."""
    cells = _cells(corpus, centroids, id_col, vec_col, cent_id_col).persist()
    # r14 zero-norm/NULL exclusion, PAIR SIDES ONLY: a zero/NULL vector
    # can neither be a near-duplicate nor prune one (its cosine is
    # undefined), but it keeps its row in the output (keep=true — same
    # as the DuckDB twin, where its NULL cosine fails the threshold
    # comparison). Spark ANSI would THROW on the division instead, so
    # the exclusion must happen before the cosine.
    #
    # r14 optimization (guide §4.2, the q339 blocked recipe): the pair
    # stage used to equi-self-join on the cell and evaluate one
    # CodegenFallback HOF cosine per pair — Σ|cell|² fold evaluations at
    # ~13µs each (measured: 26s per 2M pairs) dominated the query. Now
    # each cell is ONE applyInPandas task computing its all-pairs block
    # with dimension-major numpy loops: norms accumulate 0.0 + x₁² + …
    # and the dot 0.0 + x₁y₁ + … in index order — EXACTLY the fold's
    # IEEE sequence, then the same dot/(na·nb) tree — so every cosine
    # double is bit-identical to the HOF value and the ≥-threshold
    # verdicts cannot move. Fold semantics on RAGGED vectors are kept by
    # blocking per vector LENGTH inside the cell (equal-length pairs
    # score, cross-length pairs are NULL under zip_with padding → fail
    # the threshold → skipped here). The exchange carries each valid
    # vector once, keyed by cell — never the pair frame.
    fields = {f.name: f.dataType.simpleString() for f in corpus.schema.fields}
    valid = cells.where(_norm(F.col(vec_col)) > 0).select(
        F.col("cell"), F.col(id_col).alias("__id"), F.col(vec_col).alias("__v")
    )
    # r15 cell-size CAP (r14 VERDICT task 5): one applyInPandas task per
    # cell concentrates Σ|cell|² work — and an |cell|²-double dot matrix
    # — in a single task; a hot cell at scale is a straggler AQE cannot
    # split (skew mitigation does not apply to grouped Python stages).
    # Cells above ``cell_cap`` rows split into m = ceil(|cell|/cap)
    # hash-chunks and each UNORDERED chunk pair (i ≤ j) becomes its own
    # task: every within-cell pair is examined in exactly one task
    # (same-chunk pairs in (c,c), cross-chunk in (min,max)), so the
    # union of per-task witnesses is the uncapped witness set and the
    # per-pair cosine — a dimension-major fold private to the pair — is
    # bit-identical. Witness ids can repeat across a cell's tasks, so
    # the prune set is distinct-ed (id-cardinality rows, cheap). At
    # gate SFs every cell sits under the cap (m = 1: one task per cell,
    # the pre-cap shape); a forced hot cell is exercised by
    # tools/scale_smoke.py and the pytest pin.
    sizes = valid.groupBy("cell").agg(
        F.ceil(F.count(F.lit(1)) / F.lit(cell_cap)).cast("int").alias("__m")
    )
    chunked = valid.join(sizes, "cell").select(
        "cell",
        "__id",
        "__v",
        F.pmod(F.xxhash64(F.col("__id")), F.col("__m")).cast("int").alias("__c"),
        F.col("__m"),
    )
    tasks = chunked.select(
        "cell",
        "__id",
        "__v",
        "__c",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.col("__m") - 1),
                lambda o: F.struct(
                    F.least(F.col("__c"), o).alias("bi"),
                    F.greatest(F.col("__c"), o).alias("bj"),
                ),
            )
        ).alias("__blk"),
    ).select(
        "cell", "__id", "__v", "__c",
        F.col("__blk.bi").alias("__bi"), F.col("__blk.bj").alias("__bj"),
    )

    def _pruned_fn(pdf):
        import numpy as np
        import pandas as pd

        out: list = []
        # cross-chunk task: only pairs spanning the two chunks count here
        # (same-chunk pairs belong to their own (c, c) task)
        cross = len(pdf) > 0 and pdf["__bi"].iloc[0] != pdf["__bj"].iloc[0]
        by_len: dict[int, list] = {}
        for vid, arr, chunk in zip(pdf["__id"], pdf["__v"], pdf["__c"]):
            by_len.setdefault(len(arr), []).append((vid, arr, chunk))
        for length, grp in by_len.items():
            if length == 0 or len(grp) < 2:
                continue
            grp.sort(key=lambda t: t[0])
            ids = np.array([t[0] for t in grp])
            E = np.stack([np.asarray(t[1], dtype=np.float64) for t in grp])
            n = np.zeros(E.shape[0])
            for t in range(length):  # the _norm fold, dimension-major
                n += E[:, t] * E[:, t]
            n = np.sqrt(n)
            # r15 two-phase pair stage (guide §4.2 — hand the bulk to
            # BLAS). Phase 1 (CANDIDATES): one dgemm. BLAS sums in a
            # different order than the HOF fold, so its dots are NOT the
            # exact verdict values — but the reassociation error is
            # bounded: |dot_seq − dot_blas| ≤ 2·γ_d·Σₜ|xₜyₜ| ≤
            # 2·γ_d·‖x‖‖y‖ (γ_64 ≈ 7.1e-15), so every pair whose EXACT
            # fold cosine clears the threshold satisfies
            # dot_blas ≥ (threshold − 1e-9)·nᵢnⱼ — a 1e-9 margin is ~6
            # orders above the bound, so the candidate set is a strict
            # superset of the exact hit set. Phase 2 (VERDICTS): only
            # candidate pairs re-accumulate the dot in the HOF fold's
            # dimension order and apply the identical cos = dot/(nᵢ·nⱼ)
            # ≥ threshold test — bit-identical verdicts. The old
            # all-pairs dimension-major outer-product loop wrote d fresh
            # n² temporaries (memory-bound, ~25× the matmul: 247 s vs
            # ~10 s on a 20 k-vector 8-cell probe); pair work is now
            # O(candidates·d) on top of the dgemm.
            G = E @ E.T
            nn = n[:, None] * n[None, :]
            cand = G >= (threshold - 1e-9) * nn
            if cross:
                chunks = np.array([t[2] for t in grp])
                cand &= chunks[:, None] != chunks[None, :]
            ii, jj = np.nonzero(np.triu(cand, k=1))
            if len(ii):
                acc = np.zeros(len(ii))
                for t in range(length):  # the _dot fold, dimension-major
                    acc += E[ii, t] * E[jj, t]
                hit = acc / (n[ii] * n[jj]) >= threshold
                # pruned: any lower-id (= lower-index) witness; ii < jj
                out.extend(ids[np.unique(jj[hit])].tolist())
        return pd.DataFrame({id_col: pd.Series(out, dtype="object")})

    pruned = tasks.groupBy("cell", "__bi", "__bj").applyInPandas(
        _pruned_fn, f"{id_col} {fields[id_col]}"
    ).distinct()
    return cells.join(
        pruned.withColumn("__pruned", F.lit(True)), id_col, "left"
    ).select(
        id_col, "cell", F.coalesce(~F.col("__pruned"), F.lit(True)).alias("keep")
    )


def pq_topk_det(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int = 64,
    m: int = 4,
    ksub: int = 4,
    iters: int = 2,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Product-quantization ANN (Jégou et al. 2011, "Product Quantization
    for Nearest Neighbor Search"): split each vector into ``m`` subvectors
    of ``dim/m`` dims, train an independent ``ksub``-centroid codebook per
    subspace (deterministic Lloyd, :func:`kmeans_lloyd_det` — seeds = the
    ksub lowest-id vectors' slices, 2 rounds, centroids rounded 6dp), encode
    every corpus vector as ``m`` small codes, and answer queries by
    Asymmetric Distance Computation: per-subspace distance TABLES from the
    query to each centroid, approx distance = the sum of ``m`` table
    lookups. Returns (query_id, id, approx_sqdist, rank) top-k per query,
    ties on id. q131 cross-checks training, encoding, AND the ADC read path
    against DuckDB CTE-by-CTE.

    Why PQ at 100 TB: the corpus collapses to m·log2(ksub·…) bits per
    vector (here 4 codes ≈ 4 bytes vs 512 bytes of floats) — the scan side
    of a query reads codes only, and distances come from m map lookups
    instead of a dim-length float fold. The codebooks and the per-query
    distance tables are broadcast (m·ksub rows total); the corpus never
    shuffles: encode is a per-row HOF argmin per subspace, scoring is a
    broadcast cross of the (tiny) query table against the code columns.
    Combine with an IVF coarse quantizer (q51) for the classic IVF-PQ.

    Per invariant 14 (HOFs are CodegenFallback, no subexpression
    elimination), every subvector slice is STAGED as its own column before
    the argmin lambda references it."""
    enc, qs = _pq_build(
        corpus, queries, dim, m, ksub, iters, id_col, vec_col, query_id_col
    )
    pairs = enc.drop(vec_col).crossJoin(F.broadcast(qs.drop(vec_col)))
    return _adc_topk(pairs, m, k, id_col, query_id_col)


def _adc_topk(
    cand: DataFrame, m: int, k: int, id_col: str, query_id_col: str
) -> DataFrame:
    """ADC read path of the PQ family: approx distance = the sum of the
    ``m`` per-subspace table lookups ``qd{s}[code{s}]``, top-k ascending
    per query, ties on id."""
    ad = F.element_at(F.col("qd0"), F.col("code0"))
    for s in range(1, m):
        ad = ad + F.element_at(F.col(f"qd{s}"), F.col(f"code{s}"))
    return _topk(cand, query_id_col, [ad.asc(), F.col(id_col).asc()], k).select(
        query_id_col, id_col, F.round(ad, 6).alias("approx_sqdist"), "rank"
    )


def _pq_build(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    m: int,
    ksub: int,
    iters: int,
    id_col: str,
    vec_col: str,
    query_id_col: str,
) -> tuple[DataFrame, DataFrame]:
    """Shared PQ machinery for :func:`pq_topk_det` and
    :func:`ivfpq_topk_det`: train the m stacked codebooks, return
    (encoded corpus with ``code0..code{m-1}``, query frame with per-subspace
    distance maps ``qd0..qd{m-1}``)."""

    cb_all = _pq_train(corpus, dim, m, ksub, iters, id_col, vec_col)
    carr_all = _pq_carr(cb_all)
    return _pq_encode(
        corpus, queries, carr_all, m, dim // m, id_col, vec_col, query_id_col
    )


def _pq_stack(
    corpus: DataFrame, dim: int, m: int, id_col: str, vec_col: str
) -> DataFrame:
    """(id, grp, sub) rows: one per subspace slice per vector."""
    d_sub = dim // m
    assert d_sub * m == dim, "dim must divide evenly into m subspaces"
    return corpus.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("grp"),
                        F.slice(F.col(vec_col), s * d_sub + 1, d_sub).alias("sub"),
                    )
                    for s in range(m)
                ]
            )
        ).alias("__sv"),
    ).select(id_col, F.col("__sv.grp").alias("grp"), F.col("__sv.sub").alias("sub"))


def _pq_train(
    corpus: DataFrame,
    dim: int,
    m: int,
    ksub: int,
    iters: int,
    id_col: str,
    vec_col: str,
    extra_stack: DataFrame | None = None,
    extra_init: DataFrame | None = None,
) -> DataFrame:
    """All m codebooks train in ONE stacked plan (bit-identical to
    per-subspace loops — groups never mix) and materialize ONCE: the result
    feeds both the encode side and the query distance tables, and without
    truncation the whole training lineage would re-execute per consumer.
    ``extra_stack``/``extra_init`` let a caller ride MORE independent
    trainings (IVF-PQ's coarse quantizer, as group ids >= m) in the same
    plan — grouped Lloyd handles ragged vector lengths because groups never
    interact."""
    stacked = _pq_stack(corpus, dim, m, id_col, vec_col)
    init = stacked.where(F.col(id_col) < ksub).select(
        "grp", F.col(id_col).alias("cent_id"), "sub"
    )
    if extra_stack is not None:
        stacked = stacked.unionByName(extra_stack.select(id_col, "grp", "sub"))
        init = init.unionByName(
            extra_init.select("grp", "cent_id", "sub")
        )
    return kmeans_lloyd_det_stacked(
        stacked, init, iters=iters, id_col=id_col
    ).localCheckpoint(eager=True)


def _pq_carr(cb_all: DataFrame) -> Column:
    """The single broadcast codebook array (g, cid, cv) used by every
    encode/distance-table projection."""
    return _centroid_array(cb_all, "cent_id", "sub", grp="grp", name="__cb")


def _pq_encode(
    corpus: DataFrame,
    queries: DataFrame,
    carr_all: Column,
    m: int,
    d_sub: int,
    id_col: str,
    vec_col: str,
    query_id_col: str,
) -> tuple[DataFrame, DataFrame]:
    # NB: the HOF lambdas below MUST be single-parameter and close over the
    # staged column NAME via a factory — a `s=s` default on a two-parameter
    # lambda is silently overridden by the array index (invariant 3).
    def _entry_struct_fn(sub_name: str) -> Callable[[Column], Column]:
        # RAW distance, not _inf_null: these structs build the ADC
        # distance TABLES whose values reach the OUTPUT (approx_sqdist)
        # — a NULL query slice must emit NULL like the oracle, not +inf.
        # Only argmin PICKS (_nearest) coalesce to inf.
        def fn(c: Column) -> Column:
            return F.struct(
                c["cid"].alias("cid"),
                sqdist(F.col(sub_name), c["cv"]).alias("d"),
            )

        return fn

    def _grp_cb(s: int) -> Column:
        return F.filter(F.col("__cb"), lambda c: c["g"] == F.lit(s))

    enc = corpus.select(id_col, vec_col).crossJoin(carr_all)
    for s in range(m):
        enc = enc.withColumn(
            f"__sub{s}", F.slice(F.col(vec_col), s * d_sub + 1, d_sub)
        ).withColumn(
            f"code{s}", _nearest(F.col(f"__sub{s}"), _grp_cb(s))
        ).drop(f"__sub{s}")
    enc = enc.drop("__cb")

    qs = queries.select(query_id_col, vec_col).crossJoin(carr_all)
    for s in range(m):
        qs = qs.withColumn(
            f"__sub{s}", F.slice(F.col(vec_col), s * d_sub + 1, d_sub)
        ).withColumn(
            f"qd{s}",
            F.map_from_entries(
                F.transform(_grp_cb(s), _entry_struct_fn(f"__sub{s}"))
            ),
        ).drop(f"__sub{s}")
    qs = qs.drop("__cb")
    return enc, qs


def ivfpq_topk_det(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int = 64,
    m: int = 4,
    ksub: int = 4,
    nlist: int = 8,
    nprobe: int = 3,
    iters: int = 2,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF-PQ: the composition the ANN family builds toward — an IVF coarse
    quantizer (q51's deterministic Lloyd) prunes the corpus to ``nprobe``
    cells per query, and PQ codes (:func:`pq_topk_det`'s machinery) score
    the surviving candidates by Asymmetric Distance Computation. This is
    the FAISS IVFADC layout simplified to codes over RAW vectors (classic
    IVFADC encodes residuals; the raw-vector variant keeps every stage
    SQL-checkable — q133 cross-checks coarse training, cell assignment,
    probe selection, PQ training, encoding and the ADC join end-to-end).

    Scale shape: both quantizers train on broadcast-sized state; the corpus
    is scanned once for cell assignment + encoding (one projection, no
    shuffle), candidates flow through ONE equi-join on the cell id, and the
    only other exchange is the per-query top-k window. At 100 TB the
    candidate join reads m small code columns — not the vectors."""
    # the coarse quantizer trains as group id m INSIDE the same stacked
    # Lloyd plan as the m PQ codebooks (one training job, one checkpoint;
    # groups never mix so results are bit-identical to separate runs)
    coarse_stack = corpus.select(
        id_col, F.lit(m).alias("grp"), F.col(vec_col).alias("sub")
    )
    coarse_init = corpus.where(F.col(id_col) < nlist).select(
        F.lit(m).alias("grp"),
        F.col(id_col).alias("cent_id"),
        F.col(vec_col).alias("sub"),
    )
    cb_all = _pq_train(
        corpus, dim, m, ksub, iters, id_col, vec_col,
        extra_stack=coarse_stack, extra_init=coarse_init,
    )
    carr = _centroid_array(cb_all.where(F.col("grp") == m), "cent_id", "sub")
    enc, qs = _pq_encode(
        corpus, queries, _pq_carr(cb_all.where(F.col("grp") < m)),
        m, dim // m, id_col, vec_col, query_id_col,
    )
    # cell assignment rides the SAME projection as the PQ encode — one scan
    cells = enc.crossJoin(carr).withColumn(
        "__cell", _nearest(F.col(vec_col))
    ).drop("__cents", vec_col)
    probes = qs.crossJoin(carr).select(
        F.col(query_id_col),
        *[F.col(f"qd{s}") for s in range(m)],
        F.explode(_nearest_n(F.col(vec_col), nprobe)).alias("__cell"),
    )
    cand = cells.join(F.broadcast(probes), "__cell")
    return _adc_topk(cand, m, k, id_col, query_id_col)


def kmeans_lloyd_det_stacked(
    stacked: DataFrame,
    init_centroids: DataFrame,
    iters: int = 2,
    grp_col: str = "grp",
    id_col: str = "vec_id",
    vec_col: str = "sub",
    cent_id_col: str = "cent_id",
    round_dp: int = 6,
) -> DataFrame:
    """Deterministic Lloyd k-means for MANY INDEPENDENT trainings in one
    plan (:func:`kmeans_lloyd_det` is the one-group case): rows carry a
    ``grp_col`` and each group trains its own centroids from
    caller-supplied per-group ``init_centroids``, ``iters`` assign→mean
    rounds, every centroid coordinate ROUNDED to ``round_dp`` after each
    mean. Groups never mix — per-(grp, cell, dim) means see exactly the
    rows a one-group run would — so each group gets the centroids of its
    own run, while the stage count stays constant in the number of groups
    (PQ trains m=4+ codebooks; serial loops paid ~4x scheduler overhead
    for identical arithmetic).

    The rounding is what makes the whole training loop cross-engine
    checkable: per-cell per-dimension means are order-dependent
    accumulations (float policy: round BOTH sides), and once the centroids
    are bit-identical, every downstream distance/argmin reuses the
    bit-exact expression trees q72 already proved against DuckDB. Empty
    cells simply drop out (both engines: the mean GROUP BY only sees
    non-empty cells), so nlist can shrink — same behavior both sides.

    Scale shape per round: centroids collapse to ONE broadcast row;
    assignment is a per-row HOF argmin over that array, filtered by group
    INSIDE the HOF (the corpus never shuffles for it); the mean recompute
    shuffles nlist×dim tiny (grp, cell, pos) rows — for nlist=1024,
    dim=1024 that is ~1M rows regardless of corpus size. The corpus is
    rescanned once per round; persist upstream if it is not a parquet
    scan."""
    cents = init_centroids.select(
        F.col(grp_col).alias("g"),
        F.col(cent_id_col).alias("cid"),
        F.col(vec_col).alias("cv"),
    )
    rows = stacked.select(grp_col, id_col, vec_col)
    for _ in range(iters):
        carr = _centroid_array(cents, "cid", "cv", grp="g")
        own = F.filter(F.col("__cents"), lambda c: c["g"] == F.col(grp_col))
        assigned = rows.crossJoin(carr).select(
            grp_col, id_col, vec_col, _nearest(F.col(vec_col), own).alias("__cell")
        )
        cents = (
            assigned.select(
                grp_col, "__cell", F.posexplode(vec_col).alias("pos", "v")
            )
            .groupBy(grp_col, "__cell", "pos")
            .agg(F.round(F.avg("v"), round_dp).alias("v"))
            .groupBy(grp_col, "__cell")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "v"))),
                    lambda s: s["v"],
                ).alias("cv")
            )
            .select(
                F.col(grp_col).alias("g"),
                F.col("__cell").alias("cid"),
                "cv",
            )
            # r14 (guide §2.4 / invariant 9's broadcast twin): each
            # round's broadcast used to EMBED the previous round's whole
            # plan, so the broadcast job re-executed every earlier
            # assign+mean chain — quadratic re-execution in `iters` —
            # and every downstream consumer (semdedup's centroid array,
            # assign_cells, the PQ encode) re-ran the full training
            # again. Checkpointing the centroid frame per round costs one
            # tiny job, makes training linear, and hands consumers a flat
            # nlist-row frame; values are bit-identical (materialization
            # only).
            .localCheckpoint(eager=True)
        )
    return cents.select(
        F.col("g").alias(grp_col),
        F.col("cid").alias(cent_id_col),
        F.col("cv").alias(vec_col),
    )


def mine_hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    lo: float,
    hi: float,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Hard-negative mining for contrastive training: per anchor, the
    top-k corpus vectors whose cosine falls in the band [lo, hi) just
    BELOW the positive threshold — similar enough to be informative,
    dissimilar enough to be true negatives (the standard pair-mining
    step for embedding-model training, e.g. SBERT/DPR recipes).

    Scale shape: anchors broadcast, corpus scanned once, the one
    shuffle keyed by anchor carrying only (anchor, id, score) triples.
    The band + self-pair exclusion rides a NULL-banded score rather than
    a WHERE on the join output: a plain filter would be pushed INTO the
    broadcast join's condition, turning the (legitimate, anchor-bounded)
    unconditional BNLJ into the conditional-BNLJ shape the registry
    linter bans (invariant 13); the null band sorts last under the rank
    and is dropped ABOVE the window - same result. Self-pairs are nulled explicitly (an anchor scores 1.0
    against itself — outside any sane band, but the guard documents
    the contract). Ties break on the candidate id."""
    # r14 zero-norm/NULL exclusion — see brute_force_topk_blocked: equals the
    # oracle's NULL-cosine-fails-the-band semantics, without the ANSI
    # divide-by-zero throw.
    q = F.broadcast(
        queries.select(
            F.col(query_id_col),
            F.col(vec_col).alias("__qvec"),
            _norm(F.col(vec_col)).alias("__qnorm"),
        ).where(F.col("__qnorm") > 0)
    )
    scored = (
        corpus.select(
            F.col(id_col), F.col(vec_col), _norm(F.col(vec_col)).alias("__cnorm")
        )
        .where(F.col("__cnorm") > 0)
        .join(q)
        .select(
            F.col(query_id_col),
            F.col(id_col),
            (
                _dot(F.col(vec_col), F.col("__qvec"))
                / (F.col("__cnorm") * F.col("__qnorm"))
            ).alias("__raw"),
        )
        .select(
            F.col(query_id_col),
            F.col(id_col),
            F.when(
                (F.col(id_col) != F.col(query_id_col))
                & (F.col("__raw") >= F.lit(lo))
                & (F.col("__raw") < F.lit(hi)),
                F.col("__raw"),
            ).alias("score"),
        )
    )
    return (
        _topk(scored, query_id_col, [F.col("score").desc(), F.col(id_col).asc()], k)
        .where(F.col("score").isNotNull())
        .select(query_id_col, id_col, "score", "rank")
    )


def _stack_padded(series, dtype, nan_to_zero: bool):
    """Stack a pandas object column of arrays into one 2-D numpy block,
    zero-padding ragged rows to the task max length (missing tail dims
    ≡ zeros under products and sums — the exploded-equi-join semantics,
    same convention as queries._embedding_gram_cn). ``nan_to_zero``
    maps NULL ELEMENTS (Arrow delivers them as float NaN) to 0 for
    integer-lattice inputs (the SQL SUM null-skip twin — r11 lesson a:
    a bare astype(int64) silently wraps NaN to INT64_MIN); float
    consumers keep the NaN so a poisoned row fails its norm guard
    exactly like the NULL-poisoned HOF fold it replaces."""
    import numpy as np

    arrs = [np.asarray(a, dtype=np.float64) for a in series]
    try:
        e = np.stack(arrs)
    except ValueError:  # ragged: np.stack refuses mixed lengths
        d = max(a.shape[0] for a in arrs)
        e = np.zeros((len(arrs), d), dtype=np.float64)
        for r, a in enumerate(arrs):
            e[r, : a.shape[0]] = a
    if nan_to_zero:
        e = np.nan_to_num(e, nan=0.0, copy=False)
    return e.astype(dtype, copy=False)


def _allpairs_tagged(
    corpus: DataFrame, anchors: DataFrame, id_col: str, vec_col: str
) -> tuple[DataFrame, int]:
    """Union-tagged frame for blocked all-pairs numpy evaluation (guide
    §4.2 / r10 lesson b: the per-task vectorized matmul beats both the
    pair join and the JVM generator rewrite). Anchors land in ONE hash
    group each; the corpus rides an ``explode(sequence(...))`` generator
    into EVERY group (a generator, not a broadcast-range cross join —
    that would plan the linter-watched BNLJ), so each applyInPandas task
    sees (its anchor slice) × (the full corpus) and the only exchange
    carries n_groups·|corpus| + |anchors| id+vector rows — never the
    O(|anchors|·|corpus|) pair frame the join shape shuffled. Group
    count ≈ cores/4 (invariant 7: few fat Arrow streams beat many).

    LICENSE BOUND: replicating the corpus into every group is a
    broadcast in disguise — each task materializes the FULL corpus as a
    numpy block, so |corpus| must fit one task's memory (~10⁵-10⁶
    d=64 vectors, i.e. the eval/anchor shapes this serves: q339/q341's
    ground truth, q242/q209's brute-force side). At 100 TB corpus scale
    this operator is the WRONG shape — route through the IVF/LSH
    candidate paths instead (cell-bounded pair sets; q341's anchor
    subsample + q51-style cells), exactly as the q341 docstring
    prescribes for its estimator."""
    spark = corpus.sparkSession
    g = max(spark.sparkContext.defaultParallelism // 4, 2)
    a = anchors.select(
        F.lit(0).alias("__t"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(g)).cast("int").alias("__g"),
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__v"),
    )
    c = corpus.select(
        F.lit(1).alias("__t"),
        F.explode(
            F.sequence(F.lit(0), F.lit(g - 1)).cast("array<int>")
        ).alias("__g"),
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__v"),
    )
    return a.unionByName(c), g


def brute_force_topk_blocked(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k — the engine's one exact kNN (q34, q63, q209,
    q242, q339, and the recall reference of every approximate operator
    here): per query, the ``k`` corpus vectors of highest cosine, as
    (query_id, id, score, rank), ties broken on id ascending.

    Blocked numpy evaluation: each task gets an anchor (query) slice ×
    the full corpus (``_allpairs_tagged``) and computes scores as a
    dimension-major loop of vectorized adds — acc starts at 0.0 and gains
    one a[k]·b[k] product per step, EXACTLY the
    ``aggregate(zip_with(a, b, x*y), 0.0, acc+x)`` left fold's IEEE
    sequence that the DuckDB twins mirror, so every score double is
    bit-identical to the HOF value (same for the norm folds; the final
    ``dot/(cnorm·qnorm)`` chain is the same tree). Ranking (score DESC,
    id ASC) happens in-task on exact doubles — ±0.0 compare equal in
    numpy and in Spark's sort, so tie-breaks agree — and only |Q|·k
    result rows ever reach the plan: no |Q|·|C| pair frame, no pair
    join, no rank window. The corpus must fit one task's memory
    (``_allpairs_tagged``'s license bound).

    Requires ``array<double>`` vectors (cast float embeddings first:
    float-arithmetic HOF folds are NOT replicated here).

    Zero-norm / NULL exclusion (r14 dirty-embedding contract, shared by
    every cosine ranker in this module): a vector with no positive norm
    has no direction, so it can never be a cosine match. NULL, all-zero
    and NULL-element vectors (Arrow hands NULL elements over as NaN) are
    dropped on both sides — ``norm > 0`` is False for NaN, as the SQL
    comparison is NULL for a NULL norm. Scoring them NULL instead would
    leave NULL scores in rank orders whose NULL placement differs
    cross-engine (Spark ASC NULLS FIRST, DuckDB LAST), and Spark ANSI
    throws on the division anyway. Ragged rows zero-pad to the task's
    longest vector (missing dimensions count as zeros); the registry
    never sees one, because ``readers._quarantine_embeddings`` nulls
    every wrong-length vector at scan."""
    fields = {f.name: f.dataType.simpleString() for f in corpus.schema.fields}
    qfields = {f.name: f.dataType.simpleString() for f in queries.schema.fields}
    out_schema = (
        f"{query_id_col} {qfields[query_id_col]}, {id_col} {fields[id_col]},"
        " score double, rank int"
    )
    tagged, _ = _allpairs_tagged(
        corpus.select(F.col(id_col), F.col(vec_col)),
        queries.select(
            F.col(query_id_col).alias(id_col), F.col(vec_col)
        ),
        id_col,
        vec_col,
    )

    def _fn(pdf):
        import numpy as np
        import pandas as pd

        a_pdf = pdf[(pdf["__t"] == 0) & pdf["__v"].notna()]
        c_pdf = pdf[(pdf["__t"] == 1) & pdf["__v"].notna()]
        qid_out: list = []
        cid_out: list = []
        s_out: list = []
        r_out: list = []
        if len(a_pdf) and len(c_pdf):
            A = _stack_padded(a_pdf["__v"], np.float64, nan_to_zero=False)
            C = _stack_padded(c_pdf["__v"], np.float64, nan_to_zero=False)
            d = max(A.shape[1], C.shape[1])
            if A.shape[1] < d:
                A = np.pad(A, ((0, 0), (0, d - A.shape[1])))
            if C.shape[1] < d:
                C = np.pad(C, ((0, 0), (0, d - C.shape[1])))
            qn = np.zeros(A.shape[0])
            cn = np.zeros(C.shape[0])
            for t in range(d):  # the _norm fold, dimension-major
                qn += A[:, t] * A[:, t]
                cn += C[:, t] * C[:, t]
            qn = np.sqrt(qn)
            cn = np.sqrt(cn)
            qm = qn > 0  # False for NaN too — the HOF guard's semantics
            cm = cn > 0
            A, qn = A[qm], qn[qm]
            C, cn = C[cm], cn[cm]
            aid = a_pdf["__id"].to_numpy()[qm]
            cid = c_pdf["__id"].to_numpy()[cm]
            if A.shape[0] and C.shape[0]:
                dot = np.zeros((A.shape[0], C.shape[0]))
                for t in range(d):  # the _dot fold, dimension-major
                    dot += A[:, t][:, None] * C[:, t][None, :]
                s = dot / (cn[None, :] * qn[:, None])
                for i in range(A.shape[0]):
                    o = np.lexsort((cid, -s[i]))[:k]
                    for r, j in enumerate(o, start=1):
                        qid_out.append(aid[i])
                        cid_out.append(cid[j])
                        s_out.append(s[i, j])
                        r_out.append(r)
        return pd.DataFrame(
            {
                query_id_col: qid_out,
                id_col: cid_out,
                "score": pd.array(s_out, dtype="float64"),
                "rank": pd.array(r_out, dtype="int32"),
            }
        )

    return tagged.groupBy("__g").applyInPandas(_fn, out_schema)


def nearest2_sqdist(
    quantized: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "eq",
    dim: int | None = None,
    anchors: DataFrame | None = None,
) -> DataFrame:
    """Per-point nearest-2 EXACT squared distances over an integer-lattice
    vector frame (``vec_col``: array<long>, e.g. ``floor(x·1e4 + 0.5)`` —
    the q265/q308 quantization): returns (id, d1, d2) where d1 ≤ d2 are
    the two smallest non-self squared distances, ties broken by the
    neighbor id. The base of the TwoNN intrinsic-dimension estimator
    (q341) and any exact-integer kNN stat.

    r14 optimization (guide §2.3/§4.2, r10 lesson b): the old shape
    broadcast-joined anchors onto the corpus, evaluated |A|·|C| unrolled
    64-term integer distances in codegen, and shuffled the O(n²)-row
    (anchor, dq) frame into two rank windows. Now each applyInPandas
    task gets an anchor slice × the full corpus (``_allpairs_tagged``)
    and computes EXACT int64 distances via |a|²+|b|²−2a·b with one
    int64 matmul — integer arithmetic, so order-free and bit-identical
    to the unrolled sum — then picks each anchor's non-self two
    smallest (dq, bid) pairs in-task (provably the top-3/drop-self/
    re-rank result in every tie arrangement; still property-tested vs
    brute force). Only |anchors| result rows reach the plan; the one
    exchange carries id+vector rows, never pairs. ``dim`` is accepted
    for API stability but no longer needed. Element magnitudes must
    keep per-pair |a|²+|b|²+2|a·b| < 2^63 (the 1e-4 lattice has 500×
    headroom under the dirty gate's ×1e3 class). NULL vectors score
    nothing (dropped both sides — the quarantine contract), NULL
    elements quantize to 0 (SUM null-skip twin), ragged rows zero-pad
    (missing dims ≡ zeros under products and sums).

    Pass ``anchors`` (a subset of ``quantized``, same schema) to get
    nearest-2 for only those points against the FULL corpus — the
    100 TB scale hatch: downstream estimators (TwoNN ID) are anchor
    MEANS, so anchor subsampling is unbiased and turns the O(n²) exact
    form into O(n·a). Default: every point is an anchor."""
    fields = {f.name: f.dataType.simpleString() for f in quantized.schema.fields}
    out_schema = f"{id_col} {fields[id_col]}, d1 long, d2 long"
    tagged, _ = _allpairs_tagged(
        quantized.select(F.col(id_col), F.col(vec_col)),
        (anchors if anchors is not None else quantized).select(
            F.col(id_col), F.col(vec_col)
        ),
        id_col,
        vec_col,
    )

    def _fn(pdf):
        import numpy as np
        import pandas as pd

        a_pdf = pdf[(pdf["__t"] == 0) & pdf["__v"].notna()]
        c_pdf = pdf[(pdf["__t"] == 1) & pdf["__v"].notna()]
        id_out: list = []
        d1_out: list = []
        d2_out: list = []
        if len(a_pdf) and len(c_pdf):
            A = _stack_padded(a_pdf["__v"], np.int64, nan_to_zero=True)
            C = _stack_padded(c_pdf["__v"], np.int64, nan_to_zero=True)
            d = max(A.shape[1], C.shape[1])
            if A.shape[1] < d:
                A = np.pad(A, ((0, 0), (0, d - A.shape[1])))
            if C.shape[1] < d:
                C = np.pad(C, ((0, 0), (0, d - C.shape[1])))
            aid = a_pdf["__id"].to_numpy()
            cid = c_pdf["__id"].to_numpy()
            na = (A * A).sum(axis=1)
            nc = (C * C).sum(axis=1)
            D = na[:, None] + nc[None, :] - 2 * (A @ C.T)
            for i in range(A.shape[0]):
                m = cid != aid[i]
                if not m.any():
                    continue
                drow = D[i][m]
                ids = cid[m]
                o = np.lexsort((ids, drow))
                id_out.append(aid[i])
                d1_out.append(int(drow[o[0]]))
                d2_out.append(
                    int(drow[o[1]]) if drow.shape[0] > 1 else None
                )
        return pd.DataFrame(
            {
                id_col: id_out,
                "d1": pd.array(d1_out, dtype="Int64"),
                "d2": pd.array(d2_out, dtype="Int64"),
            }
        )

    return tagged.groupBy("__g").applyInPandas(_fn, out_schema)
