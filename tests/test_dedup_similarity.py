"""Dedup + similarity operators on planted fixtures: exact groups, LSH recall
against exact Jaccard, simhash hamming, ANN top-k vs numpy."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from soict20221_bigdata_financialplatform_spark.operators import dedup as dd
from soict20221_bigdata_financialplatform_spark.operators import similarity as sim

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill and the birds sing in the garden outside"
)


def _docs(spark):
    rows = [
        Row(doc_id=0, text=BASE),
        Row(doc_id=1, text=BASE),  # exact dup of 0
        Row(doc_id=2, text=BASE.replace("garden", "meadow")),  # near dup of 0
        Row(doc_id=3, text="completely different content about spark engines "
                           "and distributed query processing at large scale"),
        Row(doc_id=4, text=BASE.replace("quick", "swift").replace("lazy", "idle")),
    ]
    return spark.createDataFrame(rows)


def test_exact_dedup_groups(spark):
    out = dd.exact_dedup(_docs(spark)).collect()
    groups = {r.keep_id: r.n_copies for r in out}
    assert groups[0] == 2  # docs 0,1 collapse, survivor = min id
    assert len(out) == 4  # 4 distinct texts


def test_minhash_finds_planted_near_dups(spark):
    pairs = dd.minhash_near_dup_pairs(
        _docs(spark), num_hashes=64, bands=16, jaccard_threshold=0.5
    ).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    assert (0, 1) in found  # exact dup always found
    assert (0, 2) in found or (1, 2) in found  # one-word change
    assert all(0.5 <= r.jaccard <= 1.0 for r in pairs)
    assert not any(3 in (a, b) for a, b in found)  # unrelated doc never pairs


def test_minhash_signature_approximates_jaccard(spark):
    """LSH theory check: signature agreement rate ≈ true Jaccard."""
    docs = _docs(spark)
    sigs = {r["doc_id"]: r["signature"]
            for r in dd.minhash_signature(docs, num_hashes=128).collect()}
    exact = {(r.id_a, r.id_b): r.jaccard
             for r in dd.ngram_jaccard_pairs(docs, threshold=0.0).collect()}
    j01 = exact[(0, 2)]
    agree = sum(a == b for a, b in zip(sigs[0], sigs[2])) / 128
    assert agree == pytest.approx(j01, abs=0.15)


def test_minhash_sql_exprs_match_column_api_construction(spark):
    """The parsed ``_signature_expr``/``_bands_expr`` give bit-identical
    signatures and band keys to the Column-API construction they replaced
    (kept inline here as the reference), on docs with NULL-padded short
    shingle arrays and a NULL text too."""
    num_hashes, bands = 64, 16
    r = num_hashes // bands
    rows = [(i, t) for i, t in enumerate(
        [BASE, BASE.replace("fox", "wolf"), "two words", "", None,
         "spark engines and distributed query processing at scale"])]
    sh = spark.createDataFrame(rows, "doc_id long, text string").select(
        "doc_id", dd.shingle_hashes("text").alias("sh")
    )

    def _family(i):
        return lambda h: F.xxhash64(F.lit(i), h)

    ref_sig = F.array(*[F.array_min(F.transform(F.col("sh"), _family(i)))
                        for i in range(num_hashes)])
    ref_bands = F.array(*[
        F.xxhash64(F.lit(b), *[F.col("signature")[b * r + j] for j in range(r)])
        for b in range(bands)
    ])

    def keyed(sig):
        out = sh.select("doc_id", sig.alias("signature")).select(
            "doc_id", "signature", ref_bands.alias("ref"),
            dd._bands_expr(num_hashes, bands).alias("new"),
        )
        return {row.doc_id: row for row in out.collect()}

    ref, new = keyed(ref_sig), keyed(dd._signature_expr("sh", num_hashes))
    assert ref.keys() == new.keys() == set(range(len(rows)))
    for k in ref:
        assert new[k].signature == ref[k].signature
        assert new[k].new == ref[k].ref == new[k].ref
    assert ref[0].signature is not None and len(set(ref[0].ref)) > 1


def test_simhash_near_dup(spark):
    pairs = dd.simhash_near_dup_pairs(_docs(spark), max_hamming=10).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    assert (0, 1) in found
    assert not any(3 in (a, b) for a, b in found)


def test_ngram_jaccard_exact_values(spark):
    out = {(r.id_a, r.id_b): r.jaccard
           for r in dd.ngram_jaccard_pairs(_docs(spark), threshold=0.0).collect()}
    assert out[(0, 1)] == pytest.approx(1.0)
    assert 0.5 < out[(0, 2)] < 1.0


def _vecs(spark, n=50, dim=16, seed=3):
    rng = np.random.RandomState(seed)
    m = rng.randn(n, dim).astype("float64")
    rows = [Row(vec_id=i, embedding=[float(x) for x in m[i]]) for i in range(n)]
    return spark.createDataFrame(rows), m


def test_brute_force_topk_matches_numpy(spark):
    """The exact kNN equals numpy's ranking, and tied scores break on
    vec_id ascending: vector 50 duplicates vector 1, so both score
    identically against every query."""
    corpus, m = _vecs(spark)
    corpus = corpus.unionByName(
        spark.createDataFrame([Row(vec_id=50, embedding=[float(x) for x in m[1]])])
    )
    m = np.vstack([m, m[1]])
    ids = np.arange(len(m))
    queries = corpus.where("vec_id < 3").selectExpr(
        "vec_id as query_id", "embedding"
    )
    got = sim.brute_force_topk_blocked(corpus, queries, k=5).collect()
    norms = np.linalg.norm(m, axis=1)
    for qid in range(3):
        scores = (m @ m[qid]) / (norms * norms[qid])
        scores[50] = scores[1]  # the same vector: an exact tie in Spark too
        expect = list(np.lexsort((ids, -scores))[:5])
        rows = sorted((r for r in got if r.query_id == qid), key=lambda r: r.rank)
        mine = [r.vec_id for r in rows]
        assert mine == expect
        assert [r.rank for r in rows] == [1, 2, 3, 4, 5]
        assert mine[0] == qid  # self is rank 1
    tied = sorted(
        (r for r in got if r.query_id == 1 and r.vec_id in (1, 50)),
        key=lambda r: r.rank,
    )
    assert [(r.vec_id, r.rank) for r in tied] == [(1, 1), (50, 2)]
    assert tied[0].score == tied[1].score


def test_lsh_topk_recall(spark):
    corpus, _ = _vecs(spark, n=100, dim=16)
    queries = corpus.where("vec_id < 5").selectExpr("vec_id as query_id", "embedding")
    exact = sim.brute_force_topk_blocked(corpus, queries, k=5).collect()
    approx = sim.lsh_topk(corpus, queries, k=5, n_planes=4, dim=16).collect()
    # self-match always lands in the query's own bucket
    for qid in range(5):
        mine = [r.vec_id for r in approx if r.query_id == qid]
        assert qid in mine
    # recall over all queries is nontrivial
    e = {(r.query_id, r.vec_id) for r in exact}
    a = {(r.query_id, r.vec_id) for r in approx}
    assert len(e & a) / len(e) >= 0.3


def test_embedding_near_dup_pairs_finds_duplicate_vector(spark):
    corpus, m = _vecs(spark, n=20, dim=16)
    dup = spark.createDataFrame(
        [Row(vec_id=999, embedding=[float(x) for x in m[0]])]
    )
    out = sim.embedding_near_dup_pairs(
        corpus.unionByName(dup), threshold=0.999, n_planes=4, dim=16
    ).collect()
    assert {(r.id_a, r.id_b) for r in out} == {(0, 999)}


def test_embedding_near_dup_lsh_subset_of_exact_with_dup_recall(spark):
    """q64-vs-q36 contract: LSH-bucketed pairs are a SUBSET of the exact
    all-pairs set at the same threshold (bucketing only prunes, never adds),
    and truly identical vectors are ALWAYS recalled (angle 0 ⇒ same sign on
    every hyperplane ⇒ same bucket, deterministically)."""
    corpus, m = _vecs(spark, n=40, dim=16)
    dups = spark.createDataFrame(
        [Row(vec_id=900 + i, embedding=[float(x) for x in m[i]]) for i in range(3)]
    )
    full = corpus.unionByName(dups)
    thr = 0.35
    a = full.alias("a")
    b = full.alias("b")
    cos = sim.cosine(F.col("a.embedding"), F.col("b.embedding"))
    exact = {
        (r.id_a, r.id_b)
        for r in a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .where(cos >= thr)
        .select(F.col("a.vec_id").alias("id_a"), F.col("b.vec_id").alias("id_b"))
        .collect()
    }
    lsh = {
        (r.id_a, r.id_b)
        for r in sim.embedding_near_dup_pairs(
            full, threshold=thr, n_planes=4, dim=16
        ).collect()
    }
    assert lsh <= exact
    assert {(0, 900), (1, 901), (2, 902)} <= lsh  # identical pairs: full recall


def test_lsh_multiprobe_improves_recall(spark):
    corpus, _ = _vecs(spark, n=200, dim=16, seed=11)
    queries = corpus.where("vec_id < 10").selectExpr("vec_id as query_id", "embedding")
    exact = {(r.query_id, r.vec_id)
             for r in sim.brute_force_topk_blocked(corpus, queries, k=5).collect()}
    one = {(r.query_id, r.vec_id)
           for r in sim.lsh_topk(corpus, queries, k=5, n_planes=6, dim=16).collect()}
    multi = {(r.query_id, r.vec_id)
             for r in sim.lsh_topk(corpus, queries, k=5, n_planes=6, dim=16,
                                   multi_probe=1).collect()}
    r1 = len(exact & one) / len(exact)
    rm = len(exact & multi) / len(exact)
    assert rm >= r1  # probing neighbor buckets never hurts recall
    assert rm >= 0.5


def test_ivf_topk_fixed_exact_degenerate_and_self_recall(spark):
    corpus, _ = _vecs(spark, n=100, dim=16)
    queries = corpus.where("vec_id < 5").selectExpr("vec_id as query_id", "embedding")
    cents = corpus.where("vec_id < 8").selectExpr("vec_id as cent_id", "embedding")
    exact = sim.brute_force_topk_blocked(corpus, queries, k=5).collect()
    # nprobe == nlist probes every cell -> identical to brute force
    full = sim.ivf_topk_fixed(corpus, queries, cents, k=5, nprobe=8).collect()
    assert {(r.query_id, r.vec_id, r.rank) for r in full} == {
        (r.query_id, r.vec_id, r.rank) for r in exact
    }
    # narrow probe: a query's own cell is always probed (distance 0 to its
    # nearest centroid is minimal), so the query always finds itself
    approx = sim.ivf_topk_fixed(corpus, queries, cents, k=5, nprobe=2).collect()
    for qid in range(5):
        mine = [r.vec_id for r in approx if r.query_id == qid]
        assert qid in mine


def test_kmeans_lloyd_det_trains_and_serves(spark):
    """q51's deterministic Lloyd trainer: iterating must not lose vectors
    (every corpus row lands in exactly one cell), centroids stay
    nlist-or-fewer with the corpus dimensionality, and the trained
    quantizer behind ivf_topk_fixed with nprobe == surviving cells is
    EXACTLY brute force (the recall knob degenerates, same as the fixed
    quantizer)."""
    corpus, _ = _vecs(spark, n=100, dim=16)
    init = corpus.where("vec_id < 6").selectExpr("vec_id as cent_id", "embedding")
    cents = sim.kmeans_lloyd_det(corpus, init, iters=2)
    got = cents.collect()
    assert 1 <= len(got) <= 6
    assert all(len(r.embedding) == 16 for r in got)
    queries = corpus.where("vec_id < 5").selectExpr("vec_id as query_id", "embedding")
    exact = sim.brute_force_topk_blocked(corpus, queries, k=5).collect()
    full = sim.ivf_topk_fixed(
        corpus, queries, cents, k=5, nprobe=len(got)
    ).collect()
    assert {(r.query_id, r.vec_id, r.rank) for r in full} == {
        (r.query_id, r.vec_id, r.rank) for r in exact
    }


def test_quantized_embeddings_preserve_topk_recall(spark, sf_dir):
    """q109's int8-range quantization must keep ANN useful: top-5 neighbors
    computed on DEQUANTIZED vectors overlap the exact top-5 heavily (the
    documented recall trade of 4x compression)."""
    from pyspark.sql import functions as F

    from soict20221_bigdata_financialplatform_spark.operators.similarity import (
        brute_force_topk_blocked,
        quantize_embeddings,
    )
    from soict20221_bigdata_financialplatform_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    # proper affine dequantization: x_hat_i = mn_i + q_i/255 * (mx_i - mn_i)
    stats = (
        emb.select(F.posexplode("embedding").alias("pos", "x"))
        .groupBy("pos")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
        .orderBy("pos")
        .collect()
    )
    mins = F.array(*[F.lit(r.mn) for r in stats])
    spans = F.array(*[F.lit(r.mx - r.mn) for r in stats])
    # the operator behind q109 (the registry query posexplodes its array to
    # driver-hasher-safe (vec_id, pos, q) rows; the recall property lives in
    # the array form)
    deq = quantize_embeddings(
        emb.withColumnRenamed("embedding", "emb"), "emb", "qvec"
    ).select(
        "vec_id",
        F.transform(
            "qvec",
            lambda q, i: F.element_at(mins, i + 1)
            + q.cast("double") / 255.0 * F.element_at(spans, i + 1),
        ).alias("embedding"),
    )
    queries = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    dq_queries = deq.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = brute_force_topk_blocked(emb, queries, k=5)
    approx = brute_force_topk_blocked(deq, dq_queries, k=5)
    ex = {(r.query_id, r.vec_id) for r in exact.collect()}
    ap = {(r.query_id, r.vec_id) for r in approx.collect()}
    recall = len(ex & ap) / len(ex)
    assert recall >= 0.8, f"quantized recall {recall}"


def test_ann_recall_floors_vs_bruteforce(spark, sf_dir):
    """Recall floors for every approximate ANN query vs q34 brute force —
    pinned so an optimization round can't silently trade recall away.

    The testdata embeddings are RANDOM vectors (worst case for LSH: no
    cluster structure), so the floors are the theory-level values, not
    90%+: sign-LSH bucket-collision probability at cosine c is
    (1 − arccos(c)/π)^planes — for q64 (4 planes, c≈0.35) that is ≈0.14,
    and the measured 0.15–0.17 matches. q72/q51 (IVF) probe 3 of ≤8 cells
    and sit near 1.0. Floors hold at sf0.001 AND sf0.1 (both measured)."""
    from soict20221_bigdata_financialplatform_spark.queries import QUERIES

    def topk(name):
        d: dict = {}
        for r in QUERIES[name](spark, sf_dir).collect():
            d.setdefault(r.query_id, set()).add(r.vec_id)
        return d

    exact = topk("q34_ann_bruteforce")

    # q35 sign-LSH, same 8-query set, recall@10
    lsh = topk("q35_ann_lsh")
    rec35 = [len(lsh.get(q, set()) & ex) / len(ex) for q, ex in exact.items()]
    assert sum(rec35) / len(rec35) >= 0.2, f"q35 mean recall {rec35}"
    assert min(rec35) >= 0.1, f"q35 per-query recall {rec35}"

    # q72 (fixed IVF, top-5) and q51 (Lloyd-trained IVF, top-10): their
    # result sets must sit almost entirely inside the exact top-10
    for name, floor in (("q72_ann_ivf_det", 0.9), ("q51_ann_ivf", 0.85)):
        approx = topk(name)
        recs = [
            len(mine & exact[q]) / len(mine) for q, mine in approx.items()
        ]
        assert sum(recs) / len(recs) >= floor, f"{name} recall {recs}"

    # q64 near-dup pairs vs q36 exact all-pairs: always a SUBSET (LSH
    # verifies candidates with exact cosine), recall >= the 4-plane
    # collision bound at the 0.35 threshold
    e36 = {(r.id_a, r.id_b)
           for r in QUERIES["q36_embedding_near_dup"](spark, sf_dir).collect()}
    e64 = {(r.id_a, r.id_b)
           for r in QUERIES["q64_embedding_near_dup_lsh"](spark, sf_dir).collect()}
    assert e64 <= e36
    pair_recall = len(e64 & e36) / max(1, len(e36))
    assert pair_recall >= 0.1, f"q64 pair recall {pair_recall}"


def test_semdedup_keep_min_id_survivor(spark):
    """Identical vectors land in one cell; only the lowest id keeps. A
    threshold above every cosine keeps everything."""
    from soict20221_bigdata_financialplatform_spark.operators import similarity as sim

    rows = [
        Row(vec_id=0, embedding=[1.0, 0.0, 0.0]),
        Row(vec_id=1, embedding=[1.0, 0.0, 0.0]),   # dup of 0
        Row(vec_id=2, embedding=[0.99, 0.01, 0.0]),  # near-dup of 0
        Row(vec_id=3, embedding=[0.0, 1.0, 0.0]),    # distinct direction
        Row(vec_id=4, embedding=[0.0, 0.0, 1.0]),    # distinct direction
    ]
    corpus = spark.createDataFrame(rows)
    init = corpus.where("vec_id IN (0, 3, 4)").selectExpr(
        "vec_id AS cent_id", "embedding"
    )
    cents = sim.kmeans_lloyd_det(corpus, init, iters=2, id_col="vec_id")
    out = {r.vec_id: r.keep for r in sim.semdedup_keep(
        corpus, cents, threshold=0.95).collect()}
    assert out == {0: True, 1: False, 2: False, 3: True, 4: True}
    all_keep = {r.vec_id: r.keep for r in sim.semdedup_keep(
        corpus, cents, threshold=1.1).collect()}
    assert all(all_keep.values())


def test_semdedup_cell_cap_split_is_invisible(spark):
    """r15 cell-size cap (r14 VERDICT task 5): forcing a hot cell through
    the hash-chunk pair-block split (cell_cap far below the cell size, so
    m > 1 and every chunk pair becomes its own task) must yield the keep
    set of the uncapped run bit-for-bit — every within-cell pair is
    examined in exactly one task and the per-pair cosine is pair-private.
    Mix of exact dups, near-dups and sign-flipped vectors exercises both
    prune and keep paths across chunk boundaries; a second cluster pins
    cross-cell independence."""
    import math
    import random

    from soict20221_bigdata_financialplatform_spark.operators import similarity as sim

    rng = random.Random(7)
    rows = []
    # hot cluster around e1: 40 vectors, many mutual near-dups
    for i in range(40):
        eps = rng.uniform(-0.05, 0.05)
        v = [1.0, eps, rng.uniform(-0.02, 0.02)]
        n = math.sqrt(sum(x * x for x in v))
        rows.append(Row(vec_id=i, embedding=[x / n for x in v]))
    # small far cluster around e2
    for i in range(40, 46):
        eps = rng.uniform(-0.05, 0.05)
        v = [eps, 1.0, 0.0]
        n = math.sqrt(sum(x * x for x in v))
        rows.append(Row(vec_id=i, embedding=[x / n for x in v]))
    corpus = spark.createDataFrame(rows)
    init = corpus.where("vec_id IN (0, 40)").selectExpr(
        "vec_id AS cent_id", "embedding"
    )
    cents = sim.kmeans_lloyd_det(corpus, init, iters=2, id_col="vec_id")
    uncapped = {r.vec_id: r.keep for r in sim.semdedup_keep(
        corpus, cents, threshold=0.999, cell_cap=4096).collect()}
    capped = {r.vec_id: r.keep for r in sim.semdedup_keep(
        corpus, cents, threshold=0.999, cell_cap=7).collect()}
    assert capped == uncapped
    # the threshold actually bites (some pruned, some kept) or the pin
    # proves nothing
    assert any(uncapped.values()) and not all(uncapped.values())


def test_pq_adc_retrieves_own_cluster(spark):
    """Three well-separated clusters in 8-dim space (m=2 subspaces): a query
    sitting on a cluster retrieves that cluster's members ahead of the
    others, and its own vector ranks first (ADC distance = pure
    quantization error, minimal for the query itself)."""
    from soict20221_bigdata_financialplatform_spark.operators import similarity as sim

    def vec(base, eps):
        return [base + eps * (i % 3) for i in range(8)]

    # ids interleave clusters (cluster = id % 3) so the deterministic seeds
    # (vec_id < ksub) land one per cluster
    rows = []
    for cid, base in enumerate([0.0, 10.0, 20.0]):
        for j in range(4):
            rows.append(Row(vec_id=cid + 3 * j, embedding=vec(base, 0.01 * j)))
    corpus = spark.createDataFrame(rows)
    queries = corpus.where("vec_id IN (0, 1, 2)").selectExpr(
        "vec_id AS query_id", "embedding"
    )
    out = sim.pq_topk_det(
        corpus, queries, dim=8, m=2, ksub=3, iters=2, k=4
    ).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    for qid, cluster in [(0, {0, 3, 6, 9}), (1, {1, 4, 7, 10}), (2, {2, 5, 8, 11})]:
        got = {r.vec_id for r in by_q[qid]}
        assert got == cluster, (qid, got)
        top = min(by_q[qid], key=lambda r: r.rank)
        assert top.vec_id == qid


def test_ivfpq_full_probe_equals_flat_pq(spark):
    """With nprobe == nlist every cell is probed, so IVF-PQ degenerates to
    flat PQ exactly — same codes, same ADC distances, same ranking (the
    q51 nprobe==nlist ≡ brute-force precedent, one level up)."""
    from soict20221_bigdata_financialplatform_spark.operators import similarity as sim

    def vec(base, eps):
        return [base + eps * (i % 3) for i in range(8)]

    rows = []
    for cid, base in enumerate([0.0, 10.0, 20.0]):
        for j in range(4):
            rows.append(Row(vec_id=cid + 3 * j, embedding=vec(base, 0.01 * j)))
    corpus = spark.createDataFrame(rows)
    queries = corpus.where("vec_id IN (0, 1, 2)").selectExpr(
        "vec_id AS query_id", "embedding"
    )
    flat = sim.pq_topk_det(corpus, queries, dim=8, m=2, ksub=3, iters=2, k=4)
    ivf = sim.ivfpq_topk_det(
        corpus, queries, dim=8, m=2, ksub=3, nlist=3, nprobe=3, iters=2, k=4
    )
    a = sorted(map(tuple, flat.collect()))
    b = sorted(map(tuple, ivf.collect()))
    assert a == b


def test_ann_family_recall_table_sf01(spark):
    """End-to-end recall@10 report for the WHOLE ANN family vs q34 brute
    force at sf0.1 on the real testdata embeddings — the single table a
    tuning round reads (r4 VERDICT item 6). Metric: |approx ∩ exact@10| /
    |approx| per query (normalizes q72's k=5), averaged over each method's
    query set.

    The embeddings are RANDOM vectors — the worst case for every
    approximate method (no cluster structure, max pairwise cos ≈ 0.5), so
    the floors are theory-level, not 90%+: sign-LSH collision at 6 planes,
    4x4 PQ codebooks quantizing isotropic noise. Every pipeline is
    deterministic (seeded planes, deterministic Lloyd), so the measured
    values are exact and the floors sit just under them: a parameter change
    that trades recall away trips the floor; an improvement only raises the
    measured value. Measured at r5: q35 0.300, q72 1.000, q131 0.200,
    q133 0.250."""
    from soict20221_bigdata_financialplatform_spark.queries import QUERIES

    sf01 = "/root/testdata/sf0.1"

    def topk(name):
        d: dict = {}
        for r in QUERIES[name](spark, sf01).collect():
            d.setdefault(r.query_id, set()).add(r.vec_id)
        return d

    exact = topk("q34_ann_bruteforce")
    floors = {
        "q35_ann_lsh": 0.25,      # 6-plane sign-LSH, multiprobe 1
        "q72_ann_ivf_det": 0.95,  # IVF nprobe=3/8 cells, k=5 all in exact@10
        "q131_pq_adc": 0.15,      # 4x16-dim subspaces, 4 centroids each
        "q133_ivfpq": 0.20,       # coarse prune + ADC rescore
    }
    table = []
    for name, floor in floors.items():
        approx = topk(name)
        recs = [len(mine & exact[q]) / len(mine) for q, mine in approx.items()]
        mean = sum(recs) / len(recs)
        table.append((name, mean, min(recs), floor))
    print("\nANN family recall@10 vs brute force (sf0.1, random embeddings):")
    for name, mean, lo, floor in table:
        print(f"  {name:18s} mean={mean:.3f} min={lo:.3f} floor={floor:.2f}")
    for name, mean, lo, floor in table:
        assert mean >= floor, f"{name} mean recall {mean:.3f} < floor {floor}"


def test_longest_common_run_exact_span_lengths(spark):
    """Planted spans: the operator reports EXACTLY the longest shared token
    run (Lee et al. ExactSubstr semantics), ignores pairs below min_run,
    and a repeated span inside one doc doesn't inflate the pair's run."""
    span = " ".join(f"w{i}" for i in range(12))  # 12-token verbatim span
    rows = [
        Row(doc_id=0, text="alpha beta " + span + " gamma delta"),
        Row(doc_id=1, text="x1 x2 x3 " + span + " y1 y2"),          # shares 12
        Row(doc_id=2, text="p q r s t u v w unrelated tokens here"),
        Row(doc_id=3, text=span + " tail " + span),                  # twice
    ]
    out = {
        (r.id_a, r.id_b): r.longest_common_tokens
        for r in dd.longest_common_run_pairs(
            spark.createDataFrame(rows), gram=5, min_run=10
        ).collect()
    }
    assert out[(0, 1)] == 12
    assert out[(0, 3)] == 12  # repeat in doc 3 doesn't extend the run
    assert out[(1, 3)] == 12
    assert not any(2 in pair for pair in out)  # no >=10-token span with doc 2


def test_longest_common_run_gram_df_cap_drops_boilerplate(spark):
    """max_gram_df: a boilerplate span shared by EVERY doc exceeds the df
    cap and stops generating candidate pairs (the hot-bucket guard), while
    rarer spans still pair up."""
    boiler = " ".join(f"b{i}" for i in range(10))
    rare = " ".join(f"r{i}" for i in range(10))
    rows = [Row(doc_id=i, text=boiler + f" filler{i}") for i in range(6)]
    rows += [
        Row(doc_id=10, text="u1 u2 " + rare),
        Row(doc_id=11, text="v1 v2 v3 " + rare),
    ]
    df = spark.createDataFrame(rows)
    capped = {
        (r.id_a, r.id_b)
        for r in dd.longest_common_run_pairs(
            df, gram=5, min_run=10, max_gram_df=3
        ).collect()
    }
    assert capped == {(10, 11)}  # boilerplate pairs gone, rare span kept
    uncapped = {
        (r.id_a, r.id_b)
        for r in dd.longest_common_run_pairs(df, gram=5, min_run=10).collect()
    }
    assert len(uncapped) == 15 + 1  # C(6,2) boilerplate pairs + the rare pair


def test_assign_cells_matches_semdedup_assignment_and_tiebreak(spark):
    """assign_cells is the shared read-side argmin: identical cells to what
    semdedup_keep computes internally, and equidistant vectors break the
    tie toward the LOWER centroid id (the oracle's ORDER BY d, cid)."""
    rows = [
        Row(vec_id=0, embedding=[1.0, 1.0]),
        Row(vec_id=1, embedding=[11.0, 1.0]),
        Row(vec_id=2, embedding=[2.0, 1.0]),   # near centroid A
        Row(vec_id=3, embedding=[10.0, 1.0]),  # near centroid B
        Row(vec_id=4, embedding=[6.0, 1.0]),   # EXACTLY between -> lower cid
    ]
    corpus = spark.createDataFrame(rows)
    cents = corpus.where("vec_id IN (0, 1)").selectExpr(
        "vec_id AS cent_id", "embedding"
    )
    cells = {r.vec_id: r.cell for r in sim.assign_cells(corpus, cents).collect()}
    assert cells == {0: 0, 1: 1, 2: 0, 3: 1, 4: 0}
    via_semdedup = {
        r.vec_id: r.cell
        for r in sim.semdedup_keep(corpus, cents, threshold=1.1).collect()
    }
    assert cells == via_semdedup


def test_longest_common_run_matches_bruteforce_lcs(spark):
    """Equivalence against a brute-force longest-common-token-substring on a
    seeded random corpus with planted overlaps: for every pair the operator
    reports exactly the brute-force LCS length when >= min_run, and no pair
    below min_run leaks through."""
    import random

    rng = random.Random(7)
    vocab = [f"t{i}" for i in range(30)]  # small vocab -> accidental repeats
    docs = [[rng.choice(vocab) for _ in range(40)] for _ in range(10)]
    # plant a long overlap: doc1 carries a slice of doc0, doc3 of doc2
    docs[1][5:20] = docs[0][10:25]
    docs[3][0:11] = docs[2][20:31]
    rows = [Row(doc_id=i, text=" ".join(d)) for i, d in enumerate(docs)]

    def lcs_tokens(a, b):
        best = 0
        prev = [0] * (len(b) + 1)
        for x in a:
            cur = [0] * (len(b) + 1)
            for j, y in enumerate(b, 1):
                if x == y:
                    cur[j] = prev[j - 1] + 1
                    best = max(best, cur[j])
            prev = cur
        return best

    min_run = 8
    expect = {}
    for i in range(len(docs)):
        for j in range(i + 1, len(docs)):
            n = lcs_tokens(docs[i], docs[j])
            if n >= min_run:
                expect[(i, j)] = n

    got = {
        (r.id_a, r.id_b): r.longest_common_tokens
        for r in dd.longest_common_run_pairs(
            spark.createDataFrame(rows), gram=5, min_run=min_run
        ).collect()
    }
    assert got == expect
    assert (0, 1) in got and got[(0, 1)] >= 15
    assert (2, 3) in got and got[(2, 3)] >= 11


def test_simhash_hot_bucket_cap(spark):
    """max_bucket_size drops a chunk bucket shared by the whole (boilerplate)
    corpus — the O(n²) guard the r5 scale smoke showed simhash needs even
    more than minhash (similar token DISTRIBUTIONS collapse SimHash values
    even without shared n-grams). Identical docs still pair through their
    other three chunks; with the cap disabled the full pair set returns."""
    boiler = " ".join(f"b{i}" for i in range(40))
    rows = [Row(doc_id=i, text=boiler) for i in range(8)]  # identical docs
    df = spark.createDataFrame(rows)
    full = {(r.id_a, r.id_b)
            for r in dd.simhash_near_dup_pairs(df, max_hamming=6).collect()}
    assert len(full) == 28  # C(8,2): identical docs, hamming 0
    # cap of 7 kills all four chunk buckets (every one holds all 8 docs):
    # the boilerplate cluster itself is what the cap refuses to pair
    # quadratically
    capped = {(r.id_a, r.id_b)
              for r in dd.simhash_near_dup_pairs(
                  df, max_hamming=6, max_bucket_size=7).collect()}
    assert capped == set()
    # a rare pair (distinct text, hamming 0 via identical tokens) survives
    rare = [Row(doc_id=100, text="unique alpha beta gamma delta " * 4),
            Row(doc_id=101, text="unique alpha beta gamma delta " * 4)]
    mixed = spark.createDataFrame(rows + rare)
    got = {(r.id_a, r.id_b)
           for r in dd.simhash_near_dup_pairs(
               mixed, max_hamming=6, max_bucket_size=7).collect()}
    assert (100, 101) in got
