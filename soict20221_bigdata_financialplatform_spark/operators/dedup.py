"""Deduplication operators for large-scale text corpora (driver brief: exact,
MinHash+LSH, SimHash, n-gram Jaccard) — all native Catalyst expressions, no
Python UDFs, so every stage is JVM-side and shuffle-minimal.

Scale design:
- exact: one hash aggregation on a 128-bit digest — never groups by the full
  text (at 100 TB the digest is the shuffle key, not the document).
- MinHash+LSH: per-doc signature is computed in a single projection (k
  xxhash64 min-reductions over the shingle array — higher-order functions, no
  explode); only the b band keys are exploded (b rows/doc, not #shingles
  rows/doc); candidate generation is a self-join on (band, band_key); exact
  Jaccard verification only touches candidate pairs.
- SimHash: explode-to-tokens → one grouped agg with 64 conditional sums →
  16-bit band join (pigeonhole: hamming ≤ 3 ⇒ some 16-bit quarter equal) →
  ``bit_count(xor)`` verify.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Shared text → shingle plumbing
# ---------------------------------------------------------------------------


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization of lowercased text."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.trim(F.lower(c)), r"\s+")


def word_shingles(col: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles as an array<string> (space-joined)."""
    toks = tokens(col)
    idx = F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(1)))
    grams = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))
    return F.array_distinct(grams)


def shingle_hashes(col: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles as an array<bigint> of hashes.

    Equivalent role to ``transform(word_shingles(...), xxhash64)`` up to
    64-bit collisions (negligible), but much cheaper: each token string is
    hashed ONCE, then consecutive token hashes are folded pairwise with
    ``zip_with`` over n−1 shifted views of the hash array — no per-shingle
    string concatenation, no per-element array indexing (measured ~7× faster
    than an element_at formulation). Docs shorter than n tokens yield one
    shingle padded with nulls (deterministic)."""
    toks = tokens(col)
    th = F.transform(toks, lambda t: F.xxhash64(t))
    length = F.greatest(F.size(th) - (n - 1), F.lit(1))
    grams = F.slice(th, 1, length)
    for j in range(1, n):
        grams = F.zip_with(
            grams, F.slice(th, 1 + j, length), lambda x, y: F.xxhash64(x, y)
        )
    return F.array_distinct(grams)


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact duplicate grouping by content digest: returns one row per
    distinct text with the minimum id as the canonical survivor and the
    duplicate count.

    groupBy(md5(text)) — the digest (not the document) is the shuffle key;
    partial aggregation runs map-side, so the shuffle carries one row per
    distinct digest per map partition.
    """
    return (
        df.select(F.md5(F.col(text_col)).alias("digest"), F.col(id_col))
        .groupBy("digest")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).cast("long").alias("n_copies"),
        )
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def _signature_expr(col: str, num_hashes: int) -> Column:
    """MinHash signature of the hashed-shingle array ``col``: element i is
    min over its hashes x of xxhash64(i, x). Built as ONE parsed SQL
    expression: the same tree as k Column-API ``transform`` lambdas, so the
    hashes are bit-identical, at one py4j call instead of thousands."""
    fams = ", ".join(
        f"array_min(transform(`{col}`, x -> xxhash64({i}, x)))"
        for i in range(num_hashes)
    )
    return F.expr(f"array({fams})")


def _bands_expr(num_hashes: int, bands: int) -> Column:
    """LSH band keys of the ``signature`` column: key b hashes the band
    index with its r = num_hashes/bands consecutive signature rows."""
    assert num_hashes % bands == 0
    r = num_hashes // bands
    keys = ", ".join(
        f"xxhash64({b}, " + ", ".join(f"signature[{b * r + j}]" for j in range(r)) + ")"
        for b in range(bands)
    )
    return F.expr(f"array({keys})")


def minhash_signature(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, sig array<bigint>): sig[i] = min over shingles of xxhash64(i, s).

    Each shingle STRING is hashed exactly once (xxhash64 → long); the k
    families then re-hash the fixed-width long with the family index as seed
    column — k× cheaper than re-hashing variable-length text per family,
    identical independence properties. All inside one Project over the
    shingle array (higher-order functions, no explode)."""
    return df.select(
        F.col(id_col), shingle_hashes(text_col, shingle_n).alias("__h")
    ).select(F.col(id_col), _signature_expr("__h", num_hashes).alias("signature"))


def minhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.8,
    max_bucket_size: int | str | None = None,
    hot_bucket_salt: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, jaccard >= threshold).

    LSH: split the signature into ``bands`` bands of r=num_hashes/bands rows,
    hash each band, self-join on (band, key) → candidates; verify candidates
    with exact shingle-set Jaccard (array_intersect/array_union on only the
    candidate pairs).

    ``max_bucket_size`` (OPT-IN, default None — no silent recall caps) caps
    a band bucket's posting list: a boilerplate bucket with 10⁶ docs would
    otherwise yield 10¹² candidate pairs from ONE reducer (the classic LSH
    blow-up). Oversized buckets are dropped — their members are
    near-identical boilerplate that the remaining 15 bands still pair up
    with overwhelming probability. Before choosing a cap, run
    ``minhash_hot_band_report`` at the intended (num_hashes, bands,
    shingle_n): every reported bucket above the cap is one the capped join
    will drop, so recall loss is measured, never silent. Pass ``"auto"``
    to run the ``suggest_minhash_cap`` work-budget pre-flight (cap bounds
    every kept bucket at ~500k candidate pairs; None on a healthy
    corpus).

    ``hot_bucket_salt``: buckets UNDER the cap can still be hot — one
    10⁴-doc bucket makes one reducer emit 10⁸ candidate pairs. Setting a
    salt decomposes each bucket's pair space into ~salt²/2 independent join
    cells (``skew.salted_self_pairs``) — EXACTLY the same candidate set
    (equivalence tested), quadratic work spread across the cluster."""
    if max_bucket_size == "auto":
        max_bucket_size = suggest_minhash_cap(
            df, text_col, id_col, num_hashes, bands, shingle_n
        )
    # CPU-bound per-row work: spread the corpus over all cores first (a
    # single small input file otherwise pins the whole hash pipeline to one
    # task; at cluster scale this is a cheap narrow-ish shuffle vs minutes of
    # skew).
    npart = df.sparkSession.sparkContext.defaultParallelism
    df = df.repartition(npart, id_col)

    # ONE persisted shingle-hash projection feeds BOTH the signature pipeline
    # and the exact-Jaccard verification — shingling is the most expensive
    # per-row step and would otherwise run twice.
    sh = df.select(
        F.col(id_col), shingle_hashes(text_col, shingle_n).alias("sh")
    ).persist()

    sigs = sh.select(F.col(id_col), _signature_expr("sh", num_hashes).alias("signature"))
    # Persist the banded signatures: both sides of the self-join (and nothing
    # else) read them — without this, each join branch re-runs the whole
    # shingle+hash pipeline over the corpus. Signatures are b longs per doc,
    # tiny relative to the corpus, so this is the canonical LSH materialize
    # point at any scale.
    banded = sigs.select(
        F.col(id_col), F.posexplode(_bands_expr(num_hashes, bands)).alias("band", "band_key")
    ).persist()
    if max_bucket_size is not None:
        wb = Window.partitionBy("band", "band_key")
        banded = (
            banded.withColumn("__bsz", F.count(F.lit(1)).over(wb))
            .where(F.col("__bsz") <= max_bucket_size)
            .drop("__bsz")
        )
    if hot_bucket_salt is not None:
        from soict20221_bigdata_financialplatform_spark.operators.skew import (
            salted_self_pairs,
        )

        cand = (
            salted_self_pairs(
                banded, ["band", "band_key"], id_col, salt=hot_bucket_salt
            )
            .select("id_a", "id_b")
            .distinct()
        )
    else:
        a = banded.alias("a")
        b = banded.alias("b")
        cand = (
            a.join(
                b,
                (F.col(f"a.band") == F.col("b.band"))
                & (F.col("a.band_key") == F.col("b.band_key"))
                & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
            )
            .select(
                F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
            )
            .distinct()
        )

    # Exact-Jaccard verification over the same HASHED shingles (arrays of
    # longs — array_intersect on fixed-width values, no string comparisons).
    out = (
        cand.join(sh.withColumnRenamed(id_col, "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed(id_col, "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b"))
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= jaccard_threshold)
    )
    return out


def suggest_minhash_cap(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    max_pairs_per_bucket: int = 500_000,
    min_cap: int = 64,
) -> int | None:
    """MinHash twin of ``suggest_simhash_cap`` — the per-reducer work
    budget from the ``minhash_hot_band_report``: the largest band-bucket
    size whose pair cost size²/2 stays under ``max_pairs_per_bucket``,
    or None when no bucket exceeds it (healthy corpus — no cap). Run at
    the exact (num_hashes, bands, shingle_n) the pair join will use."""
    import math

    cap = max(min_cap, math.isqrt(2 * max_pairs_per_bucket))
    rep = minhash_hot_band_report(
        df, text_col, id_col, num_hashes, bands, shingle_n, min_bucket_size=2
    )
    mx = rep.agg(F.max("bucket_size").alias("mx")).collect()[0].mx
    if mx is None or mx <= cap:
        return None
    return cap


def minhash_hot_band_report(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    min_bucket_size: int = 2,
) -> DataFrame:
    """Observability twin of ``minhash_near_dup_pairs(max_bucket_size=...)``
    — the minhash-band mirror of ``simhash_hot_chunk_report`` (r6 VERDICT
    symmetry item): per-(band, band_key) posting-list sizes, largest first.
    Run it at the (num_hashes, bands, shingle_n) you intend to pass — every
    returned row with ``bucket_size`` above a candidate cap is a bucket the
    capped join would drop, so recall loss is measured, never silent, and
    the square of the top sizes forecasts the per-reducer pair load
    (bucket_size² / 2 candidate pairs) for `hot_bucket_salt` sizing. One
    grouped count over the same banded posexplode the pair join uses; no
    pair blow-up anywhere."""
    npart = df.sparkSession.sparkContext.defaultParallelism
    sigs = minhash_signature(
        df.repartition(npart, id_col), text_col, id_col, num_hashes, shingle_n
    )
    return (
        sigs.select(F.posexplode(_bands_expr(num_hashes, bands)).alias("band", "band_key"))
        .groupBy("band", "band_key")
        .agg(F.count(F.lit(1)).alias("bucket_size"))
        .where(F.col("bucket_size") >= min_bucket_size)
        .orderBy(F.desc("bucket_size"), "band", "band_key")
    )


def minhash_md5_hot_band_report(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    min_bucket_size: int = 2,
) -> DataFrame:
    """``minhash_hot_band_report`` with the CROSS-ENGINE md5 hash family —
    identical signature/band expressions to ``minhash_md5_pairs``, so the
    sizes it reports are exactly the posting lists that pair join will
    walk (and a DuckDB oracle can rebuild every row — q230). Returns
    (band, band_key, bucket_size), largest first."""
    assert num_hashes % bands == 0
    r = num_hashes // bands
    npart = df.sparkSession.sparkContext.defaultParallelism
    sh = df.repartition(npart, id_col).select(
        F.col(id_col).alias("doc_id"),
        word_shingles(text_col, shingle_n).alias("sh"),
    )

    def _family(i: int):
        return lambda s: F.md5(F.concat(F.lit(f"{i}|"), s))

    sig = F.array(
        *[F.array_min(F.transform("sh", _family(i))) for i in range(num_hashes)]
    )
    band_arr = F.array(
        *[
            F.md5(
                F.concat_ws("|", *[F.col("sig")[b * r + j] for j in range(r)])
            )
            for b in range(bands)
        ]
    )
    return (
        sh.select(sig.alias("sig"))
        .select(F.posexplode(band_arr).alias("band", "band_key"))
        .groupBy(F.col("band").cast("long").alias("band"), "band_key")
        .agg(F.count(F.lit(1)).cast("long").alias("bucket_size"))
        .where(F.col("bucket_size") >= min_bucket_size)
        .orderBy(F.desc("bucket_size"), "band", "band_key")
    )


def minhash_md5_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """MinHash+LSH near-dup pairs with a CROSS-ENGINE-PORTABLE hash family:
    sig[i] = lexicographic min over shingle md5 hex strings prefixed with
    the family index — md5 hex is identical in every engine, so a DuckDB
    oracle can rebuild the exact signature/band/candidate set (working
    notes: xxhash64 has no DuckDB twin; this family trades ~3x hash cost
    for full oracle coverage — ``minhash_near_dup_pairs`` is the
    production-speed path with identical LSH structure).

    Same scale shape as the xxhash64 path: one persisted shingle
    projection feeds signatures AND verification; band keys are exploded
    to (band, key) rows and candidates come from an EQUI-join (an OR of
    band equalities would plan a BroadcastNestedLoopJoin — invariant 13);
    exact Jaccard runs on candidates only. Returns (id_a < id_b, jaccard).
    """
    assert num_hashes % bands == 0
    r = num_hashes // bands
    npart = df.sparkSession.sparkContext.defaultParallelism
    df = df.repartition(npart, id_col)
    sh = df.select(
        F.col(id_col).alias("doc_id"),
        word_shingles(text_col, shingle_n).alias("sh"),
    ).persist()

    def _family(i: int):
        return lambda s: F.md5(F.concat(F.lit(f"{i}|"), s))

    sig = F.array(
        *[F.array_min(F.transform("sh", _family(i))) for i in range(num_hashes)]
    )
    sigs = sh.select("doc_id", sig.alias("sig"))
    band_arr = F.array(
        *[
            F.md5(
                F.concat_ws("|", *[F.col("sig")[b * r + j] for j in range(r)])
            )
            for b in range(bands)
        ]
    )
    banded = sigs.select(
        "doc_id", F.posexplode(band_arr).alias("band", "key")
    ).persist()
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .distinct()
    )
    out = cand.join(
        sh.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a")),
        "id_a",
    ).join(
        sh.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b")),
        "id_b",
    )
    jac = F.size(F.array_intersect("sh_a", "sh_b")) / (
        F.size("sh_a")
        + F.size("sh_b")
        - F.size(F.array_intersect("sh_a", "sh_b"))
    )
    return out.select("id_a", "id_b", jac.alias("jaccard")).where(
        F.col("jaccard") >= jaccard_threshold
    )


def longest_common_run_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    gram: int = 5,
    min_run: int = 10,
    max_gram_df: int | None = None,
    gram_key: str = "raw",
) -> DataFrame:
    """Longest common token RUN per document pair — the ExactSubstr signal
    from "Deduplicating Training Data Makes Language Models Better" (Lee et
    al. 2022): two documents sharing a verbatim span of >= min_run tokens
    are near-certainly one source copied into another, a class that
    set-based Jaccard (q31) underweights when the shared span is a small
    fraction of a long document.

    ``gram_key`` selects the join key: ``"raw"`` joins on the gram text
    (what the DuckDB oracle can replay); ``"digest"`` joins on the 128-bit
    md5 of the gram — CONSTANT 32-byte shuffle width regardless of gram
    length, the cluster-scale form (collision probability ~ n²/2^129 is
    negligible at any corpus size; equivalence to the raw path is
    pytest-pinned).

    Relational form of the paper's suffix-array scan: explode each doc to
    (pos, gram)-grams, EQUI-join on the gram string (a.id < b.id), and on
    each match diagonal ``diag = pos_a − pos_b`` detect runs of consecutive
    ``pos_a`` with the islands trick (pos − row_number is constant within a
    run); a run of k consecutive matching g-grams on one diagonal is a
    common substring of exactly k + g − 1 tokens. Exact for every common
    substring >= gram tokens — no sampling, no hashing collisions (the join
    key is the raw gram; swap in a 128-bit digest at cluster scale if
    shuffle width matters).

    Scale: the join is the inverted-index shape (quadratic only within one
    gram's posting list) and boilerplate grams are the hot-bucket risk —
    ``max_gram_df`` drops grams appearing in more than that many documents
    (their pairs still surface through the span's rarer grams unless the
    ENTIRE span is boilerplate, which is exactly the content a dedup
    pipeline wants ranked down); islands are per-(pair, diagonal) windows,
    thousands of tiny hash-partitioned groups. Returns
    (id_a, id_b, longest_common_tokens >= min_run)."""
    assert min_run >= gram
    assert gram_key in ("raw", "digest")
    npart = df.sparkSession.sparkContext.defaultParallelism
    toks = df.repartition(npart, id_col).select(
        F.col(id_col).alias("id"),
        F.split(F.trim(F.col(text_col)), r"\s+").alias("t"),
    )
    g = (
        toks.where(F.size("t") >= gram)
        .select(
            "id",
            F.explode(
                F.sequence(F.lit(1), F.size("t") - (gram - 1))
            ).alias("pos"),
            "t",
        )
        .select(
            "id",
            "pos",
            F.array_join(F.slice("t", F.col("pos"), gram), " ").alias("g"),
        )
    )
    if max_gram_df is not None:
        # hot-gram set first (one agg — never a per-row collect_set window,
        # which would materialize the posting list on exactly the rows we
        # are trying to drop), then anti-join it away. Usually tiny (only
        # grams above the cap) — AQE broadcasts it when it is; no explicit
        # hint because a boilerplate-heavy corpus can make it wide.
        hot = (
            g.groupBy("g")
            .agg(F.count_distinct("id").alias("__df"))
            .where(F.col("__df") > max_gram_df)
            .select("g")
        )
        g = g.join(hot, "g", "left_anti")
    if gram_key == "digest":
        g = g.select("id", "pos", F.md5("g").alias("g"))
    a = g.select(F.col("id").alias("id_a"), F.col("pos").alias("pa"), "g")
    b = g.select(F.col("id").alias("id_b"), F.col("pos").alias("pb"), "g")
    m = a.join(b, "g").where(F.col("id_a") < F.col("id_b")).select(
        "id_a", "id_b", "pa", (F.col("pa") - F.col("pb")).alias("diag")
    )
    w_isl = Window.partitionBy("id_a", "id_b", "diag").orderBy("pa")
    runs = (
        m.withColumn("isl", F.col("pa") - F.row_number().over(w_isl))
        .groupBy("id_a", "id_b", "diag", "isl")
        .agg((F.count(F.lit(1)) + (gram - 1)).alias("run_len"))
    )
    return (
        runs.groupBy("id_a", "id_b")
        .agg(F.max("run_len").alias("longest_common_tokens"))
        .where(F.col("longest_common_tokens") >= min_run)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact all-pairs n-gram Jaccard above a threshold.

    Candidate pruning uses the inverted-index trick rather than a cross join:
    explode shingles, self-join on the shingle, count shared shingles per
    pair, then compute |A∩B|/(|A|+|B|−|A∩B|). Quadratic only within a
    shingle's posting list — at corpus scale combine with LSH
    (``minhash_near_dup_pairs``) instead."""
    # r14 (invariant 8 / guide §2.5-input-skew): the shingle projection —
    # regex split + n-gram assembly + explode — is the CPU-heavy single-pass
    # fan-out stage of this operator, and on a single-file scan it ran as
    # ONE task. Round-robin repartition first so it parallelizes; the
    # count is session-derived (scale-adaptive), not a local constant.
    npart = max(2, df.sparkSession.sparkContext.defaultParallelism)
    sh = df.select(id_col, text_col).repartition(npart).select(
        F.col(id_col).alias("id"),
        F.explode(word_shingles(text_col, shingle_n)).alias("s"),
    ).persist()  # read by both self-join branches + the size agg
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    out = (
        inter.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("common")
                / (F.col("sz_a") + F.col("sz_b") - F.col("common"))
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )
    return out


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """64-bit SimHash per document: sign of the per-bit sum of token hashes.

    explode → xxhash64(token) → one grouped aggregation with 64 conditional
    sums → bits reassembled into one BIGINT. The agg is partial+final (map-
    side combine), so the shuffle carries 64 longs per doc per map partition.
    """
    tok = df.select(
        F.col(id_col), F.explode(tokens(text_col)).alias("tok")
    ).where(F.col("tok") != "")
    hashed = tok.select(F.col(id_col), F.xxhash64("tok").alias("h"))
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(64)
    ]
    agg = hashed.groupBy(id_col).agg(*bit_sums)
    sim = None
    for i in range(64):
        bit = F.when(F.col(f"b{i}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, i)
        sim = term if sim is None else sim.bitwiseXOR(term)
    return agg.select(F.col(id_col), sim.alias("simhash"))


def suggest_simhash_cap(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_pairs_per_bucket: int = 500_000,
    min_cap: int = 64,
) -> int | None:
    """Pre-flight cap suggestion for ``simhash_near_dup_pairs``'s
    hot-bucket guard (the r6 SCALE.md work item: simhash banding went
    α=1.55 on a homogeneous corpus because chunk posting lists grow with
    corpus size). The cap is a per-reducer WORK BUDGET: the largest
    bucket size whose pair cost size²/2 stays under
    ``max_pairs_per_bucket`` — i.e. no bucket the capped join keeps may
    cost more than that many candidate evaluations. (A "shed X% of
    total work" knee is the wrong shape here: on a homogeneous corpus
    MOST buckets are hot, so a fractional trim leaves the join
    near-quadratic — measured the hard way in r7.) Runs the
    ``simhash_hot_chunk_report`` once (one grouped count, one tiny
    max-aggregate collect) and returns None when no bucket exceeds the
    budgeted cap — a healthy corpus gets NO cap, so a pipeline can pass
    the result straight through as ``max_bucket_size``."""
    import math

    cap = max(min_cap, math.isqrt(2 * max_pairs_per_bucket))
    rep = simhash_hot_chunk_report(df, text_col, id_col, min_bucket_size=2)
    mx = rep.agg(F.max("bucket_size").alias("mx")).collect()[0].mx
    if mx is None or mx <= cap:
        return None
    return cap


def simhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    max_bucket_size: int | str | None = None,
) -> DataFrame:
    """Pairs with hamming(simhash_a, simhash_b) <= max_hamming.

    Pigeonhole banding: with 4 16-bit chunks, any pair within hamming 3 shares
    at least one exact chunk → join per chunk, union, verify with
    bit_count(a XOR b).

    ``max_bucket_size`` is the same hot-bucket guard as the MinHash path
    (and it matters MORE here): on a boilerplate-heavy corpus every
    document's token distribution looks alike, SimHash values cluster, and
    one 16-bit chunk bucket can hold most of the corpus — the chunk join
    then goes O(n²) (the r5 scale smoke measured exactly this blow-up on a
    zipf-uniform synthetic corpus before the cap existed). Oversized
    buckets are dropped; their members still pair through their other 3
    chunks unless they agree on ALL hot chunks — i.e. unless they are the
    boilerplate itself. The cap is OPT-IN (default None = exact result, no
    silent recall loss); pass e.g. 10_000 at cluster scale, pass ``"auto"``
    to run the ``suggest_simhash_cap`` pre-flight (one cheap grouped-count
    job; cap = the per-reducer work budget — no kept bucket may cost more
    than ~500k candidate pairs — or no cap at all on a healthy corpus),
    and pair any cap with ``simhash_hot_chunk_report`` to make the dropped
    buckets observable."""
    if max_bucket_size == "auto":
        max_bucket_size = suggest_simhash_cap(df, text_col, id_col)
    sigs = simhash(df, text_col, id_col)
    chunks = sigs.select(
        F.col(id_col),
        F.col("simhash"),
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("simhash"), 16 * q)
                    .bitwiseAND(F.lit(0xFFFF))
                    .alias(f"c{q}")
                    for q in range(4)
                ]
            )
        ).alias("chunk_idx", "chunk"),
    ).persist()  # 64-sum simhash agg runs once, not once per join branch
    if max_bucket_size is not None:
        wb = Window.partitionBy("chunk_idx", "chunk")
        chunks = (
            chunks.withColumn("__bsz", F.count(F.lit(1)).over(wb))
            .where(F.col("__bsz") <= max_bucket_size)
            .drop("__bsz")
        )
    a, b = chunks.alias("a"), chunks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.simhash").alias("sim_a"),
            F.col("b.simhash").alias("sim_b"),
        )
        .distinct()
    )
    return cand.select(
        "id_a",
        "id_b",
        F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))).alias("hamming"),
    ).where(F.col("hamming") <= max_hamming)


def simhash_hot_chunk_report(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_bucket_size: int = 2,
) -> DataFrame:
    """Observability twin of ``simhash_near_dup_pairs(max_bucket_size=...)``:
    per-(chunk_idx, chunk) posting-list sizes, largest first. Run this at the
    cap value you intend to pass — every returned row with ``bucket_size``
    above the cap is a bucket the capped join will drop, so recall loss is
    measured, never silent (CLAUDE.md 'no silent caps'). One grouped count
    over the same 4-chunk posexplode the pair join uses; no pair blow-up."""
    sigs = simhash(df, text_col, id_col)
    chunks = sigs.select(
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("simhash"), 16 * q).bitwiseAND(F.lit(0xFFFF))
                    for q in range(4)
                ]
            )
        ).alias("chunk_idx", "chunk")
    )
    return (
        chunks.groupBy("chunk_idx", "chunk")
        .agg(F.count(F.lit(1)).alias("bucket_size"))
        .where(F.col("bucket_size") >= min_bucket_size)
        .orderBy(F.desc("bucket_size"), "chunk_idx", "chunk")
    )
