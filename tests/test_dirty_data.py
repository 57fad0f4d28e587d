"""Dirty-data hardening: NULL/empty inputs must not kill distributed jobs.

The parity gate can never catch this class — the driver testdata carries no
NULLs (the r10 ADVICE observation that motivated the Gram-pass NULL guard).
At 100 TB a single dirty row that throws inside a stage kills the whole job,
so every library entry point a pipeline feeds raw data into is pinned here:
either it processes dirty rows with sane semantics or it excludes them, but
it never crashes, and excluding them never changes the clean rows' results.

(The one deliberate exception stays: ``ema_segmented`` documents that NULL
values RAISE, because pandas ewm renormalizes decay across NaN gaps and
would silently break the seed-chain algebra — densify first.)
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from soict20221_bigdata_financialplatform_spark.functions import indicators as ind
from soict20221_bigdata_financialplatform_spark.functions import text as tx
from soict20221_bigdata_financialplatform_spark.operators import (
    asof,
    components,
    corpus,
    dedup,
    multimodal as mm,
    similarity as sim,
)

DOC_SCHEMA = "doc_id long, text string"
EMB_SCHEMA = "vec_id long, embedding array<float>"


@pytest.fixture()
def dirty_docs(spark):
    return spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again today"),
            (2, "the quick brown fox jumps over the lazy dog again and again today"),
            (3, None),
            (4, ""),
            (5, "   "),
            (6, "completely different text about financial markets and volume"),
        ],
        DOC_SCHEMA,
    )


@pytest.fixture()
def emb_frames(spark):
    clean = spark.createDataFrame(
        [(i, [float((i * 7 + j) % 10) / 10.0 for j in range(4)])
         for i in range(20)],
        EMB_SCHEMA,
    )
    dirty = clean.unionByName(
        spark.createDataFrame([(99, None), (98, None)], EMB_SCHEMA)
    )
    return clean, dirty


def test_exact_dedup_null_and_empty_text(dirty_docs):
    """NULL text is not a dup of empty text: the digest groupBy keys on
    md5(text), NULL hashes to NULL (its own group, distinct from the
    empty and whitespace digests), the (1,2) dup pair collapses to its
    min-id survivor, and nothing throws."""
    out = {r.keep_id: r.n_copies for r in dedup.exact_dedup(dirty_docs).collect()}
    assert out == {1: 2, 3: 1, 4: 1, 5: 1, 6: 1}


def test_minhash_simhash_pair_mining_tolerates_dirty_docs(dirty_docs):
    """Banded pair mining over NULL/empty docs must not throw, and the
    real near-dup pair must still be found. Empty/NULL docs may
    legitimately band-collide with each other (zero-shingle signatures
    are all equal — the hot-band cap bounds that bucket at scale) but
    must never pair with a real document."""
    for pairs in (
        dedup.minhash_near_dup_pairs(dirty_docs),
        dedup.minhash_md5_pairs(dirty_docs),
        dedup.simhash_near_dup_pairs(dirty_docs),
    ):
        got = {(r[0], r[1]) for r in pairs.select(pairs.columns[:2]).collect()}
        assert (1, 2) in got or (2, 1) in got
        degenerate = {3, 4, 5}
        for a, b in got:
            real = {a, b} - degenerate
            assert real <= {1, 2} or not ({a, b} & degenerate), (
                f"dirty doc paired with a real one: {(a, b)}"
            )


def test_clean_corpus_drops_dirty_keeps_survivor(dirty_docs):
    """The full cleaning composite on dirty input: quality gate removes
    NULL/empty rows (no tokens -> no score), dedup keeps one of the
    identical pair, and nothing throws."""
    out = corpus.clean_corpus(dirty_docs, min_quality=0.1,
                              jaccard_threshold=0.8)
    ids = {r.doc_id for r in out.select("doc_id").collect()}
    assert ids <= {1, 2, 6} and 6 in ids and len(ids & {1, 2}) == 1


def _as_double(df):
    """The exact kNN scores ``array<double>`` only (it replicates the
    double HOF fold); the registry queries cast the same way."""
    return df.withColumn("embedding", F.col("embedding").cast("array<double>"))


def test_brute_force_topk_null_rows_sink(spark, emb_frames):
    """The exact kNN drops NULL vectors before scoring (no direction, so
    never a cosine match) — the top-k never surfaces them, and every
    returned score is real."""
    clean, dirty = emb_frames
    queries = spark.createDataFrame(
        [(0, [0.5, 0.4, 0.3, 0.2])], "query_id long, embedding array<double>"
    )
    got = sim.brute_force_topk_blocked(_as_double(dirty), queries, k=3).collect()
    assert len(got) == 3
    assert all(r.vec_id not in (98, 99) for r in got)
    assert all(r.score is not None for r in got)


def test_kmeans_lloyd_det_ignores_null_rows(spark, emb_frames):
    """The deterministic Lloyd trainer (the oracle-checked IVF/PQ/SemDeDup
    foundation) must produce BIT-IDENTICAL centroids with NULL rows
    present — NULL assignments fall out of the argmin groupBy."""
    clean, dirty = emb_frames
    init = clean.where("vec_id < 4").select(
        F.col("vec_id").alias("cent_id"), "embedding"
    )
    cents = lambda c: sorted(
        (r[0], tuple(r[1])) for r in sim.kmeans_lloyd_det(c, init).collect()
    )
    assert cents(dirty) == cents(clean)


def test_decode_image_features_null_and_garbage_content(spark):
    """The multimodal decode path must emit a decoded=false row for NULL
    and garbage blobs (per-row try + content-or-empty), never throw."""
    media = spark.createDataFrame(
        [(1, None, "image", "bmp", 2, 2),
         (2, b"", "image", "bmp", 0, 0),
         (3, b"\x00\x01garbage-not-an-image", "image", "png", 0, 0)],
        "media_id long, content binary, kind string, format string, "
        "width int, height int",
    )
    rows = {r.media_id: r for r in mm.decode_image_features(media).collect()}
    assert set(rows) == {1, 2, 3}
    assert not any(r.decoded for r in rows.values())


@pytest.fixture()
def dirty_docs_full(spark):
    """Dirty docs WITH the metadata columns the corpus operators consume
    (NULL text rows also carry NULL n_tokens/n_chars, like a real broken
    ingest would)."""
    return spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again today",
             "a", 11, 56),
            (2, "the quick brown fox jumps over the lazy dog again today",
             "a", 11, 56),
            (3, None, "b", None, None),
            (4, "", "b", 0, 0),
            (5, "   ", "b", 0, 3),
            (6, "completely different text about financial markets volume",
             "c", 8, 57),
        ],
        "doc_id long, text string, source string, n_tokens long, n_chars long",
    )


def test_corpus_entry_points_tolerate_dirty_docs(dirty_docs_full):
    """Every corpus entry point a pipeline feeds raw documents into must
    survive NULL/empty/whitespace text (and NULL metadata) without
    throwing, and must still process the clean docs. Row-level semantics
    are pinned in each operator's own test file — this is the
    one-dirty-row-kills-a-100TB-job regression net."""
    d = dirty_docs_full
    calls = {
        "dsir_scores": lambda: corpus.dsir_scores(
            d, is_target=(F.size(tx.words(F.col("text"))) >= 5), n_buckets=16
        ),
        "lm_perplexity_scores": lambda: corpus.lm_perplexity_scores(d),
        "paragraph_dedup": lambda: corpus.paragraph_dedup(d),
        "pack_sequences": lambda: corpus.pack_sequences(d, block=16),
        "temperature_sample": lambda: corpus.temperature_sample(
            d, strata_col="source", k=4
        ),
        "pps_sample": lambda: corpus.pps_sample(d, k=3),
        "bpe_learn_merges": lambda: corpus.bpe_learn_merges(d, rounds=2),
        "chunk_documents": lambda: corpus.chunk_documents(d),
        "cdc_chunk_documents": lambda: corpus.cdc_chunk_documents(d),
        "rake_keywords": lambda: corpus.rake_keywords(d),
        "ngram_contamination": lambda: corpus.ngram_contamination(
            d, d.select("doc_id", "text")
        ),
        "profile": lambda: corpus.profile(d),
        "with_text_features": lambda: tx.with_text_features(d),
    }
    for name, fn in calls.items():
        rows = fn().collect()  # must not throw
        assert rows is not None, name
    # spot semantics: the text-feature projection keeps all rows and the
    # NULL-text row's token count is 0-or-NULL, never a crash or a bogus
    # positive
    feats = {r.doc_id: r for r in tx.with_text_features(d).collect()}
    assert set(feats) == {1, 2, 3, 4, 5, 6}
    assert not feats[3].n_tokens


def test_semdedup_dirty_rows_never_affect_clean(spark, emb_frames):
    """semdedup_keep over (clean ∪ NULL ∪ ragged ∪ NULL-element) rows:
    every clean row's (cell, keep) is IDENTICAL to the clean-only run —
    a dirty embedding must never prune a real document (cosine with a
    NULL/ragged vector is NULL, and NULL >= threshold is false) — and
    the dirty rows themselves come back keep=true (they are junk to
    filter upstream, not dedup evidence)."""
    clean, _ = emb_frames
    dirty = clean.unionByName(
        spark.createDataFrame(
            [(98, None), (97, [0.1, 0.2]), (96, [0.1, None, 0.3, 0.4])],
            EMB_SCHEMA,
        )
    )
    cents = clean.where("vec_id < 4").select(
        F.col("vec_id").alias("cent_id"), "embedding"
    )
    out = lambda c: {
        r.vec_id: (r.cell, r.keep)
        for r in sim.semdedup_keep(c, cents, threshold=0.9).collect()
    }
    dirty_out, clean_out = out(dirty), out(clean)
    assert all(dirty_out[k] == v for k, v in clean_out.items())
    assert all(dirty_out[k][1] for k in (96, 97, 98))


def test_brute_force_topk_ragged_and_null_element_rows_sink(
    spark, emb_frames
):
    """What the exact kNN does with malformed vectors. A NULL-element
    vector (96; Arrow hands the NULL over as NaN) has a NaN norm and is
    dropped like a NULL one (98). A ragged vector (97) is ZERO-padded to
    the longest length and scored as that padded vector (a ``zip_with``
    fold would pad with NULL and score it NULL). The registry
    never sees a ragged row: ``readers._quarantine_embeddings`` nulls
    every wrong-length vector at scan, so this pins library behaviour
    only."""
    import numpy as np

    clean, _ = emb_frames
    dirty = clean.unionByName(
        spark.createDataFrame(
            [(98, None), (97, [0.1, 0.2]), (96, [0.1, None, 0.3, 0.4])],
            EMB_SCHEMA,
        )
    )
    qv = [0.5, 0.4, 0.3, 0.2]
    queries = spark.createDataFrame(
        [(0, qv)], "query_id long, embedding array<double>"
    )
    got = sim.brute_force_topk_blocked(_as_double(dirty), queries, k=30).collect()
    assert {r.vec_id for r in got} == set(range(20)) | {97}
    assert [r.rank for r in sorted(got, key=lambda r: r.rank)] == list(
        range(1, 22)
    )

    def fold_cos(q, c):  # the left folds; c is float32 data widened
        c = np.float32(c).astype(np.float64)
        dot = na = nb = 0.0
        for x, y in zip(q, c):
            dot += x * y
            na += x * x
            nb += y * y
        return dot / (np.sqrt(nb) * np.sqrt(na))

    by_id = {r.vec_id: r for r in got}
    assert by_id[97].score == fold_cos(qv, [0.1, 0.2, 0.0, 0.0])
    # the clean rows keep their exact scores and their relative order
    clean_got = sim.brute_force_topk_blocked(
        _as_double(clean), queries, k=30
    ).collect()
    assert {r.vec_id: r.score for r in clean_got} == {
        i: by_id[i].score for i in range(20)
    }
    assert [r.vec_id for r in sorted(clean_got, key=lambda r: r.rank)] == [
        r.vec_id for r in sorted(got, key=lambda r: r.rank) if r.vec_id != 97
    ]


def test_connected_components_drops_null_pairs(spark):
    """A pair with a NULL side is not an edge. Before the guard, the NULL
    node JOINED cluster 1 through the reversed (NULL, 2) edge while node 5
    (the other side of the same garbage chain) stayed disconnected —
    half-connected garbage. Now: garbage pairs contribute nothing, no
    phantom NULL node, clean clusters intact."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, None), (None, 5), (7, 8)], "id_a long, id_b long"
    )
    got = {
        r.node: r.component
        for r in components.connected_components(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 7: 7, 8: 7}


def test_asof_join_null_ts_never_matches(spark):
    """DuckDB ASOF JOIN semantics for NULLs: a right row with NULL ts is
    dropped (before the guard it sorted nulls-first — '-infinity' — and
    leaked into every left row until the first real right row), and a
    left row with NULL ts gets NULL right columns."""
    l = spark.createDataFrame(
        [("A", 100, 1.0), ("A", None, 2.0), ("B", 50, 3.0)],
        "k string, ts long, v double",
    )
    r = spark.createDataFrame(
        [("A", 90, 10.0), ("A", None, 20.0), ("B", 60, 30.0)],
        "k string, rts long, rv double",
    )
    got = {
        (row.k, row.ts): row.rv
        for row in asof.asof_join(
            l, r, on=["k"], left_ts="ts", right_ts="rts"
        ).collect()
    }
    assert got == {("A", 100): 10.0, ("A", None): None, ("B", 50): None}


def test_indicators_tolerate_null_values(spark):
    """NULL closes must not crash the indicator family. Pinned: sma's
    windowed avg needs n non-NULL values in the frame (NULL close ⇒ NULL
    sma for every frame it starves); ema's pandas path carries the last
    real value across a NaN gap; a NULL symbol forms its own group rather
    than crashing the shuffle. NULL ORDER keys are documented as
    undefined order (Spark windows sort them first, pandas last) —
    densify or filter upstream, same contract as ema_segmented."""
    bars = spark.createDataFrame(
        [
            ("AAA", "2024-01-01", 10.0),
            ("AAA", "2024-01-02", None),
            ("AAA", "2024-01-03", 12.0),
            (None, "2024-01-05", 14.0),
            ("BBB", "2024-01-01", 5.0),
        ],
        "symbol string, date string, close double",
    )
    sm = {
        (r.symbol, r.date): r.sma_2 for r in ind.sma(bars, 2).collect()
    }
    assert sm[("AAA", "2024-01-02")] is None  # starved frame: (10, NULL)
    assert sm[("AAA", "2024-01-03")] is None  # starved frame: (NULL, 12)
    assert sm[(None, "2024-01-05")] is None  # own group, 1 row < n
    em = {
        (r.symbol, r.date): r.ema_2 for r in ind.ema(bars, 2).collect()
    }
    assert em[("AAA", "2024-01-02")] == 10.0  # NaN gap: carry last real
    assert em[(None, "2024-01-05")] == 14.0  # own group, own seed
    assert ind.rsi(bars, 2).count() == 5  # no throw, all rows kept


def test_incremental_ingest_drops_null_text_for_idempotence(
    spark, tmp_path
):
    """NULL-text rows vanish from the ingest BY DESIGN: a NULL digest can
    never survive the digest equi-joins, and passing such rows through
    would break replay idempotence (no store entry can represent them, so
    every replay would re-append them). Replaying the same batch must
    yield zero survivors — including the NULL row."""
    store = str(tmp_path / "digests")
    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, None), (3, "alpha beta")],
        "doc_id long, text string",
    )
    first = sorted(
        r.doc_id
        for r in corpus.incremental_ingest_dedup(docs, store).collect()
    )
    assert first == [1]  # 3 deduped in-batch, 2 (NULL text) dropped
    replay = corpus.incremental_ingest_dedup(docs, store).collect()
    assert replay == []  # idempotent, NULL row did not re-appear


def test_stateful_update_drops_null_price_ticks():
    """The streaming running-stats state function: a NULL-price tick must
    not clobber last_price to NaN (it used to whenever the NaN sorted
    last in a batch), must not count as a tick, and must not advance
    last_ts. Driven as a plain python function with a fake GroupState —
    no stream needed to pin the per-batch state algebra."""
    import pandas as pd

    from soict20221_bigdata_financialplatform_spark.streaming.stateful import (
        _update,
    )

    class _FakeState:
        exists = False

        def update(self, t):
            self.value = t

    ts = pd.to_datetime(
        ["2024-01-01 09:00", "2024-01-01 09:01", "2024-01-01 09:02"]
    )
    pdf = pd.DataFrame(
        {"symbol": ["AAA"] * 3, "time": ts, "close": [10.0, 12.0, None]}
    )
    state = _FakeState()
    [out] = list(_update(("AAA",), iter([pdf]), state))
    assert out["last_price"].iloc[0] == 12.0  # NaN tick did not clobber
    assert out["n_ticks"].iloc[0] == 2  # not counted
    assert out["last_ts"].iloc[0] == ts[1]  # did not advance
    # an all-NULL batch leaves state untouched except existence
    state2 = _FakeState()
    nullbatch = pd.DataFrame(
        {"symbol": ["AAA"], "time": ts[:1], "close": [None]}
    )
    [out2] = list(_update(("AAA",), iter([nullbatch]), state2))
    assert out2["n_ticks"].iloc[0] == 0


def test_sketch_family_null_keys(spark):
    """Misra–Gries drops NULL keys from the frequency table (a NULL key is
    not a heavy hitter); the deterministic Bernoulli sample still hashes
    rows whose key tuple CONTAINS a NULL (concat_ws skips NULLs — the row
    keeps a stable digest) rather than throwing or silently dropping."""
    from soict20221_bigdata_financialplatform_spark.operators import (
        sketch as sk,
    )

    ev = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, None), (4, "b"), (None, "c"), (6, None)],
        "id long, k string",
    )
    mg = {r[0] for r in sk.heavy_hitters_mg(ev, "k", k=3).collect()}
    assert mg == {"a", "b", "c"}
    samp = sk.md5_bernoulli_sample(ev, ("k", "id"), 2).collect()
    again = sk.md5_bernoulli_sample(ev, ("k", "id"), 2).collect()
    assert sorted(map(tuple, samp), key=str) == sorted(
        map(tuple, again), key=str
    )  # deterministic under NULL keys, no throw


def test_quarantine_specials_matches_duckdb_view(spark, tmp_path):
    """r13 ingest-hygiene pin: NaN/±Inf in events.value become NULL at
    the scan (readers._quarantine_specials), and the DuckDB events view
    in tools/parity_check.py (CASE WHEN isfinite(value)...) produces the
    IDENTICAL column — the two sides of the quarantine contract. IEEE
    specials are cross-engine non-portable (DuckDB aborts on stddev/
    quantile/ln over NaN and on non-finite casts where Spark returns
    NULL/NaN or saturates), so no oracle-paired aggregate can hold
    parity once one reaches it."""
    import math
    import os
    import sys

    import duckdb

    sys.path.insert(
        0, os.path.join(os.path.dirname(__file__), "..", "tools")
    )
    import parity_check

    sf = str(tmp_path)
    con = duckdb.connect()
    con.sql(f"""
      COPY (
        SELECT * FROM (VALUES
          (1, TIMESTAMP '2024-01-01 00:00:01', 10, 'view', 1.5, '{{}}'),
          (2, TIMESTAMP '2024-01-01 00:00:02', 10, 'view', 'NaN'::DOUBLE, '{{}}'),
          (3, TIMESTAMP '2024-01-01 00:00:03', 10, 'view', 'Infinity'::DOUBLE, '{{}}'),
          (4, TIMESTAMP '2024-01-01 00:00:04', 10, 'view', '-Infinity'::DOUBLE, '{{}}'),
          (5, TIMESTAMP '2024-01-01 00:00:05', 10, 'view', NULL, '{{}}'),
          (6, TIMESTAMP '2024-01-01 00:00:06', 10, 'view', -2.25, '{{}}')
        ) t(event_id, ts, user_id, event_type, value, props)
      ) TO '{sf}/events.parquet' (FORMAT parquet)
    """)
    from soict20221_bigdata_financialplatform_spark.sources.readers import (
        load_events_time_range,
        load_table,
    )

    expected = {1: 1.5, 2: None, 3: None, 4: None, 5: None, 6: -2.25}
    got = {
        r.event_id: r.value
        for r in load_table(spark, sf, "events").collect()
    }
    assert got == expected
    got_rng = {
        r.event_id: r.value
        for r in load_events_time_range(spark, sf).collect()
    }
    assert got_rng == expected
    # DuckDB view twin (parity_check._register_views needs all TABLES on
    # disk — probe just the events DDL shape it uses)
    dk = {
        r[0]: r[1]
        for r in con.sql(
            f"SELECT event_id, CASE WHEN isfinite(value) THEN value END"
            f" FROM '{sf}/events.parquet'"
        ).fetchall()
    }
    assert dk == expected
    assert not any(
        v is not None and (math.isnan(v) or math.isinf(v))
        for v in got.values()
    )


def test_q143_null_orderkey_never_forms_a_basket(spark, tmp_path):
    """A NULL l_orderkey is no order: its lines must not pair up as one
    basket (the oracle's self-join on l_orderkey drops them), while the
    per-part basket count keeps their DISTINCT (NULL, part) rows exactly
    as the oracle's ``ca`` does. Pair (1, 3) sits in 2 real orders + the
    NULL group, so a NULL basket would lift it over the c_ab >= 3 cut."""
    import os
    import sys

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    sys.path.insert(
        0, os.path.join(os.path.dirname(__file__), "..", "tools")
    )
    import parity_check
    from soict20221_bigdata_financialplatform_spark.queries import (
        ORACLE,
        QUERIES,
    )

    lines = [(1, 1), (1, 2), (1, None), (2, 1), (2, 2), (3, 1), (3, 2),
             (4, 1), (4, 3), (5, 2), (5, 3), (6, 1), (6, 3),
             (None, 1), (None, 1), (None, 2), (None, 3)]
    sf = str(tmp_path)
    pq.write_table(
        pa.table({"l_orderkey": pa.array([o for o, _ in lines], pa.int64()),
                  "l_partkey": pa.array([p for _, p in lines], pa.int64())}),
        os.path.join(sf, "lineitem.parquet"),
    )
    out = QUERIES["q143_assoc_rules"](spark, sf)
    got = [tuple(r) for r in out.collect()]
    assert [(r[0], r[1], r[2]) for r in got] == [(1, 2, 3)]
    con = duckdb.connect()
    con.sql(f"CREATE VIEW lineitem AS SELECT * FROM '{sf}/lineitem.parquet'")
    res = con.sql(ORACLE["q143_assoc_rules"])
    assert parity_check._norm_rows(out.columns, got) == parity_check._norm_rows(
        res.columns, res.fetchall()
    )
