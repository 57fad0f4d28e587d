"""Salted-join/agg equivalence and approx-sketch error bounds."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from soict20221_bigdata_financialplatform_spark.operators import skew
from soict20221_bigdata_financialplatform_spark.sources import load_table


def test_salted_join_equals_plain_join(spark, sf_dir):
    e = load_table(spark, sf_dir, "events").select("user_id", "event_id", "value")
    dim = spark.createDataFrame(
        [Row(user_id=i, segment=f"s{i % 3}") for i in range(200)]
    )
    plain = e.join(dim, "user_id").groupBy("segment").count()
    salted = skew.salted_join(e, dim, on="user_id", salt=8).groupBy("segment").count()
    assert {(r.segment, r["count"]) for r in plain.collect()} == {
        (r.segment, r["count"]) for r in salted.collect()
    }


def test_salted_join_left_outer(spark):
    big = spark.createDataFrame([Row(k=1, v="a"), Row(k=2, v="b")])
    small = spark.createDataFrame([Row(k=1, tag="x")])
    out = {(r.k, r.tag) for r in
           skew.salted_join(big, small, on="k", salt=4, how="left").collect()}
    assert out == {(1, "x"), (2, None)}


def test_salted_agg_count_equivalence(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    plain = {(r.event_type, r["count"]) for r in
             e.groupBy("event_type").count().collect()}
    salted = {(r.event_type, r.n) for r in
              skew.salted_agg_count(e, ["event_type"], salt=8).collect()}
    assert plain == salted


def test_salted_self_pairs_exact_equivalence_with_hot_group(spark):
    """salted_self_pairs must return EXACTLY the naive keyed self-join's
    pair set — on a skewed fixture where one group holds most rows (the hot
    LSH bucket shape) plus small and singleton groups."""
    rows = (
        [Row(k="hot", id=i) for i in range(60)]
        + [Row(k="small", id=100 + i) for i in range(5)]
        + [Row(k="single", id=999)]
    )
    df = spark.createDataFrame(rows)
    a, b = df.alias("a"), df.alias("b")
    naive = {
        (r.k, r.id_a, r.id_b)
        for r in a.join(
            b, (F.col("a.k") == F.col("b.k")) & (F.col("a.id") < F.col("b.id"))
        )
        .select(F.col("a.k").alias("k"), F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .collect()
    }
    for salt in (1, 3, 8):
        got_rows = skew.salted_self_pairs(df, ["k"], "id", salt=salt).collect()
        got = {(r.k, r.id_a, r.id_b) for r in got_rows}
        assert got == naive, f"salt={salt}"
        assert len(got_rows) == len(naive), f"salt={salt}: duplicate pairs"


def test_minhash_hot_bucket_salt_same_pairs(spark):
    """minhash_near_dup_pairs(hot_bucket_salt=...) finds the identical
    near-dup pair set as the plain band join."""
    from soict20221_bigdata_financialplatform_spark.operators import dedup as dd
    from tests.test_dedup_similarity import BASE

    rows = [Row(doc_id=i, text=BASE + f" tail{i % 3}") for i in range(12)]
    docs = spark.createDataFrame(rows)
    plain = {
        (r.id_a, r.id_b)
        for r in dd.minhash_near_dup_pairs(docs, jaccard_threshold=0.6).collect()
    }
    salted = {
        (r.id_a, r.id_b)
        for r in dd.minhash_near_dup_pairs(
            docs, jaccard_threshold=0.6, hot_bucket_salt=4
        ).collect()
    }
    assert salted == plain and plain  # identical and non-empty


def test_approx_count_distinct_bound(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    exact = e.select(F.countDistinct("user_id").alias("n")).collect()[0].n
    approx = e.select(
        F.approx_count_distinct("user_id", rsd=0.02).alias("n")
    ).collect()[0].n
    assert approx == pytest.approx(exact, rel=0.1)


def test_approx_percentile_bound(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    exact = e.select(F.expr("percentile(value, 0.5)").alias("p")).collect()[0].p
    approx = e.select(
        F.expr("approx_percentile(value, 0.5, 10000)").alias("p")
    ).collect()[0].p
    assert approx == pytest.approx(exact, rel=0.05)
