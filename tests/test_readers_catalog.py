"""Pins for the parquet schema catalog in ``sources/readers.py``: it keeps
the SCHEMA of a path (keyed by the inference confs and every file's mtime
and size), never data or plans, so a load on a catalog hit must see
rewritten files, launch no inference job, build a fresh relation and plan
exactly like a cold load."""

from __future__ import annotations

import os
import re
import sys

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench.statusstore import StatusReader
from soict20221_bigdata_financialplatform_spark.queries import ORACLE, QUERIES
from soict20221_bigdata_financialplatform_spark.sources import readers
from soict20221_bigdata_financialplatform_spark.sources.readers import (
    load_events_time_range,
    load_table,
)

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
import parity_check  # noqa: E402


def _jobs_in_group(spark, group: str, fn) -> int:
    """Spark jobs launched by ``fn()`` on this thread."""
    status = StatusReader(spark)
    status.set_group(group)
    try:
        fn()
    finally:
        status.clear_group()
    return status.group_totals(group)["jobs"]


def test_rewritten_file_at_same_path_is_seen(spark, tmp_path):
    sf = str(tmp_path)
    path = os.path.join(sf, "region.parquet")
    pq.write_table(pa.table({"r_regionkey": [0, 1], "r_name": ["A", "B"]}), path)
    assert load_table(spark, sf, "region").columns == ["r_regionkey", "r_name"]
    assert load_table(spark, sf, "region").columns == ["r_regionkey", "r_name"]
    pq.write_table(
        pa.table({"r_regionkey": [0, 1, 2], "r_name": ["A", "B", "C"],
                  "r_comment": ["x", "y", "z"]}),
        path,
    )
    df = load_table(spark, sf, "region")
    assert df.columns == ["r_regionkey", "r_name", "r_comment"]
    assert sorted(tuple(r) for r in df.collect()) == [
        (0, "A", "x"), (1, "B", "y"), (2, "C", "z")
    ]


def test_catalog_hit_launches_no_job_and_miss_launches_one(spark, tmp_path):
    sf = str(tmp_path)
    path = os.path.join(sf, "nation.parquet")
    pq.write_table(pa.table({"n_nationkey": [0, 1], "n_name": ["X", "Y"]}), path)
    readers._SCHEMAS.pop(path, None)
    load = lambda: load_table(spark, sf, "nation")  # noqa: E731
    assert _jobs_in_group(spark, "catalog-miss", load) == 1
    assert _jobs_in_group(spark, "catalog-hit", load) == 0
    # a different inference conf is a different key: one more miss
    spark.conf.set("spark.sql.parquet.binaryAsString", "true")
    try:
        assert _jobs_in_group(spark, "catalog-conf-miss", load) == 1
    finally:
        spark.conf.unset("spark.sql.parquet.binaryAsString")


def test_two_event_loads_keep_distinct_attribute_ids(spark, sf_dir):
    """q46 joins two loads of events: a cached DataFrame or view would
    hand both the SAME attribute ids and silently change the answer."""

    def leaf_ids(df):
        leaves = df._jdf.queryExecution().analyzed().collectLeaves()
        out = leaves.apply(0).output()
        return {out.apply(i).exprId().id() for i in range(out.size())}

    load_table(spark, sf_dir, "events")  # warm the catalog
    a = leaf_ids(load_table(spark, sf_dir, "events"))
    b = leaf_ids(load_table(spark, sf_dir, "events"))
    c = leaf_ids(load_events_time_range(spark, sf_dir))
    assert a and not (a & b) and not (a & c) and not (b & c)


def _plan(df) -> str:
    text = df._jdf.queryExecution().executedPlan().toString()
    return re.sub(r"#\d+|plan_id=\d+|(?<=lambda [a-z])_\d+", "", text)


def test_q46_hit_matches_cold_load_and_oracle(spark, sf_dir):
    q = QUERIES["q46_range_join"]
    path = os.path.join(sf_dir, "events.parquet")
    readers._SCHEMAS.pop(path, None)
    spark.catalog.clearCache()
    cold = q(spark, sf_dir)
    cold_plan, cold_rows = _plan(cold), cold.collect()
    assert path in readers._SCHEMAS
    spark.catalog.clearCache()
    hit = q(spark, sf_dir)
    assert _plan(hit) == cold_plan
    hit_rows = hit.collect()
    assert sorted(map(tuple, hit_rows)) == sorted(map(tuple, cold_rows))
    con = duckdb.connect()
    parity_check._register_views(con, sf_dir)
    res = con.sql(ORACLE["q46_range_join"])
    assert parity_check._norm_rows(hit.columns, [tuple(r) for r in hit_rows]) == (
        parity_check._norm_rows(res.columns, res.fetchall())
    )


def test_loader_under_vanilla_session(spark, sf_dir):
    """CLAUDE.md invariant 1: callers pass their own session, without the
    factory's confs. A fresh session with those confs unset must load
    events (TIMESTAMP(NANOS)) on a catalog miss and on a hit alike."""
    vanilla = spark.newSession()
    for k in ("spark.sql.legacy.parquet.nanosAsLong", "spark.sql.session.timeZone",
              "spark.sql.optimizer.excludedRules"):
        vanilla.conf.unset(k)
    path = os.path.join(sf_dir, "events.parquet")
    want = sorted(
        tuple(r) for r in load_table(spark, sf_dir, "events").select("event_id", "ts").collect()
    )
    readers._SCHEMAS.pop(path, None)
    for _ in range(2):  # miss, then hit
        df = load_table(vanilla, sf_dir, "events")
        assert dict(df.dtypes)["ts"] == "timestamp_ntz"
        assert sorted(tuple(r) for r in df.select("event_id", "ts").collect()) == want
