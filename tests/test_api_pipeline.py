"""End-to-end batch pipeline + serving endpoints + reference-format readers
(S1 multiline JSON, S2 CSV) + K3 to_json inverse."""

from __future__ import annotations

import datetime
import json

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from soict20221_bigdata_financialplatform_spark import api
from soict20221_bigdata_financialplatform_spark.sources.readers import (
    read_bars_csv,
    read_bars_json,
)
from tests.test_normalize import RAW_ROWS


def test_backfill_roundtrip_and_endpoints(spark, tmp_path):
    out = str(tmp_path / "historical")
    api.backfill(spark.createDataFrame(RAW_ROWS), out, ema_n=3, rsi_n=3, sma_n=3)

    bars = api.load_bars(spark, out)
    assert {"symbol", "date", "close", "change_abs", "change_pct",
            "sma_3", "rsi_3", "ema_3"} <= set(bars.columns)
    # partition layout: one dir per symbol
    import os
    assert sorted(
        d for d in os.listdir(out) if d.startswith("symbol=")
    ) == ["symbol=FPT", "symbol=VIC"]

    top = api.olhc(bars, "FPT", 1).collect()
    assert len(top) == 1 and top[0].date == datetime.date(2023, 2, 7)
    inf = api.info(bars, "FPT").collect()
    assert len(inf) == 2  # all FPT days, newest first
    assert inf[0].date > inf[1].date
    # warm-up indicator rows were null-filled for change only
    assert inf[-1].change_abs == 0.0


def test_serving_endpoints_prune_symbol_partitions(spark, tmp_path):
    """The Cassandra-read-path claim (api.py module docstring): olhc/info's
    symbol predicate must PRUNE PARTITIONS of the backfill-written
    ``partitionBy("symbol")`` layout — the scan reads one symbol directory,
    not the table. Machine-checks what the docstring promises."""
    from soict20221_bigdata_financialplatform_spark.plans import checks

    out = str(tmp_path / "historical")
    api.backfill(spark.createDataFrame(RAW_ROWS), out, ema_n=3, rsi_n=3, sma_n=3)
    bars = api.load_bars(spark, out)
    for q in (api.olhc(bars, "FPT", 5), api.info(bars, "FPT")):
        plan = checks.formatted_plan(q)
        scan = "\n".join(
            line for line in plan.splitlines() if "PartitionFilters" in line
        )
        # the equality predicate sits in PartitionFilters (directory pruning),
        # not in the post-scan data filters
        assert "symbol" in scan and "FPT" in scan, plan


def test_news_latest_dedup_by_title(spark):
    t0 = datetime.datetime(2024, 1, 1, 9)
    news = spark.createDataFrame([
        Row(time=t0, title="markets rally", source="a", img="x"),
        Row(time=t0 + datetime.timedelta(hours=1), title="markets rally", source="b", img="y"),
        Row(time=t0, title="other headline", source="c", img="z"),
    ])
    out = api.news_latest(news, n=6).collect()
    assert len(out) == 2
    rally = [r for r in out if r.title == "markets rally"][0]
    assert rally.source == "b"  # newest wins (upsert-by-title semantics)


def test_news_latest_ties_are_broken_the_same_at_any_partitioning(spark):
    t0 = datetime.datetime(2024, 1, 1, 9)
    rows = [Row(time=t0, title=f"t{k}", source=s, img="x")
            for k in range(10) for s in ("c", "a", "b")]  # (title, time) ties
    rows += [Row(time=t0 - datetime.timedelta(hours=1), title=f"t{k}", source="0", img="x")
             for k in range(10)]
    news = spark.createDataFrame(rows)
    answers = [api.news_latest(news.repartition(p), n=6).collect() for p in (1, 7)]
    assert answers[0] == answers[1]
    # ten titles tie on the newest time: the limit keeps the first six titles,
    # each with its smallest source
    assert [(r.title, r.source) for r in answers[0]] == [(f"t{k}", "a") for k in range(6)]


def test_read_bars_json_reference_format(spark, tmp_path):
    # the reference's data/data_olhc/*.json: multiline array of all-string objs
    p = tmp_path / "FPT.json"
    p.write_text(json.dumps([
        {"symbol": "FPT", "date": "07/02/2023", "open": "80.50 ",
         "high": "81.00 ", "low": "79.90 ", "close": "80.70 ",
         "volume": "750,800 ", "value": "60,902,000,000 "},
        {"symbol": "FPT", "date": "06/02/2023", "open": "79.00",
         "high": "80.10", "low": "78.80", "close": "80.00",
         "volume": "1,200,000", "value": "95,000,000,000"},
    ], indent=2))
    df = read_bars_json(spark, str(p))
    assert df.count() == 2
    assert dict(df.dtypes)["close"] == "string"  # schema-on-read, all strings
    from soict20221_bigdata_financialplatform_spark.functions.normalize import normalize_bars
    typed = normalize_bars(df)
    r = typed.where("date = date'2023-02-07'").collect()[0]
    assert r.close == 80.70 and r.volume == 750_800


def test_read_bars_csv_notebook_schema(spark, tmp_path):
    p = tmp_path / "excel_bab.csv"
    p.write_text(
        "Ticker,DTYYYYMMDD,OpenFixed(K),HighFixed(K),LowFixed(K),CloseFixed(K),Volume\n"
        "bab,20230207,80.5,81.0,79.9,80.7,750800\n"
        "bab,20230206,79.0,80.1,78.8,80.0,1200000\n"
    )
    df = read_bars_csv(spark, str(p))
    assert df.count() == 2
    assert dict(df.dtypes)["CloseFixed(K)"] == "double"
    # the notebook's numeric-string range query works as-is
    q = df.where((df["DTYYYYMMDD"] > 20230206) & (df["DTYYYYMMDD"] < 20230208))
    assert q.count() == 1


def test_to_kafka_payload_real_json(spark):
    df = spark.createDataFrame([Row(symbol="FPT", close=80.7)])
    out = api.to_kafka_payload(df, key_col="symbol").collect()[0]
    assert out.key == "FPT"
    assert json.loads(out.value) == {"symbol": "FPT", "close": 80.7}


def test_realtime_endpoint(spark):
    import datetime as dt
    ticks = spark.createDataFrame([
        Row(symbol="FPT", time=dt.datetime(2024, 1, 2, 9, 30), close=80.0),
        Row(symbol="FPT", time=dt.datetime(2024, 1, 2, 9, 31), close=80.5),
        Row(symbol="VIC", time=dt.datetime(2024, 1, 2, 9, 32), close=55.0),
    ])
    out = api.realtime(ticks, "FPT").collect()
    assert len(out) == 1 and out[0].close == 80.5  # newest FPT tick only


def test_to_local_ts_shift(spark):
    import datetime as dt
    from soict20221_bigdata_financialplatform_spark.functions.normalize import to_local_ts
    df = spark.createDataFrame([Row(t=dt.datetime(2024, 1, 2, 9, 0))])
    out = df.select(to_local_ts("t").alias("local")).collect()[0].local
    assert out == dt.datetime(2024, 1, 2, 16, 0)  # UTC+7 (Asia/Ho_Chi_Minh)


def test_write_partitioned_sorted_layout(spark, tmp_path):
    import os
    from soict20221_bigdata_financialplatform_spark.sources.layout import write_partitioned_sorted
    df = spark.createDataFrame(
        [Row(symbol=s, date=d, close=float(d))
         for s in ("AAA", "BBB") for d in (3, 1, 2)]
    )
    out = str(tmp_path / "store")
    write_partitioned_sorted(df, out, "symbol", ["date"])
    dirs = sorted(d for d in os.listdir(out) if d.startswith("symbol="))
    assert dirs == ["symbol=AAA", "symbol=BBB"]
    back = spark.read.parquet(out)
    assert back.count() == 6


def test_read_evolving_parquet_merges_schema_versions(spark, tmp_path):
    """Corpus versions that grew columns read back as one unified schema:
    old files null-fill the new column, pushdown still prunes."""
    from pyspark.sql import Row

    from soict20221_bigdata_financialplatform_spark.sources.readers import (
        read_evolving_parquet,
    )

    path = str(tmp_path / "corpus")
    spark.createDataFrame(
        [Row(doc_id=1, text="v1 doc")]
    ).write.mode("append").parquet(path)
    spark.createDataFrame(
        [Row(doc_id=2, text="v2 doc", lang="en")]
    ).write.mode("append").parquet(path)

    df = read_evolving_parquet(spark, path)
    assert set(df.columns) == {"doc_id", "text", "lang"}
    rows = {r.doc_id: r for r in df.collect()}
    assert rows[1].lang is None and rows[2].lang == "en"
    # filter on the evolved column only matches files that have it
    assert df.where(df.lang == "en").count() == 1


# ---------------------------------------------------------------------------
# Prepared routes: olhc/realtime/info return one planned DataFrame per
# (frame, route arguments); every call still runs its own job.
# ---------------------------------------------------------------------------


def _group_stats(spark, group: str) -> tuple[int, int, int]:
    """(jobs, input records, shuffle write bytes) of the jobs run under the
    job group ``group``."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    records = shuffled = 0
    for job in jobs:
        for stage in sc.statusTracker().getJobInfo(job).stageIds:
            try:
                st = store.lastStageAttempt(stage)
            except Exception:  # noqa: BLE001 - a skipped stage has no attempt
                continue
            records += st.inputRecords()
            shuffled += st.shuffleWriteBytes()
    return len(jobs), records, shuffled


def _run_in_group(spark, group: str, df):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        return df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


@pytest.fixture(scope="module")
def stored(spark, tmp_path_factory):
    """Symbol-partitioned bars and ticks on disk, the serving store's shape."""
    out = tmp_path_factory.mktemp("store")
    spark.createDataFrame(
        [Row(symbol=s, date=datetime.date(2024, 1, d), close=float(10 * i + d))
         for i, s in enumerate(["AAA", "BBB"]) for d in range(1, 29)]
    ).write.partitionBy("symbol").parquet(str(out / "bars"))
    spark.createDataFrame(
        [Row(symbol=s, time=datetime.datetime(2024, 1, 2, 9, m), price=float(m))
         for s in ("AAA", "BBB") for m in range(30)]
    ).write.partitionBy("symbol").parquet(str(out / "ticks"))
    return str(out / "bars"), str(out / "ticks")


def test_prepared_route_is_reused_and_runs_a_job_every_call(spark, stored):
    bars_path, ticks_path = stored
    bars, ticks = api.load_bars(spark, bars_path), spark.read.parquet(ticks_path)
    routes = [
        (lambda: api.olhc(bars, "AAA", 3), 3),
        (lambda: api.info(bars, "BBB"), 28),
        (lambda: api.realtime(ticks, "AAA"), 1),
    ]
    for k, (route, n_rows) in enumerate(routes):
        first = route()
        assert route() is first  # same arguments, same prepared frame
        for call in range(3):
            group = f"prepared-{k}-{call}"
            assert len(_run_in_group(spark, group, route())) == n_rows
            jobs, scanned, _ = _group_stats(spark, group)
            # no result is reused: each call launches a job that reads rows
            assert jobs >= 1 and scanned >= n_rows, (group, jobs, scanned)
    # different arguments are different routes
    assert api.olhc(bars, "AAA", 4) is not api.olhc(bars, "AAA", 3)
    assert api.olhc(bars, "BBB", 3) is not api.olhc(bars, "AAA", 3)


def test_prepared_route_concurrent_calls_match_a_fresh_build(spark, stored):
    """8 threads (more than the session's 4 cores) start together on one
    cold route: every call answers like a fresh build, and all of them share
    the one prepared frame the route keeps."""
    import sys
    import threading
    from concurrent.futures import ThreadPoolExecutor

    bars = api.load_bars(spark, stored[0])  # a new frame: the route starts cold
    fresh = (bars.where(F.col("symbol") == "BBB")
             .orderBy(F.col("date").desc()).limit(6).collect())
    assert len(fresh) == 6
    start = threading.Barrier(8, timeout=60)

    def client(_):
        start.wait()
        calls = []
        for _ in range(20):
            df = api.olhc(bars, "BBB", 6)
            calls.append((df, df.collect()))
        return calls

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(8) as pool:
            calls = [c for per_thread in pool.map(client, range(8), timeout=300) for c in per_thread]
    finally:
        sys.setswitchinterval(interval)
    assert len(calls) == 160
    assert all(rows == fresh for _, rows in calls)
    assert len({id(df) for df, _ in calls}) == 1
    assert list(api._routes[bars]) == [("BBB", "date", 6)]


def test_prepared_routes_do_not_outlive_a_backfill(spark, tmp_path):
    """No stale read after a backfill: a frame reloaded after a backfill into
    the same path reads the new rows; the old frame's routes go with it."""
    import gc
    import weakref

    out = str(tmp_path / "historical")
    v2_rows = [r.asDict() | {"close": "9" + r["close"].strip()} for r in RAW_ROWS]
    v2_rows.append(v2_rows[0] | {"date": "08/02/2023"})

    api.backfill(spark.createDataFrame(RAW_ROWS), out, ema_n=3, rsi_n=3, sma_n=3)
    bars_v1 = api.load_bars(spark, out)
    v1 = [(r.date, r.close) for r in api.olhc(bars_v1, "FPT", 5).collect()]
    assert v1 == [(datetime.date(2023, 2, 7), 80.7), (datetime.date(2023, 2, 6), 80.0)]

    api.backfill(spark.createDataFrame([Row(**r) for r in v2_rows]), out,
                 ema_n=3, rsi_n=3, sma_n=3)
    bars_v2 = api.load_bars(spark, out)
    v2 = [(r.date, r.close) for r in api.olhc(bars_v2, "FPT", 5).collect()]
    assert v2 == [(datetime.date(2023, 2, 8), 980.7), (datetime.date(2023, 2, 7), 980.7),
                  (datetime.date(2023, 2, 6), 980.0)]

    gone = weakref.ref(bars_v1)
    del bars_v1
    gc.collect()
    assert gone() is None  # the route memo holds no frame alive


def test_prepared_routes_are_bounded_per_frame(spark, stored):
    bars = api.load_bars(spark, stored[0])
    bound = api.PREPARED_ROUTES
    for n in range(1, bound + 1):
        api.olhc(bars, "AAA", n)
    api.olhc(bars, "AAA", 1)  # touched: now the most recently used
    for n in range(bound + 1, bound + 6):
        api.olhc(bars, "AAA", n)
    kept = {key[2] for key in api._routes[bars]}
    assert len(kept) == bound
    assert 1 in kept and bound + 5 in kept
    assert not {2, 3, 4, 5, 6} & kept  # the least recently used went


def test_news_calls_each_run_their_own_shuffle(spark):
    news = spark.createDataFrame(
        [Row(title=f"t{i % 40}", time=datetime.datetime(2024, 1, 1) + datetime.timedelta(minutes=i),
             source="s") for i in range(200)]
    )
    answers = []
    for call in range(2):
        group = f"news-{call}"
        answers.append(_run_in_group(spark, group, api.news_latest(news)))
        jobs, _, shuffled = _group_stats(spark, group)
        # a re-executed adaptive plan would read the last call's shuffle output
        assert jobs >= 1 and shuffled > 0, (group, jobs, shuffled)
    assert answers[0] == answers[1] and len(answers[0]) == 6
