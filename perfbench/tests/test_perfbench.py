"""Tests of the benchmark itself (not of the engine).

Run from the repository root:

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import fixtures, reference, run  # noqa: E402
from perfbench.serve import Serve  # noqa: E402


def _digest_tree(path: str) -> dict[str, str]:
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, path)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _write_all(seed: int, out: str) -> None:
    fixtures.write_tpch(fixtures.tpch_tables(seed, 0.0005), os.path.join(out, "tables"))
    fixtures.raw_bars(seed, 3, 50).to_csv(os.path.join(out, "bars.csv"), index=False)
    ticks = fixtures.serve_ticks(seed, 3, 40, "2023-02-08")
    fixtures.write_partitioned(ticks, os.path.join(out, "ticks"), "symbol")
    fixtures.serve_news(seed, 50).to_parquet(os.path.join(out, "news.parquet"), index=False)
    _, files = fixtures.tick_messages(seed, 3, 40, "2023-02-08", 4)
    fixtures.write_tick_files(files, os.path.join(out, "tick_files"))


def test_same_seed_gives_byte_identical_fixtures(tmp_path):
    for name, seed in (("a", 7), ("b", 7), ("c", 8)):
        _write_all(seed, str(tmp_path / name))
    a, b, c = (_digest_tree(str(tmp_path / n)) for n in "abc")
    assert len(a) >= 15
    assert a == b
    assert a.keys() == c.keys() and a != c


def test_tick_files_hold_duplicates_and_late_ticks_within_the_watermark():
    ticks, files = fixtures.tick_messages(3, 4, 300, "2023-02-08", 5)
    msgs = [json.loads(line) for f in files for line in f]
    keys = [(m["symbol"], m["time"]) for m in msgs[:-1]]  # the last one is the watermark flush
    assert len(keys) > len(set(keys)) == len(ticks)
    times = [m["time"] for m in msgs[:-1]]
    assert times != sorted(times)
    assert msgs[-1]["time"][:10] == "2023-02-09"


def _fake_serve(bars, ticks, news):
    ctx = run.Context(1, "", trace=False)
    srv = Serve.__new__(Serve)
    srv.ctx = ctx
    srv.expected = reference.ServeExpected(bars, ticks, news)
    srv._correct = set()
    return srv, ctx


def test_tampered_expected_answer_raises_failed_share():
    raw = fixtures.raw_bars(1, 3, 30)
    bars = reference.with_indicators(reference.typed_bars(raw))
    ticks = fixtures.serve_ticks(1, 3, 20, "2023-02-08")
    news = fixtures.serve_news(1, 30)
    paths = ["/OLHC/S001/6", "/info/S002", "/realtime/S000", "/news"]
    bodies = {p: json.dumps(reference.ServeExpected(bars, ticks, news).body(p)).encode() for p in paths}

    def check(b):
        srv, ctx = _fake_serve(b, ticks, news)
        srv._check([{"path": p, "status": 200, "body": bodies[p]} for p in paths])
        return ctx.failed / ctx.attempted

    assert check(bars) == 0
    tampered = bars.copy()
    tampered.loc[tampered.index[-1], "ema_25"] += 1e-6
    assert check(tampered) > 0


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("spark"))
    session = run._start_spark(work)
    yield session
    run._stop_spark(session)


def test_status_reader_returns_the_named_fields(spark, tmp_path):
    from pyspark.sql import functions as F

    from perfbench.statusstore import SCAN_FIELDS, STAGE_FIELDS, StatusReader, streaming_progress

    reader = StatusReader(spark)
    path = str(tmp_path / "t.parquet")
    spark.range(5000).withColumn("k", F.col("id") % 7).write.parquet(path)
    reader.set_group("probe")
    df = spark.read.parquet(path).groupBy("k").count()
    n = df._jdf.queryExecution().toRdd().count()
    reader.clear_group()
    totals = reader.group_totals("probe")
    assert set(totals) == {"jobs", *STAGE_FIELDS}
    assert totals["jobs"] >= 1 and totals["tasks"] >= 1 and totals["shuffle_write_bytes"] > 0
    scan = reader.scan_totals(df)
    assert set(scan) == set(SCAN_FIELDS)
    assert n == 7 and scan["rows_scanned"] == 5000 and scan["files_read"] >= 1
    assert reader.jvm_pid() > 0

    src = tmp_path / "in"
    src.mkdir()
    (src / "a.txt").write_text("x\ny\n")
    q = (spark.readStream.text(str(src)).groupBy("value").count().writeStream
         .format("memory").queryName("probe_stream").outputMode("complete").start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    prog = streaming_progress(q)
    for k in ("addBatch", "queryPlanning", "walCommit", "commitOffsets", "rows", "state_rows",
              "state_memory_bytes"):
        assert prog[k], k
    assert prog["rows"] == [2] and prog["state_rows"] == [2]


def test_benchmark_json_matches_the_metrics_the_runner_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run._per_layer()


def test_tampered_expected_answer_fails_operations_end_to_end(tmp_path):
    """A full ``serve`` run whose pandas bars are off by one cent reports its
    operations failed instead of crashing."""
    import subprocess

    code = (
        "from perfbench import reference, run\n"
        "orig = reference.typed_bars\n"
        "reference.typed_bars = lambda raw: orig(raw).assign(close=lambda d: d['close'] + 0.01)\n"
        "raise SystemExit(run.main(['--workload', 'serve', '--seed', '5', '--seconds', '1']))\n"
    )
    proc = subprocess.run([sys.executable, "-c", code], cwd=ROOT, capture_output=True, text=True,
                          timeout=600)
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert result["correct"] is False and 0 < result["failed"] <= result["attempted"]
    share = re.search(r"failed_share=([0-9.e-]+)", lines[-2])
    assert share and float(share.group(1)) > 0
