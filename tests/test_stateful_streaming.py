"""applyInPandasWithState: state carries across micro-batches."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from soict20221_bigdata_financialplatform_spark.streaming import ticks as st
from soict20221_bigdata_financialplatform_spark.streaming.stateful import (
    running_symbol_stats,
)
from tests.test_streaming import _msg, _write_file


def test_running_stats_across_batches(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    sink = str(tmp_path / "mem")
    _write_file(str(src), "b1.json", [
        _msg("FPT", "2024-01-02 09:30:05", "80.0"),
        _msg("FPT", "2024-01-02 09:30:25", "82.0"),
        _msg("VIC", "2024-01-02 09:30:10", "55.0"),
    ])
    raw = st.read_tick_stream_json(spark, str(src), max_files_per_trigger=1)
    stats = running_symbol_stats(st.decode_ticks(raw))
    q = (
        stats.writeStream.outputMode("update")
        .format("memory")
        .queryName("running_stats")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        _write_file(str(src), "b2.json", [
            _msg("FPT", "2024-01-02 09:31:00", "79.0"),  # new low
        ])
        q.processAllAvailable()
        rows = spark.sql(
            "SELECT * FROM running_stats"
        ).collect()
    finally:
        q.stop()

    # last emitted FPT row reflects state accumulated over BOTH batches
    fpt = [r for r in rows if r.symbol == "FPT"]
    final = max(fpt, key=lambda r: r.n_ticks)
    assert final.n_ticks == 3
    assert final.high == 82.0 and final.low == 79.0
    assert final.last_price == 79.0
    vic = [r for r in rows if r.symbol == "VIC"]
    assert max(v.n_ticks for v in vic) == 1


def test_synthetic_tick_stream_and_enrichment(spark, tmp_path):
    from pyspark.sql import Row
    from soict20221_bigdata_financialplatform_spark.streaming.ticks import (
        enrich_ticks,
        synthetic_tick_stream,
    )

    raw = synthetic_tick_stream(spark, symbols=("FPT", "VIC"), rows_per_second=200)
    assert raw.isStreaming
    dim = spark.createDataFrame(
        [Row(symbol="FPT", sector="tech"), Row(symbol="VIC", sector="realestate")]
    )
    typed = st.decode_ticks(raw.selectExpr(
        "to_json(struct(*)) AS value"  # roundtrip through the wire format
    ))
    enriched = enrich_ticks(typed, dim)
    q = (
        enriched.writeStream.outputMode("append").format("memory")
        .queryName("enriched_ticks")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        import time as _t

        # NB: processAllAvailable() can block indefinitely on a rate source
        # (new data keeps arriving) — poll the sink instead.
        deadline = _t.time() + 30
        rows = []
        while _t.time() < deadline:
            rows = spark.sql("SELECT * FROM enriched_ticks").collect()
            if len(rows) >= 10:
                break
            _t.sleep(0.5)
    finally:
        q.stop()
    assert len(rows) >= 10
    assert {r.sector for r in rows} <= {"tech", "realestate"}
    assert all(r.close is not None for r in rows)  # wire roundtrip decoded


def test_running_stats_state_survives_query_restart(spark, tmp_path):
    """Custom GroupState must survive a query RESTART from checkpoint —
    a different failure mode than the windowed-agg restart test
    (test_streaming.py): here the state is the operator's own pickled
    (high, low, last, count) tuple in the state store, not engine
    window state. Kill the query after batch 1, start a NEW query on
    the same checkpoint, feed batch 2, and the running stats must
    continue from the persisted state, not restart from zero.
    (The memory sink refuses checkpoint recovery, so the snapshots go
    through a foreachBatch parquet sink — recovery-capable, and the
    production sink shape anyway.)"""
    src = tmp_path / "src"; src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def _start():
        raw = st.read_tick_stream_json(spark, str(src))
        stats = running_symbol_stats(st.decode_ticks(raw))

        def _sink(df, batch_id):
            df.withColumn("__batch", F.lit(batch_id)).write.mode(
                "append"
            ).parquet(out)

        return (
            stats.writeStream.outputMode("update").foreachBatch(_sink)
            .option("checkpointLocation", ckpt).start()
        )

    _write_file(str(src), "b1.json", [
        _msg("FPT", "2024-01-02 09:30:05", "80.0"),
        _msg("FPT", "2024-01-02 09:30:25", "84.0"),
    ])
    q1 = _start()
    try:
        q1.processAllAvailable()
    finally:
        q1.stop()
    first = {r.symbol: r for r in spark.read.parquet(out).collect()}
    assert first["FPT"].n_ticks == 2 and first["FPT"].high == 84.0

    _write_file(str(src), "b2.json", [
        _msg("FPT", "2024-01-02 09:31:00", "79.0"),   # post-restart new low
        _msg("VIC", "2024-01-02 09:31:05", "55.0"),   # fresh key post-restart
    ])
    q2 = _start()
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    rows = spark.read.parquet(out).collect()

    fpt = max((r for r in rows if r.symbol == "FPT"),
              key=lambda r: r.n_ticks)
    # state restored: count covers both runs, high remembers batch 1,
    # low reflects batch 2
    assert fpt.n_ticks == 3
    assert fpt.high == 84.0 and fpt.low == 79.0 and fpt.last_price == 79.0
    vic = [r for r in rows if r.symbol == "VIC"]
    assert len(vic) == 1 and vic[0].n_ticks == 1
