"""The write path, timed by ``batch``'s traced run: tick streaming and
backfill.

Two operations:

* stream - ``streaming.ticks.run_tick_pipeline`` over JSON-lines tick files
  generated in set-up, outside the measured plan, read with a fixed
  ``max_files_per_trigger``. The files hold out-of-order ticks within the
  watermark and about 1% duplicates, so the correct bars do not depend on
  how files fall into micro-batches.
* backfill - ``api.backfill`` over the reference-shaped 10 x 2,382 messy
  string bars (normalize -> indicators -> symbol-partitioned parquet), the
  same layout ``serve`` reads.

Correctness: ``setup`` runs the stream once and compares its bars row by
row with a pandas recomputation of the SURVEY §2.11 formulas (``serve``
compares its set-up backfill the same way); the timed cycles are checked by
row count and column sums.
"""

from __future__ import annotations

import itertools
import os
import shutil
import time

import numpy as np

from perfbench import fixtures, reference
from perfbench.serve import raw_input_bytes, tree_files
from perfbench.statusstore import streaming_progress
from perfbench.tracing import median

N_SYMBOLS, N_DAYS = 10, 2382
N_TICKS, N_FILES = 2340, 4  # one trading day of 10 s ticks per symbol
# two triggers, so late ticks and duplicates cross a batch boundary and state
# carries over
FILES_PER_TRIGGER = 2
BAR_COLS = ["open", "high", "low", "close", "volume", "n_ticks"]


class Ingest:
    """The write path: ``setup`` makes the inputs and checks one stream run,
    ``run_traced`` times cycles of both operations."""

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.spark = ctx.spark
        self._ids = itertools.count()

    def setup(self) -> None:
        """Generate the bars and tick files, run the stream once and check
        its bars."""
        seed, work = self.ctx.seed, self.ctx.work
        self.raw = fixtures.raw_bars(seed, N_SYMBOLS, N_DAYS)
        self.raw_df = self.spark.createDataFrame(self.raw)
        self.bar_sums = self._sums(reference.with_indicators(reference.typed_bars(self.raw)),
                                   ["close", "ema_25", "rsi_14"])
        day = fixtures.today_after(fixtures.weekdays("2013-07-18", N_DAYS))
        ticks, files = fixtures.tick_messages(seed, N_SYMBOLS, N_TICKS, day, N_FILES)
        self.tick_dir = os.path.join(work, "tick_files")
        fixtures.write_tick_files(files, self.tick_dir)
        self.want_ticks = reference.tick_bars(ticks)
        self.tick_sums = self._sums(self.want_ticks, ["close", "volume", "n_ticks"])

        stream = self._stream()
        got = self.spark.read.parquet(stream["dir"]).toPandas()
        got["bar_start"] = got["bar_start"].astype("datetime64[us]")
        want = self.want_ticks.assign(bar_start=self.want_ticks["bar_start"].astype("datetime64[us]"))
        self._count(reference.frame_matches(got, want[["symbol", "bar_start"] + BAR_COLS],
                                            ["symbol", "bar_start"]), "streamed bars")
        shutil.rmtree(stream["dir"], ignore_errors=True)

    def _count(self, ok: bool, what: str) -> None:
        self.ctx.record(ok, f"{what} differ from the pandas recomputation")

    @staticmethod
    def _sums(df, cols) -> dict:
        return {"rows": len(df)} | {c: float(np.nansum(df[c].to_numpy(dtype="float64"))) for c in cols}

    def _spark_sums(self, path: str, cols) -> dict:
        from pyspark.sql import functions as F

        row = self.spark.read.parquet(path).agg(
            F.count(F.lit(1)).alias("rows"), *[F.sum(c).cast("double").alias(c) for c in cols]).first()
        return {k: (row[k] if row[k] is not None else 0.0) for k in row.asDict()}

    def _matches(self, got: dict, want: dict) -> bool:
        return got["rows"] == want["rows"] and all(
            np.isclose(got[k], want[k], rtol=1e-9, atol=1e-6) for k in want if k != "rows")

    # -- operations --------------------------------------------------------

    def _backfill(self) -> dict:
        from soict20221_bigdata_financialplatform_spark import api

        out = os.path.join(self.ctx.work, f"bars-{next(self._ids)}")
        t0 = time.perf_counter()
        api.backfill(self.raw_df, out)
        return {"dir": out, "s": time.perf_counter() - t0}

    def _stream(self) -> dict:
        from soict20221_bigdata_financialplatform_spark.streaming import ticks

        k = next(self._ids)
        out = os.path.join(self.ctx.work, f"stream-{k}")
        ckpt = os.path.join(self.ctx.work, f"ckpt-{k}")
        query = ticks.run_tick_pipeline(self.spark, self.tick_dir, out, ckpt,
                                        max_files_per_trigger=FILES_PER_TRIGGER)
        try:
            query.processAllAvailable()
        finally:
            query.stop()
        shutil.rmtree(ckpt, ignore_errors=True)
        return {"dir": out, "query": query}

    def timed_backfill(self) -> dict:
        op = self._backfill()
        self._count(self._matches(self._spark_sums(op["dir"], ["close", "ema_25", "rsi_14"]), self.bar_sums),
                    "backfill sums")
        op["files"], op["bytes"] = tree_files(op["dir"])
        shutil.rmtree(op["dir"], ignore_errors=True)
        return op

    def timed_stream(self) -> dict:
        op = self._stream()
        self._count(self._matches(self._spark_sums(op["dir"], ["close", "volume", "n_ticks"]), self.tick_sums),
                    "streamed bar sums")
        op["files"] = tree_files(op["dir"])[0]
        shutil.rmtree(op["dir"], ignore_errors=True)
        return op

    # -- traced run --------------------------------------------------------

    def run_traced(self, seconds: float) -> dict:
        """Untraced and traced cycles alternate. An untraced cycle is one
        backfill, the baseline of the tracing overhead. A traced cycle times
        ``normalize_bars`` and ``with_indicators`` each into a noop sink,
        then a backfill and a stream run, whose streaming progress gives the
        trigger phases."""
        from soict20221_bigdata_financialplatform_spark.functions.indicators import with_indicators
        from soict20221_bigdata_financialplatform_spark.functions.normalize import normalize_bars

        tracer = self.ctx.tracer
        self.timed_backfill()  # untimed: the first backfill in this JVM is cold
        plain, traced, streams = [], [], []
        deadline = time.perf_counter() + seconds
        cycle = 0
        while cycle < 2 or time.perf_counter() < deadline:
            if cycle % 2 == 0:
                plain.append(self.timed_backfill()["s"])
            else:
                with tracer.span("normalize", op=cycle):
                    normalize_bars(self.raw_df).write.format("noop").mode("overwrite").save()
                with tracer.span("indicators", op=cycle):
                    with_indicators(normalize_bars(self.raw_df)).write.format("noop").mode("overwrite").save()
                with tracer.span("backfill", op=cycle):
                    traced.append(self.timed_backfill())
                with tracer.span("stream", op=cycle):
                    streams.append(self.timed_stream())
            cycle += 1
        prog = [streaming_progress(op["query"]) for op in streams]
        phase = {k: [v for p in prog for v in p[k]] for k in prog[0]}
        out = {
            "normalize.s": median(tracer.durations("normalize")),
            "indicators.s": median(tracer.durations("indicators")),
            "backfill.write_s": median(op["s"] for op in traced),
            "backfill.files_written": median(op["files"] for op in traced),
            "backfill.bytes_per_input_byte": median(op["bytes"] for op in traced) / raw_input_bytes(self.raw),
            "streaming.state_rows": median(phase["state_rows"]),
            "streaming.state_memory_bytes": median(phase["state_memory_bytes"]),
            "streaming.sink_files_written": median(op["files"] for op in streams),
            "untraced_s": median(plain),
            "traced_s": median(op["s"] for op in traced),
        }
        for k in ("addBatch", "queryPlanning", "walCommit", "commitOffsets"):
            out[f"streaming.{k}_ms"] = median(phase[k])
        return out
