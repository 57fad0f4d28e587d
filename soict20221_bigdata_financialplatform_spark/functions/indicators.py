"""Technical-indicator library (SURVEY §2.11) with pinned canonical semantics.

The reference computes indicators three different, mutually inconsistent ways
(batch Spark ``pipeline/util/util.py:76-105``, pandas ``warehouse.py:179-181``,
and the deleted ``compute.py``). This module pins ONE canonical definition per
indicator and implements it in a single window pass per key — no self-join
(the reference's RSI outer-join at util.py:95-97 both shuffles twice and drops
``symbol`` from the join key, a correctness bug at >1 symbol).

Canonical semantics (documented + golden-tested):

- ``change_abs``  = close_t − close_{t−1}            (reference to_db.py:45)
- ``change_pct``  = close_t/close_{t−1} − 1; null when close_{t−1} = 0
                    (reference warehouse.py:181)
- ``sma(n)``      = mean of the trailing n closes (null until n seen)
- ``ema(n)``      = recursive EMA, α=2/(n+1), seeded with the first close:
                    EMA_1 = c_1; EMA_t = α·c_t + (1−α)·EMA_{t−1}
                    (== pandas ``ewm(span=n, adjust=False).mean()``)
- ``rsi(n)``      = Cutler RSI over the last n diffs (simple means, matching
                    the reference's Spark form minus its bugs):
                    RSI = 100 − 100/(1 + avgGain_n/avgLoss_n); 100 when
                    avgLoss==0 and avgGain>0; 50 when both are 0; null until
                    n diffs seen.

Scale notes: every indicator is ONE hash-exchange on the key column followed
by an in-partition sort — all indicators over the same key reuse the exchange
(Catalyst EnsureRequirements sees identical partitioning). EMA is the only
non-SQL-expressible recursion; it runs as a grouped ``applyInPandas`` (Arrow
batches, linear per key) — per-key cardinality is bounded (a price series per
symbol), so a group always fits an executor.
"""

from __future__ import annotations

from collections.abc import Sequence

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _wspec(key_cols: Sequence[str], order_col: str | Sequence[str]):
    # order_col may be a composite (col, tiebreak) sequence — every window
    # here feeds order-sensitive math, so non-unique sort keys need one.
    oc = [order_col] if isinstance(order_col, str) else list(order_col)
    return Window.partitionBy(*key_cols).orderBy(*oc)


def change_abs(
    df: DataFrame,
    key_cols: Sequence[str] = ("symbol",),
    order_col: str = "date",
    value_col: str = "close",
    out_col: str = "change_abs",
) -> DataFrame:
    """W1+F4: absolute day-over-day change (reference to_db.py:45)."""
    w = _wspec(key_cols, order_col)
    return df.withColumn(out_col, F.col(value_col) - F.lag(value_col).over(w))


def change_pct(
    df: DataFrame,
    key_cols: Sequence[str] = ("symbol",),
    order_col: str = "date",
    value_col: str = "close",
    out_col: str = "change_pct",
) -> DataFrame:
    """F6: percent change (reference warehouse.py:181, pandas pct_change).
    Zero previous value → null (ANSI-safe: the division is guarded, never
    evaluated on a zero divisor)."""
    w = _wspec(key_cols, order_col)
    prev = F.lag(value_col).over(w)
    return df.withColumn(
        out_col, F.when(prev != 0, (F.col(value_col) - prev) / prev)
    )


def sma(
    df: DataFrame,
    n: int,
    key_cols: Sequence[str] = ("symbol",),
    order_col: str = "date",
    value_col: str = "close",
    out_col: str | None = None,
) -> DataFrame:
    """A3: trailing n-row simple moving average; null during warm-up
    (reference frame semantics at util.py:93-94, canonicalized to exactly n
    rows ending at the current row).

    NULL values starve the frame (the count guard keeps the output NULL);
    NULL ORDER keys are undefined order across the indicator family (Spark
    windows sort them first, the pandas EMA path sorts them last) — filter
    or impute upstream, same contract as ``ema_segmented``. Pinned in
    tests/test_dirty_data.py."""
    out_col = out_col or f"sma_{n}"
    w = _wspec(key_cols, order_col).rowsBetween(-(n - 1), 0)
    cnt = F.count(value_col).over(w)
    return df.withColumn(out_col, F.when(cnt >= n, F.avg(value_col).over(w)))


def rolling_min(
    df: DataFrame,
    n: int,
    key_cols: Sequence[str] = ("symbol",),
    order_col: str = "date",
    value_col: str = "close",
    out_col: str | None = None,
) -> DataFrame:
    w = _wspec(key_cols, order_col).rowsBetween(-(n - 1), 0)
    return df.withColumn(out_col or f"min_{n}", F.min(value_col).over(w))


def rolling_max(
    df: DataFrame,
    n: int,
    key_cols: Sequence[str] = ("symbol",),
    order_col: str = "date",
    value_col: str = "close",
    out_col: str | None = None,
) -> DataFrame:
    w = _wspec(key_cols, order_col).rowsBetween(-(n - 1), 0)
    return df.withColumn(out_col or f"max_{n}", F.max(value_col).over(w))


def rsi(
    df: DataFrame,
    n: int = 14,
    key_cols: Sequence[str] = ("symbol",),
    order_col: str = "date",
    value_col: str = "close",
    out_col: str | None = None,
) -> DataFrame:
    """Cutler RSI in one window pass (reference util.py:84-105 re-expressed
    without the avg_gain⨝avg_loss outer join J1 and its missing-symbol key).

    diff_t = c_t − c_{t−1}; gain = max(diff,0); loss = max(−diff,0);
    RSI = 100 − 100/(1 + mean(gain,n)/mean(loss,n)) over the last n diffs.
    """
    out_col = out_col or f"rsi_{n}"
    w = _wspec(key_cols, order_col)
    wn = _wspec(key_cols, order_col).rowsBetween(-(n - 1), 0)
    diff = F.col(value_col) - F.lag(value_col).over(w)
    gain = F.when(diff > 0, diff).otherwise(F.when(diff.isNotNull(), F.lit(0.0)))
    loss = F.when(diff < 0, -diff).otherwise(F.when(diff.isNotNull(), F.lit(0.0)))
    tmp_g, tmp_l = f"__{out_col}_gain", f"__{out_col}_loss"
    out = df.withColumn(tmp_g, gain).withColumn(tmp_l, loss)
    n_diffs = F.count(tmp_g).over(wn)
    avg_gain = F.avg(tmp_g).over(wn)
    avg_loss = F.avg(tmp_l).over(wn)
    rsi_val = (
        F.when(n_diffs < n, F.lit(None).cast("double"))
        .when((avg_loss == 0) & (avg_gain == 0), F.lit(50.0))
        .when(avg_loss == 0, F.lit(100.0))
        .otherwise(100.0 - 100.0 / (1.0 + avg_gain / avg_loss))
    )
    return out.withColumn(out_col, rsi_val).drop(tmp_g, tmp_l)


def ema(
    df: DataFrame,
    n: int = 25,
    key_cols: Sequence[str] = ("symbol",),
    order_col: str = "date",
    value_col: str = "close",
    out_col: str | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Recursive EMA via grouped ``applyInPandas`` (SURVEY §2.11 canonical:
    α=2/(n+1), adjust=False, seeded with the first value — exactly pandas
    ``ewm(span=n, adjust=False).mean()``; mirrors the recovered ``compute.py``
    EWM path rather than the degenerate loop at reference util.py:76-82).

    One shuffle on the key; linear work per key inside an Arrow batch. Null
    values propagate pandas-style (skipped by ewm, re-aligned on output).
    """
    out_col = out_col or f"ema_{n}"
    out_schema = T.StructType(
        list(df.schema.fields) + [T.StructField(out_col, T.DoubleType())]
    )
    if num_partitions is not None:
        # The pandas stage pays a fixed Arrow-stream cost per shuffle
        # partition; when keys ≪ shuffle.partitions, fewer fatter partitions
        # are faster. Callers with cluster-scale key counts leave this None.
        df = df.repartition(num_partitions, *key_cols)
    order_cols = [order_col] if isinstance(order_col, str) else list(order_col)

    def _ema_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_cols, kind="mergesort")
        pdf[out_col] = (
            pdf[value_col].astype("float64").ewm(span=n, adjust=False).mean()
        )
        return pdf

    return df.groupBy(*key_cols).applyInPandas(_ema_group, schema=out_schema)


def ema_segmented(
    df: DataFrame,
    n: int = 25,
    key_cols: Sequence[str] = ("symbol",),
    order_col: str = "date",
    value_col: str = "close",
    out_col: str | None = None,
    segment_col=None,
) -> DataFrame:
    """Segment-chained EMA — the 100 TB form of :func:`ema` for keys whose
    full history does NOT fit one executor's pandas frame.

    The recursion y_t = α·x_t + (1−α)·y_{t−1} is linear, so a segment's
    output decomposes as ``y_t = D_t·seed + C_t`` where ``C_t`` is the
    zero-seeded fold over the segment's own values and ``D_t = (1−α)^(t+1)``
    is the surviving weight of whatever entered the segment. Three stages,
    none of which ever holds more than ONE SEGMENT of one key in memory:

    1. per (key, segment) ``applyInPandas``: emit C_t, D_t per row (pandas
       ewm over a zero-prepended series — vectorized, linear);
    2. per key, chain seeds over the per-segment SUMMARY rows (one row per
       segment: last C, last D, first value): segment 1's seed is its own
       first value — algebraically exact vs pandas ``adjust=False`` — and
       seed_{k+1} = D_e·seed_k + C_e. O(segments) rows, trivially fits;
    3. co-partitioned join of seeds back on (key, segment), then the final
       projection ``y = D·seed + C``.

    Equivalent to :func:`ema` (equivalence-tested; floating-point summation
    order differs so agreement is ~1e-12 relative, not bit-exact — use
    :func:`ema` when a key fits one frame and bit-parity with pandas
    matters). Nulls in ``value_col`` raise: pandas renormalizes decay across
    NaN gaps, which breaks the seed-chaining algebra (densify first).

    ``segment_col`` defaults to ``year(order_col)``; any expression with
    segment-order == order-order works (month buckets for second-level data).
    """
    import numpy as np

    out_col = out_col or f"ema_{n}"
    alpha = 2.0 / (n + 1)
    seg = F.year(F.col(order_col)) if segment_col is None else segment_col
    base = df.withColumn("__seg", seg.cast("long"))

    cold_schema = T.StructType(
        list(base.schema.fields)
        + [
            T.StructField("__c", T.DoubleType()),
            T.StructField("__d", T.DoubleType()),
            T.StructField("__first", T.DoubleType()),
        ]
    )

    def _cold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values([order_col], kind="mergesort")
        x = pdf[value_col].astype("float64")
        if x.isna().any():
            raise ValueError(
                "ema_segmented requires non-null values (pandas NaN decay "
                "renormalization breaks seed chaining) — densify first"
            )
        # zero-seeded fold: prepend 0.0 so pandas' own ewm kernel computes
        # c_t = α·x_t + (1−α)·c_{t−1} with c_{-1} = 0 (same fused
        # multiply-accumulate as ema()'s kernel).
        c = (
            pd.concat([pd.Series([0.0]), x], ignore_index=True)
            .ewm(span=n, adjust=False)
            .mean()
            .iloc[1:]
            .to_numpy()
        )
        pdf["__c"] = c
        pdf["__d"] = (1.0 - alpha) ** np.arange(1, len(x) + 1, dtype="float64")
        pdf["__first"] = x.iloc[0]
        return pdf

    cold = base.groupBy(*key_cols, "__seg").applyInPandas(
        _cold, schema=cold_schema
    )
    # Stage 2 input: ONE ROW PER SEGMENT (max_by/min_by on the ordered col) —
    # the only state that crosses segment boundaries.
    summaries = cold.groupBy(*key_cols, "__seg").agg(
        F.max_by("__c", F.col(order_col)).alias("__c_end"),
        F.max_by("__d", F.col(order_col)).alias("__d_end"),
        F.min_by("__first", F.col(order_col)).alias("__x_first"),
    )

    seed_schema = T.StructType(
        [f for f in summaries.schema.fields if f.name in (*key_cols, "__seg")]
        + [T.StructField("__seed", T.DoubleType())]
    )

    def _chain(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["__seg"], kind="mergesort")
        seeds = []
        seed = None
        for c_end, d_end, x_first in zip(
            pdf["__c_end"], pdf["__d_end"], pdf["__x_first"]
        ):
            if seed is None:
                seed = float(x_first)  # first-value seeding == pandas
            seeds.append(seed)
            seed = d_end * seed + c_end  # this segment's last y
        pdf["__seed"] = seeds
        return pdf[[*key_cols, "__seg", "__seed"]]

    seeds = summaries.groupBy(*key_cols).applyInPandas(
        _chain, schema=seed_schema
    )
    return (
        cold.join(seeds, on=[*key_cols, "__seg"])  # co-partitioned on key
        .withColumn(out_col, F.col("__d") * F.col("__seed") + F.col("__c"))
        .drop("__seg", "__c", "__d", "__first", "__seed")
    )


def holt_linear(
    df: DataFrame,
    alpha: float = 0.2,
    beta: float = 0.1,
    key_cols: Sequence[str] = ("symbol",),
    order_col: str | Sequence[str] = "date",
    value_col: str = "close",
    num_partitions: int | None = None,
) -> DataFrame:
    """Holt's linear-trend double exponential smoothing per key — the
    forecasting extension of the EMA family (level + trend recursions,
    one-step-ahead forecast = level + trend):

        level_t = α·x_t + (1−α)·(level_{t−1} + trend_{t−1})
        trend_t = β·(level_t − level_{t−1}) + (1−β)·trend_{t−1}
        seeds: level_1 = x_1, trend_1 = 0

    Same execution shape as :func:`ema`/:func:`macd`: ONE grouped
    ``applyInPandas`` pass, both recursions in the same linear loop over
    the Arrow batch. Complement coefficients are computed as ``1.0 − α``
    (never a pre-folded literal): 1−0.2 is NOT the double nearest 0.8, and
    cross-engine bit-parity requires the identical expression tree."""
    import numpy as np

    out_schema = T.StructType(
        list(df.schema.fields)
        + [
            T.StructField("holt_level", T.DoubleType()),
            T.StructField("holt_trend", T.DoubleType()),
        ]
    )
    if num_partitions is not None:
        df = df.repartition(num_partitions, *key_cols)
    # Accept a composite sort key: the recursion is order-sensitive, so
    # callers whose order_col is not unique per key MUST pass a tiebreak.
    order_cols = [order_col] if isinstance(order_col, str) else list(order_col)

    def _grp(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_cols, kind="mergesort")
        x = pdf[value_col].astype("float64").to_numpy()
        n = len(x)
        lvl = np.empty(n)
        trd = np.empty(n)
        if n:
            level, trend = x[0], 0.0
            lvl[0], trd[0] = level, trend
            for i in range(1, n):
                new_level = alpha * x[i] + (1.0 - alpha) * (level + trend)
                trend = beta * (new_level - level) + (1.0 - beta) * trend
                level = new_level
                lvl[i], trd[i] = level, trend
        pdf["holt_level"] = lvl
        pdf["holt_trend"] = trd
        return pdf

    return df.groupBy(*key_cols).applyInPandas(_grp, schema=out_schema)


def bollinger(
    df: DataFrame,
    n: int = 20,
    k: float = 2.0,
    key_cols: Sequence[str] = ("symbol",),
    order_col: str = "date",
    value_col: str = "close",
) -> DataFrame:
    """Bollinger bands: trailing-n SMA midline ± k sample standard
    deviations, plus %B position within the band. Null during warm-up
    (< n rows), matching :func:`sma`'s frame semantics.

    Extends the reference's indicator family (to_db.py:40-49 computes
    change/EMA/RSI; SMA/stddev are the same one-exchange window shape).
    ONE hash exchange on the key; mid/sd/bands are all over the identical
    frame so Catalyst computes them in a single Window node. %B division is
    ANSI-guarded (flat band → null)."""
    w = _wspec(key_cols, order_col).rowsBetween(-(n - 1), 0)
    cnt = F.count(value_col).over(w)
    mid = F.when(cnt >= n, F.avg(value_col).over(w))
    sd = F.when(cnt >= n, F.stddev_samp(value_col).over(w))
    upper = mid + F.lit(k) * sd
    lower = mid - F.lit(k) * sd
    pct_b = F.when(
        upper != lower, (F.col(value_col) - lower) / (upper - lower)
    )
    return (
        df.withColumn(f"bb_mid_{n}", mid)
        .withColumn(f"bb_upper_{n}", upper)
        .withColumn(f"bb_lower_{n}", lower)
        .withColumn(f"bb_pct_{n}", pct_b)
    )


def macd(
    df: DataFrame,
    fast: int = 12,
    slow: int = 26,
    signal: int = 9,
    key_cols: Sequence[str] = ("symbol",),
    order_col: str = "date",
    value_col: str = "close",
    num_partitions: int | None = None,
) -> DataFrame:
    """MACD: EMA(fast) − EMA(slow), a signal EMA over that line, and the
    histogram (line − signal). All three recursions run in ONE grouped
    ``applyInPandas`` pass — one shuffle on the key, three linear ewm scans
    inside the same Arrow batch (composing :func:`ema` three times would
    shuffle three times and cross Arrow six times).

    Semantics pinned to pandas ``ewm(span=·, adjust=False)`` seeded with the
    first value — the same canonical recursion as :func:`ema` (reference
    to_db.py:40-49 stops at one EMA; MACD is its standard extension)."""
    line_col, sig_col, hist_col = "macd_line", "macd_signal", "macd_hist"
    out_schema = T.StructType(
        list(df.schema.fields)
        + [
            T.StructField(line_col, T.DoubleType()),
            T.StructField(sig_col, T.DoubleType()),
            T.StructField(hist_col, T.DoubleType()),
        ]
    )
    if num_partitions is not None:
        df = df.repartition(num_partitions, *key_cols)
    order_cols = [order_col] if isinstance(order_col, str) else list(order_col)

    def _macd_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_cols, kind="mergesort")
        v = pdf[value_col].astype("float64")
        line = (
            v.ewm(span=fast, adjust=False).mean()
            - v.ewm(span=slow, adjust=False).mean()
        )
        sig = line.ewm(span=signal, adjust=False).mean()
        pdf[line_col] = line
        pdf[sig_col] = sig
        pdf[hist_col] = line - sig
        return pdf

    return df.groupBy(*key_cols).applyInPandas(_macd_group, schema=out_schema)


def running_vwap(
    df: DataFrame,
    key_cols: Sequence[str],
    order_cols: Sequence[str],
    price_col: str,
    qty_col: str,
    amount_col: str | None = None,
) -> DataFrame:
    """Running volume-weighted average price per key: cumulative
    Σ(price·qty) / Σ(qty) in ``order_cols`` order (pass a unique tiebreak —
    a running sum's value depends on frame order).

    ``amount_col`` short-circuits the multiply when the notional amount is
    already materialized (e.g. lineitem's extendedprice). The running sums
    are emitted rounded (2) and the ratio is taken over the ROUNDED sums,
    UNROUNDED (float policy: accumulations round, single-op per-row ratios
    never do — IEEE division of identical operands is engine-reproducible;
    re-rounding the quotient splits on decimal half-way cases). One window
    exchange; zero-qty prefix is ANSI-guarded."""
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    amount = (
        F.col(amount_col)
        if amount_col is not None
        else F.col(price_col) * F.col(qty_col)
    )
    run_amt = F.round(F.sum(amount).over(w), 2)
    run_qty = F.round(F.sum(qty_col).over(w), 2)
    return (
        df.withColumn("run_amount", run_amt)
        .withColumn("run_qty", run_qty)
        .withColumn(
            "vwap",
            F.when(
                F.col("run_qty") != 0,
                F.col("run_amount") / F.col("run_qty"),
            ),
        )
    )


def with_indicators(
    df: DataFrame,
    key_cols: Sequence[str] = ("symbol",),
    order_col: str = "date",
    value_col: str = "close",
    ema_n: int = 25,
    rsi_n: int = 14,
    sma_n: int = 20,
    ema_partitions: int | None = None,
) -> DataFrame:
    """The full indicator backfill (reference to_db.py:40-49 pipeline:
    change → EMA → RSI, plus SMA), composed so all window ops share one
    exchange on the key. ``ema_partitions`` forwards to :func:`ema` (fewer,
    fatter partitions for the pandas stage when the key universe is small)."""
    out = change_abs(df, key_cols, order_col, value_col)
    out = change_pct(out, key_cols, order_col, value_col)
    out = sma(out, sma_n, key_cols, order_col, value_col)
    out = rsi(out, rsi_n, key_cols, order_col, value_col)
    out = ema(out, ema_n, key_cols, order_col, value_col,
              num_partitions=ema_partitions)
    return out
