"""Expected answers, recomputed in pandas from the generated fixtures.

Nothing here calls the engine: the formulas are SURVEY §2.11's canonical
indicator definitions and the serving endpoints' documented semantics,
written independently so that a wrong engine answer cannot also be the
expected one.
"""

from __future__ import annotations

import json
import math

import numpy as np
import pandas as pd

# relative/absolute tolerance for recomputed floats: Spark window sums and
# pandas rolling sums add in different orders
REL_TOL = 1e-9
ABS_TOL = 1e-9
EMA_N, RSI_N, SMA_N = 25, 14, 20  # the engine's default indicator windows


def _num(s: pd.Series) -> pd.Series:
    return s.str.replace(",", "", regex=False).str.strip()  # strip() covers NBSP


def typed_bars(raw: pd.DataFrame) -> pd.DataFrame:
    """Keyed dedup, ``dd/MM/yyyy`` dates, comma-stripped numbers."""
    df = raw.drop_duplicates(["symbol", "date"]).copy()
    days = pd.unique(df["date"])  # parse each distinct date string once
    parsed = dict(zip(days, pd.to_datetime(days, format="%d/%m/%Y").date))
    out = pd.DataFrame({"symbol": df["symbol"].to_numpy(), "date": df["date"].map(parsed).to_numpy()})
    for c in ("open", "high", "low", "close"):
        out[c] = _num(df[c]).astype("float64").to_numpy()
    for c in ("volume", "value"):
        out[c] = _num(df[c]).astype("int64").to_numpy()
    return out


def _rsi(close: pd.Series, n: int) -> pd.Series:
    diff = close.diff()
    gain = diff.clip(lower=0.0)
    loss = (-diff).clip(lower=0.0)
    n_diffs = diff.rolling(n, min_periods=1).count()
    g = gain.rolling(n, min_periods=1).mean()
    l_ = loss.rolling(n, min_periods=1).mean()
    out = 100.0 - 100.0 / (1.0 + g / l_)
    out = out.where(l_ != 0, 100.0).where((l_ != 0) | (g != 0), 50.0)
    return out.where(n_diffs >= n)


def with_indicators(bars: pd.DataFrame) -> pd.DataFrame:
    """change (abs, pct; first row 0), trailing SMA, Cutler RSI and
    recursive EMA (alpha = 2/(n+1), seeded with the first close) per
    symbol in date order."""
    parts = []
    for _, g in bars.sort_values(["symbol", "date"]).groupby("symbol", sort=True):
        g = g.copy()
        prev = g["close"].shift(1)
        g["change_abs"] = (g["close"] - prev).fillna(0.0)
        g["change_pct"] = ((g["close"] - prev) / prev).where(prev != 0).fillna(0.0)
        g[f"sma_{SMA_N}"] = g["close"].rolling(SMA_N).mean()
        g[f"rsi_{RSI_N}"] = _rsi(g["close"], RSI_N)
        g[f"ema_{EMA_N}"] = g["close"].ewm(span=EMA_N, adjust=False).mean()
        parts.append(g)
    return pd.concat(parts, ignore_index=True)


def tick_bars(ticks: pd.DataFrame) -> pd.DataFrame:
    """One-minute OHLC bars of distinct ticks: open/close are the closes at
    the first/last tick time, volume the largest cumulative volume."""
    t = ticks.sort_values(["symbol", "time"])
    t = t.assign(bar_start=t["time"].dt.floor("min"))
    g = t.groupby(["symbol", "bar_start"], sort=True)
    out = pd.DataFrame({
        "open": g["close"].first(), "high": g["close"].max(), "low": g["close"].min(),
        "close": g["close"].last(), "volume": g["volume"].max(), "n_ticks": g["close"].size(),
    }).reset_index()
    return out


# ---------------------------------------------------------------------------
# serving endpoints
# ---------------------------------------------------------------------------


def _json_rows(df: pd.DataFrame) -> list[dict]:
    """Rows as the HTTP shim emits them: dates/timestamps through ``str``."""
    recs = []
    for rec in df.to_dict("records"):
        out = {}
        for k, v in rec.items():
            if isinstance(v, pd.Timestamp):
                v = v.to_pydatetime()
            elif isinstance(v, np.generic):
                v = v.item()
            if isinstance(v, float) and math.isnan(v):
                v = None
            out[k] = v
        recs.append(out)
    return json.loads(json.dumps(recs, default=str))


class ServeExpected:
    """Expected JSON bodies for the four endpoints, computed lazily per key."""

    def __init__(self, bars: pd.DataFrame, ticks: pd.DataFrame, news: pd.DataFrame):
        self._bars = {s: g.sort_values("date", ascending=False) for s, g in bars.groupby("symbol")}
        last = ticks.sort_values("time").groupby("symbol").tail(1)
        self._ticks = {s: g for s, g in last.groupby("symbol")}
        latest = news.sort_values("time", ascending=False).drop_duplicates("title")
        self._news = _json_rows(latest.head(6))
        self._cache: dict[str, list[dict]] = {}

    def body(self, path: str) -> list[dict]:
        if path not in self._cache:
            parts = path.strip("/").split("/")
            if parts[0] == "OLHC":
                rows = _json_rows(self._bars[parts[1]].head(int(parts[2])))
            elif parts[0] == "info":
                rows = _json_rows(self._bars[parts[1]].head(2000))
            elif parts[0] == "realtime":
                rows = _json_rows(self._ticks[parts[1]])
            elif parts[0] == "news":
                rows = self._news
            else:
                raise KeyError(path)
            self._cache[path] = rows
        return self._cache[path]


def same_value(got, want) -> bool:
    if isinstance(want, float) and isinstance(got, (int, float)) and not isinstance(got, bool):
        return math.isclose(got, want, rel_tol=REL_TOL, abs_tol=ABS_TOL)
    return got == want


def rows_equal(got: list[dict], want: list[dict]) -> bool:
    """Same length, same keys, same values in order (floats within tolerance)."""
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        if g.keys() != w.keys() or not all(same_value(g[k], w[k]) for k in w):
            return False
    return True


def frame_matches(got: pd.DataFrame, want: pd.DataFrame, keys: list[str]) -> bool:
    """Order-insensitive frame equality on ``want``'s columns, floats within
    tolerance, NaN equal to NaN/None."""
    if len(got) != len(want) or not set(want.columns) <= set(got.columns):
        return False
    g = got[list(want.columns)].sort_values(keys).reset_index(drop=True)
    w = want.sort_values(keys).reset_index(drop=True)
    for c in want.columns:
        a, b = g[c].to_numpy(), w[c].to_numpy()
        if np.issubdtype(w[c].dtype, np.floating):
            a = a.astype("float64")
            if not np.allclose(a, b, rtol=REL_TOL, atol=ABS_TOL, equal_nan=True):
                return False
        elif not (a == b).all():
            return False
    return True
