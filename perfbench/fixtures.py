"""Seeded input generators for the three benchmark workloads.

Every generator is a pure function of its seed (numpy PCG64), so the same
seed gives byte-identical files. Event rows carry the time the generator
stamped on them at creation (bar dates, tick and headline times); nothing
reads the wall clock.

* ``tpch_tables``   - the TPC-H-ish star schema + events/documents/embeddings
  that the frozen analytics queries read (same schemas and value domains as
  the engine's test data, TESTDATA.md).
* ``raw_bars``      - reference-shaped messy string daily bars (``api.backfill``
  input), with about 1% re-emitted rows.
* ``serve_ticks``   - one trading day of 10-second ticks per symbol.
* ``serve_news``    - headlines, about 10% of them re-published titles.
* ``tick_messages`` - Kafka-shaped JSON tick messages split into files, with
  bounded out-of-order arrival and about 1% duplicates.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

US = np.timedelta64(1, "us")
BAR_DUP_SHARE = 0.01  # raw bars re-emitted verbatim
NEWS_REPEAT_SHARE = 0.1  # headlines re-publishing an earlier title
TICK_MAX_LATENESS_S = 120  # arrival delay bound, well inside the 10-minute watermark
TICK_DUP_SHARE = 0.01  # tick messages delivered twice


def _rng(seed: int, stream: str) -> np.random.Generator:
    # independent stream per fixture, so adding one never shifts another
    return np.random.default_rng([seed, int.from_bytes(stream.encode(), "little") % 2**32])


def symbols(n: int) -> list[str]:
    return [f"S{i:03d}" for i in range(n)]


def weekdays(start: str, n: int) -> np.ndarray:
    days = pd.bdate_range(start, periods=n)
    return days.values.astype("datetime64[D]")


# ---------------------------------------------------------------------------
# analytics: TPC-H-ish tables
# ---------------------------------------------------------------------------

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_COLORS = ["blue", "hot", "small", "old", "red", "new", "cold", "large"]
_NOUNS = ["bolt", "gear", "anvil", "ring", "widget", "rod", "plate", "gizmo"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "row the query stream fast spark line small customer group value hash batch "
    "sort data big filter dup key agg scan slow table part a merge window order "
    "column join vector"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    off = rng.integers(0, int((hi_d - lo_d).astype(int)) + 1, n)
    return (lo_d + off).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tpch_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten tables of the engine's test data (TESTDATA.md) at scale ``sf``."""
    r = _rng(seed, "tpch")
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord, n_line = int(200_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_users = int(1_000_000 * sf), max(15, int(15_000 * sf))
    n_docs, n_vecs = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    i64, i32, f64, s, ts = pa.int64(), pa.int32(), pa.float64(), pa.string(), pa.timestamp("us")

    def tab(cols: dict, types: dict) -> pa.Table:
        return pa.table({k: pa.array(v, type=types[k]) for k, v in cols.items()})

    region = tab(
        {"r_regionkey": np.arange(5), "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
        {"r_regionkey": i32, "r_name": s},
    )
    nation = tab(
        {"n_nationkey": np.arange(25), "n_name": [f"NATION_{i}" for i in range(25)],
         "n_regionkey": np.arange(25) % 5},
        {"n_nationkey": i32, "n_name": s, "n_regionkey": i32},
    )
    customer = tab(
        {"c_custkey": np.arange(n_cust), "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
         "c_nationkey": r.integers(0, 25, n_cust), "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
         "c_mktsegment": r.choice(_SEGMENTS, n_cust)},
        {"c_custkey": i64, "c_name": s, "c_nationkey": i32, "c_acctbal": f64, "c_mktsegment": s},
    )
    supplier = tab(
        {"s_suppkey": np.arange(n_supp), "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
         "s_nationkey": r.integers(0, 25, n_supp), "s_acctbal": _money(r, -999.99, 9999.99, n_supp)},
        {"s_suppkey": i64, "s_name": s, "s_nationkey": i32, "s_acctbal": f64},
    )
    pk = np.arange(n_part)
    part = tab(
        {"p_partkey": pk,
         "p_name": [f"{_COLORS[a]} {_NOUNS[b]}" for a, b in zip(r.integers(0, 8, n_part), r.integers(0, 8, n_part))],
         "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
         "p_type": r.choice(_PTYPES, n_part), "p_size": r.integers(1, 51, n_part),
         "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2)},
        {"p_partkey": i64, "p_name": s, "p_brand": s, "p_type": s, "p_size": i32, "p_retailprice": f64},
    )
    orders = tab(
        {"o_orderkey": np.arange(n_ord), "o_custkey": r.integers(0, n_cust, n_ord),
         "o_orderstatus": r.choice(["F", "O", "P"], n_ord), "o_totalprice": _money(r, 1000.0, 500_000.0, n_ord),
         "o_orderdate": _days(r, "1995-01-01", "2001-08-01", n_ord),
         "o_orderpriority": r.choice(_PRIORITIES, n_ord)},
        {"o_orderkey": i64, "o_custkey": i64, "o_orderstatus": s, "o_totalprice": f64,
         "o_orderdate": ts, "o_orderpriority": s},
    )
    lineitem = tab(
        {"l_orderkey": r.integers(0, n_ord, n_line), "l_partkey": r.integers(0, n_part, n_line),
         "l_suppkey": r.integers(0, n_supp, n_line), "l_linenumber": r.integers(1, 8, n_line),
         "l_quantity": r.integers(1, 51, n_line).astype(float),
         "l_extendedprice": _money(r, 900.0, 105_000.0, n_line),
         "l_discount": np.round(r.uniform(0.0, 0.1, n_line), 2),
         "l_tax": np.round(r.uniform(0.0, 0.08, n_line), 2),
         "l_returnflag": r.choice(["A", "N", "R"], n_line), "l_linestatus": r.choice(["F", "O"], n_line),
         "l_shipdate": _days(r, "1995-01-02", "2001-11-04", n_line)},
        {"l_orderkey": i64, "l_partkey": i64, "l_suppkey": i64, "l_linenumber": i32, "l_quantity": f64,
         "l_extendedprice": f64, "l_discount": f64, "l_tax": f64, "l_returnflag": s,
         "l_linestatus": s, "l_shipdate": ts},
    )
    month_us = 30 * 86_400 * 1_000_000
    ev_ts = np.sort(r.integers(0, month_us, n_ev)) * US + np.datetime64("2024-01-01", "us")
    events = tab(
        {"event_id": np.arange(n_ev), "ts": ev_ts, "user_id": r.integers(0, n_users, n_ev),
         "event_type": r.choice(_EVENT_TYPES, n_ev), "value": _money(r, 0.01, 490.0, n_ev),
         "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)]},
        {"event_id": i64, "ts": ts, "user_id": i64, "event_type": s, "value": f64, "props": s},
    )
    texts: list[str] = []
    for k in range(n_docs):
        if k >= 10 and r.random() < 0.06:
            # near-duplicate: an earlier document with one word substituted
            words = texts[int(r.integers(0, k))].split()
            pos = int(r.integers(0, len(words)))
            words[pos] = _WORDS[(_WORDS.index(words[pos]) + 1) % len(_WORDS)]
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(r.choice(_WORDS, r.integers(10, 100))))
    documents = tab(
        {"doc_id": np.arange(n_docs), "text": texts,
         "lang": r.choice(_LANGS, n_docs, p=[0.44, 0.14, 0.14, 0.14, 0.14]),
         "source": [f"src{k}" for k in r.integers(0, 20, n_docs)],
         "n_chars": [len(t) for t in texts]},
        {"doc_id": i64, "text": s, "lang": s, "source": s, "n_chars": i64},
    )
    vecs = r.standard_normal((n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, n_vecs), i32),
    })
    return {
        "region": region, "nation": nation, "customer": customer, "supplier": supplier,
        "part": part, "orders": orders, "lineitem": lineitem, "events": events,
        "documents": documents, "embeddings": embeddings,
    }


def write_tpch(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# serve + ingest: daily bars, ticks, news
# ---------------------------------------------------------------------------


def _fmt_price(p: float, pad: str) -> str:
    return f"{p:,.2f}{pad}"


def raw_bars(seed: int, n_symbols: int, n_days: int) -> pd.DataFrame:
    """Messy string bars shaped like the reference scrape: ``dd/MM/yyyy``
    dates, comma thousands separators, trailing space or NBSP. About
    ``BAR_DUP_SHARE`` of the rows are re-emitted verbatim (keyed dedup input)."""
    r = _rng(seed, f"bars{n_symbols}x{n_days}")
    days = weekdays("2013-07-18", n_days)
    date_s = pd.to_datetime(days).strftime("%d/%m/%Y").to_numpy()
    frames = []
    for i, sym in enumerate(symbols(n_symbols)):
        close = np.maximum(1.0, 20.0 + i % 50 + np.cumsum(r.normal(0.0, 0.6, n_days)))
        close = np.round(close, 2)
        opn = np.round(np.maximum(0.5, close + r.normal(0.0, 0.3, n_days)), 2)
        high = np.round(np.maximum(opn, close) + r.uniform(0.0, 0.5, n_days), 2)
        low = np.round(np.maximum(0.01, np.minimum(opn, close) - r.uniform(0.0, 0.5, n_days)), 2)
        vol = r.integers(1, 2000, n_days) * 100
        val = (vol * close * 1000).astype(np.int64)
        pads = np.where(r.random(n_days) < 0.5, " ", "\u00a0")
        frames.append(pd.DataFrame({
            "symbol": sym, "date": date_s,
            "open": [_fmt_price(p, q) for p, q in zip(opn, pads)],
            "high": [_fmt_price(p, q) for p, q in zip(high, pads)],
            "low": [_fmt_price(p, q) for p, q in zip(low, pads)],
            "close": [_fmt_price(p, q) for p, q in zip(close, pads)],
            "volume": [f"{v:,} " for v in vol],
            "value": [f"{v:,} " for v in val],
        }))
    df = pd.concat(frames, ignore_index=True)
    dups = df.iloc[np.sort(r.choice(len(df), int(len(df) * BAR_DUP_SHARE), replace=False))]
    return pd.concat([df, dups], ignore_index=True)


def serve_ticks(seed: int, n_symbols: int, n_ticks: int, day: str) -> pd.DataFrame:
    """Typed intraday ticks: ``n_ticks`` at 10 s cadence from 09:30 per symbol."""
    r = _rng(seed, "serve_ticks")
    t0 = np.datetime64(f"{day}T09:30:00", "us")
    times = t0 + np.arange(n_ticks) * 10_000_000 * US
    frames = []
    for i, sym in enumerate(symbols(n_symbols)):
        px = np.round(np.maximum(1.0, 20.0 + i % 50 + np.cumsum(r.normal(0.0, 0.05, n_ticks))), 2)
        frames.append(pd.DataFrame({
            "symbol": sym, "time": times, "price": px,
            "volume": np.cumsum(r.integers(1, 50, n_ticks) * 100).astype(np.int64),
        }))
    return pd.concat(frames, ignore_index=True)


def serve_news(seed: int, n: int) -> pd.DataFrame:
    """Headlines at distinct, increasing times; about ``NEWS_REPEAT_SHARE`` of them
    re-publish an earlier title (the upsert-by-title case)."""
    r = _rng(seed, "news")
    gaps = r.integers(60, 3600, n)
    times = np.datetime64("2023-01-02T00:00:00", "us") + np.cumsum(gaps) * 1_000_000 * US
    titles: list[str] = []
    for k in range(n):
        if titles and r.random() < NEWS_REPEAT_SHARE:
            titles.append(titles[int(r.integers(0, len(titles)))])
        else:
            titles.append(f"headline {k}: " + " ".join(r.choice(_WORDS, 6)))
    return pd.DataFrame({
        "title": titles, "time": times,
        "source": [f"wire{k}" for k in r.integers(0, 8, n)],
        "summary": [" ".join(r.choice(_WORDS, 12)) for _ in range(n)],
    })


def write_partitioned(df: pd.DataFrame, out_dir: str, key: str) -> None:
    """Hive-style ``key=value`` directories, one file each, rows in input order."""
    for value, part in df.groupby(key, sort=True):
        d = os.path.join(out_dir, f"{key}={value}")
        os.makedirs(d, exist_ok=True)
        table = pa.Table.from_pandas(part.drop(columns=[key]), preserve_index=False)
        pq.write_table(table, os.path.join(d, "part-0.parquet"))


def tick_messages(
    seed: int, n_symbols: int, n_ticks: int, day: str, n_files: int,
) -> tuple[pd.DataFrame, list[list[str]]]:
    """Kafka-shaped JSON tick messages (string numerics, as the producer emits
    them) split into ``n_files`` files in arrival order.

    Arrival order is event order plus a bounded delay of at most
    ``TICK_MAX_LATENESS_S`` (well inside the pipeline's 10-minute watermark),
    and about ``TICK_DUP_SHARE`` of the messages are delivered twice, so the correct
    bars do not depend on how files fall into micro-batches. The last file
    ends with one tick on the next day, which advances the watermark past
    every real bar; its own bar never closes. Returns the distinct typed
    ticks (the ground truth) and the files' lines."""
    r = _rng(seed, "tick_messages")
    t0 = np.datetime64(f"{day}T09:30:00", "us")
    step_us = 10_000_000
    frames = []
    for i, sym in enumerate(symbols(n_symbols)):
        close = np.round(np.maximum(1.0, 20.0 + i % 50 + np.cumsum(r.normal(0.0, 0.05, n_ticks))), 2)
        # whole milliseconds, distinct per symbol: one tick per 10 s slot
        jitter = r.integers(0, step_us // 1000, n_ticks) * 1000
        frames.append(pd.DataFrame({
            "symbol": sym,
            "time": t0 + (np.arange(n_ticks) * step_us + jitter) * US,
            "close": close,
            "volume": np.cumsum(r.integers(1, 50, n_ticks) * 100).astype(np.int64),
        }))
    ticks = pd.concat(frames, ignore_index=True)
    arrival = ticks["time"].to_numpy() + r.integers(0, TICK_MAX_LATENESS_S * 1_000_000, len(ticks)) * US
    dup = r.choice(len(ticks), int(len(ticks) * TICK_DUP_SHARE), replace=False)
    idx = np.concatenate([np.arange(len(ticks)), dup])
    arr = np.concatenate([arrival, arrival[dup] + r.integers(0, 1_000_000, len(dup)) * US])
    order = idx[np.lexsort((idx, arr))]
    stamps = pd.DatetimeIndex(ticks["time"]).strftime("%Y-%m-%dT%H:%M:%S.%f").str[:-3]
    msgs = [_tick_json(s, t, c, v) for s, t, c, v in zip(
        ticks["symbol"].tolist(), stamps.tolist(), ticks["close"].tolist(), ticks["volume"].tolist())]
    lines = [msgs[k] for k in order]
    files = [lines[a:b] for a, b in _chunks(len(lines), n_files)]
    flush = pd.Timestamp(ticks["time"].iloc[0]) + pd.Timedelta(days=1)
    files[-1].append(_tick_json(ticks["symbol"].iloc[0], flush.strftime("%Y-%m-%dT%H:%M:%S.%f")[:-3],
                                float(ticks["close"].iloc[0]), int(ticks["volume"].iloc[0])))
    return ticks, files


def _chunks(n: int, k: int) -> list[tuple[int, int]]:
    bounds = [n * i // k for i in range(k + 1)]
    return list(zip(bounds[:-1], bounds[1:]))


def _tick_json(symbol: str, stamp: str, close: float, volume: int) -> str:
    s = f"{close:,.2f} "
    return json.dumps({
        "symbol": symbol, "time": stamp,
        "open": s, "high": s, "low": s, "close": s,
        "volume": f"{volume:,}",
        "previous_close": s, "ref": s, "ceil": f"{close * 1.07:,.2f}", "floor": f"{close * 0.93:,.2f}",
    })


def write_tick_files(files: list[list[str]], out_dir: str) -> list[str]:
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for k, lines in enumerate(files):
        p = os.path.join(out_dir, f"ticks-{k:04d}.json")
        with open(p, "w", encoding="utf-8") as f:
            f.write("\n".join(lines) + "\n")
        paths.append(p)
    return paths


def today_after(days: np.ndarray) -> str:
    """The weekday after the last bar date, as ``YYYY-MM-DD``."""
    last = pd.Timestamp(days[-1]).date()
    nxt = last + dt.timedelta(days=1)
    while nxt.weekday() >= 5:
        nxt += dt.timedelta(days=1)
    return nxt.isoformat()
