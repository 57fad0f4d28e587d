"""Local stand-in for the driver's t2 correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` twin on DuckDB over the
same parquet dir, compare row count, schema (column names), and
order-insensitive values.

Usage: python tools/parity_check.py [sf_dir] [query ...]
       python tools/parity_check.py --audit [sf_dir] [query ...]

``--audit`` is the output-TYPE audit: for every oracle query it compares the
Spark result schema (lazy — no job) against the DuckDB result types and FAILS
on (a) driver-hasher-risky DuckDB types — HUGEINT, UHUGEINT, DECIMAL,
TIMESTAMP_NS — and (b) any Spark↔DuckDB column type mismatch. Value parity
can be green while the driver's value-canonicalizing hasher still splits on
these (round-1 q50 DECIMAL, round-2 q38 window-sum HUGEINT), so run the audit
before promoting a query into the driver window.
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from soict20221_bigdata_financialplatform_spark.queries import ORACLE, QUERIES
from soict20221_bigdata_financialplatform_spark.session import get_spark
from soict20221_bigdata_financialplatform_spark.sources import TABLES

# Spark's console progress bar writes to stderr without a newline, so with
# stderr merged into stdout it would glue itself in front of a PASS/FAIL line.
QUIET = {"spark.ui.showConsoleProgress": "false"}


def _register_views(con, sf_dir: str) -> None:
    """DuckDB twins of the engine's table loaders. events.value carries the
    same ingest hygiene as ``readers._quarantine_specials`` (NaN/±Inf ->
    NULL): IEEE specials are cross-engine non-portable (DuckDB aborts on
    stddev/quantile/ln/casts where Spark returns NULL or NaN), so both
    engines must quarantine identically. On the driver's clean testdata
    this view is value-identical to ``SELECT *``."""
    for t in TABLES:
        path = os.path.join(sf_dir, t + ".parquet")
        if t == "events":
            con.sql(
                f"CREATE VIEW events AS SELECT event_id, ts, user_id,"
                f" event_type, CASE WHEN isfinite(value) THEN value END"
                f" AS value, props FROM '{path}'"
            )
        elif t == "embeddings":
            # Twin of readers._quarantine_embeddings (r14): a vector is
            # valid iff non-null, exactly EMBEDDING_DIM components, all
            # components non-null finite; else the whole vector -> NULL.
            # Identity on the driver's clean testdata.
            con.sql(
                f"CREATE VIEW embeddings AS SELECT vec_id,"
                f" CASE WHEN embedding IS NOT NULL"
                f"       AND len(embedding) = 64"
                f"       AND NOT coalesce(list_contains(list_transform("
                f"             embedding, x -> (x IS NULL OR NOT isfinite(x))"
                f"           ), true), false)"
                f"      THEN embedding END AS embedding,"
                f" label FROM '{path}'"
            )
        else:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")


def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # EXACT comparison — the engine's float policy (round accumulations
        # identically on both sides, never round single-op arithmetic) makes
        # every oracle query bit-exact vs DuckDB; any tolerance here would
        # only hide regressions. +0.0 normalizes -0.0 without changing value.
        return v + 0.0
    if hasattr(v, "isoformat"):
        return v.isoformat().replace("+00:00", "")
    return v


def _norm_rows(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_cell(r[i]) for i in idx) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return [cols[i] for i in idx], out


# DuckDB types the driver's hasher canonicalizes differently from their Spark
# twins even when values match. Suggested fix per type.
_RISKY_DUCK = {
    "HUGEINT": "CAST(... AS BIGINT) in the oracle (window/int sums emit INT128)",
    "UHUGEINT": "CAST(... AS BIGINT)",
    "TIMESTAMP_NS": "epoch_us(...)/CAST to TIMESTAMP (µs) in the oracle",
}


def _spark_to_duck(t: str):
    """Acceptable DuckDB type strings for a Spark simpleString type."""
    t = t.lower()
    if t.startswith("array<") and t.endswith(">"):
        return {d + "[]" for d in _spark_to_duck(t[6:-1])}
    if t.startswith("decimal"):
        return set()  # decimals must not be emitted (round-1 q50) — always flag
    return {
        "bigint": {"BIGINT"},
        "int": {"INTEGER"},
        "smallint": {"SMALLINT"},
        "tinyint": {"TINYINT"},
        "double": {"DOUBLE"},
        "float": {"FLOAT"},
        "string": {"VARCHAR"},
        "date": {"DATE"},
        "timestamp": {"TIMESTAMP", "TIMESTAMP WITH TIME ZONE"},
        "timestamp_ntz": {"TIMESTAMP"},
        "boolean": {"BOOLEAN"},
        "binary": {"BLOB"},
    }.get(t, set())


def audit(sf_dir: str, only) -> int:
    spark = get_spark("type-audit", extra_conf=QUIET)
    con = duckdb.connect()
    _register_views(con, sf_dir)
    n_ok = n_flag = 0
    for name, fn in QUERIES.items():
        if only and name not in only:
            continue
        if name not in ORACLE:
            continue
        problems = []
        try:
            schema = fn(spark, sf_dir).schema
            stypes = {f.name: f.dataType.simpleString() for f in schema.fields}
        except Exception as e:
            problems.append(f"spark schema error: {type(e).__name__}: {e}")
            stypes = {}
        try:
            rel = con.sql(ORACLE[name])
            dtypes = dict(zip(rel.columns, (str(t) for t in rel.types)))
        except Exception as e:
            problems.append(f"duckdb error: {type(e).__name__}: {e}")
            dtypes = {}
        # Nested OUTPUT columns burn the driver's hasher: its canonicalizer
        # is pandas sort_values over every column, and list/dict cells raise
        # "unhashable type" (the r4 q109 err row — value parity was green,
        # the SHAPE failed). Flatten: posexplode to rows, or array_join.
        for col, st in stypes.items():
            if st.startswith(("array<", "map<", "struct<")):
                problems.append(
                    f"{col}: Spark {st} OUTPUT — driver hasher can't sort "
                    "nested cells (r4 q109); posexplode to rows or array_join"
                )
        for col, dt in dtypes.items():
            base = dt.split("(")[0]
            if dt.endswith("[]") or base in {"STRUCT", "MAP", "LIST", "UNION"}:
                problems.append(
                    f"{col}: DuckDB {dt} OUTPUT — nested cells burn the "
                    "driver hasher (r4 q109); flatten to scalar columns"
                )
            elif base in _RISKY_DUCK:
                problems.append(f"{col}: DuckDB {dt} — {_RISKY_DUCK[base]}")
            elif base == "DECIMAL":
                problems.append(
                    f"{col}: DuckDB {dt} — cast(... as double) BOTH sides (q50 lesson)"
                )
        int_family = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT"}
        for col in set(stypes) & set(dtypes):
            st, dt = stypes[col], dtypes[col]
            if st.startswith("decimal"):
                problems.append(
                    f"{col}: Spark {st} — emit double, keep decimal internal only"
                )
                continue
            ok = _spark_to_duck(st)
            if dt.split("(")[0] == "DECIMAL" or dt.split("(")[0] in _RISKY_DUCK:
                continue  # already flagged above
            if ok and dt not in ok:
                # Integer WIDTH mismatches are empirically hasher-safe
                # (q34/q35/q40/q45/q54/q58 all driver-green with Spark int vs
                # DuckDB BIGINT/TINYINT) — warn, don't fail.
                if st in {"int", "bigint", "smallint", "tinyint"} and dt in int_family:
                    print(f"  note {name}.{col}: Spark {st} vs DuckDB {dt} (int-width; hasher-safe)")
                else:
                    problems.append(f"{col}: Spark {st} vs DuckDB {dt} — align with CAST")
            elif not ok:
                problems.append(f"{col}: unmapped Spark type {st} (DuckDB {dt}) — verify")
        if problems:
            n_flag += 1
            print(f"TYPE-FLAG {name}:")
            for p in problems:
                print(f"    {p}")
        else:
            n_ok += 1
    print(f"\naudit: {n_ok} clean, {n_flag} flagged")
    return 1 if n_flag else 0


def main() -> int:
    argv = sys.argv[1:]
    do_audit = "--audit" in argv
    if do_audit:
        argv = [a for a in argv if a != "--audit"]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.001"
    only = set(argv[1:])
    if do_audit:
        return audit(sf_dir, only)
    spark = get_spark("parity-check", extra_conf=QUIET)
    con = duckdb.connect()
    _register_views(con, sf_dir)

    n_pass = n_fail = n_rows_only = 0
    for name, fn in QUERIES.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error: {type(e).__name__}: {e}")
            n_fail += 1
            continue
        if name not in ORACLE:
            print(f"rows-only {name}: {len(srows)} rows in {time.time()-t0:.1f}s")
            n_rows_only += 1
            continue
        try:
            res = con.sql(ORACLE[name])
            ocols = res.columns
            orows = [tuple(r) for r in res.fetchall()]
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {type(e).__name__}: {e}")
            n_fail += 1
            continue
        sc, sr = _norm_rows(scols, srows)
        oc, orr = _norm_rows(ocols, orows)
        if sc != oc:
            print(f"FAIL {name}: schema spark={sc} duckdb={oc}")
            n_fail += 1
            continue
        if len(sr) != len(orr):
            print(f"FAIL {name}: rowcount spark={len(sr)} duckdb={len(orr)}")
            n_fail += 1
            continue
        bad = [(a, b) for a, b in zip(sr, orr) if a != b]
        if bad:
            print(f"FAIL {name}: {len(bad)}/{len(sr)} rows differ; first: {bad[0]}")
            n_fail += 1
            continue
        print(f"PASS {name}: {len(sr)} rows in {time.time()-t0:.1f}s")
        n_pass += 1

    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
