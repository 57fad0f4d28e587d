"""The analytics half of the ``batch`` workload: the frozen 17 headline
queries on generated data.

One closed-loop client runs ``bench.FIXED_SUBSET`` passes, each pass in a
seed-shuffled order. Each query is built, planned and executed
into a discarding sink: its executed plan's RDD is counted, which runs
every task exactly as a noop write would, and keeps the planned
``QueryExecution`` the one that runs, so the traced build/plan/exec split
is exact.

Correctness: the first of the untimed passes collects every query and
compares it with DuckDB's answer to the query's ``oracle_sql()`` twin over
the same files, normalized as ``tools/parity_check.py`` does, and exactly
equal as there: a tolerance would only hide regressions.
``q32_minhash_pairs`` has no twin (rows-only): its pairs must each carry an
exact Jaccard of at least 0.5. Every timed run is then checked by its row
count.

Regenerate the DuckDB fingerprints for a seed (JSON on stdout):

    python3 -m perfbench.analytics --seed 1      # from the repository root
"""

from __future__ import annotations

import hashlib
import os
import random
import sys
import time
from collections import defaultdict
from concurrent.futures import ThreadPoolExecutor

from perfbench import fixtures
from perfbench.tracing import median, patched, spanned

# 12k lineitem rows: a pass is plan- and launch-bound (sf0.02 adds ~20% of
# execution, sf0.1 more than doubles the pass); larger scales do not fit the
# run-time budget of two workloads
SF = 0.002
ROWS_ONLY = "q32_minhash_pairs"
# Untimed passes after the checked one. With the JVM compiling C1 only
# (run.py), the first pass in a JVM runs ~25% slow and the next ones level
# off; one warm pass takes the rest of that fall out of the timed ones.
WARM_PASSES = 1


def frozen() -> tuple[str, ...]:
    from bench import FIXED_SUBSET

    return FIXED_SUBSET


def _normalized(cols, rows) -> tuple[list, list]:
    from tools.parity_check import _norm_rows

    return _norm_rows(list(cols), [tuple(r) for r in rows])


def oracle_answers(data_dir: str) -> dict[str, tuple[list, list]]:
    """Normalized (columns, rows) of every frozen query's DuckDB twin."""
    import duckdb

    from soict20221_bigdata_financialplatform_spark.queries import ORACLE
    from tools.parity_check import _register_views

    con = duckdb.connect()
    try:
        _register_views(con, data_dir)
        out = {}
        for name in frozen():
            if name != ROWS_ONLY:
                res = con.sql(ORACLE[name])
                out[name] = _normalized(res.columns, res.fetchall())
        return out
    finally:
        con.close()


def _valid_pairs(rows, texts: dict[int, str]) -> bool:
    """Every reported pair is ordered and its Jaccard over distinct word
    3-gram shingles is the exact one, at least 0.5."""
    for r in rows:
        a, b = _shingles(texts[r["id_a"]]), _shingles(texts[r["id_b"]])
        exact = len(a & b) / len(a | b)
        if not (r["id_a"] < r["id_b"] and exact >= 0.5 and abs(exact - r["jaccard"]) <= 1e-6):
            return False
    return True


def _shingles(text: str, n: int = 3) -> set[str]:
    words = text.split()
    return {" ".join(words[i:i + n]) for i in range(max(1, len(words) - n + 1))}


class Analytics:
    """The frozen 17: set-up checks and warms them, then times passes."""

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.spark = ctx.spark
        self.data_dir = os.path.join(ctx.work, "tables")
        self.expected_rows: dict[str, int] = {}

    def setup(self) -> None:
        """Generate the tables, collect every query once and check it, and
        run the warm passes, each query's run checked by its row count."""
        from soict20221_bigdata_financialplatform_spark.queries import QUERIES

        self.queries = {q: QUERIES[q] for q in frozen()}
        tables = fixtures.tpch_tables(self.ctx.seed, SF)
        fixtures.write_tpch(tables, self.data_dir)
        texts = dict(zip(*tables["documents"].select(["doc_id", "text"]).to_pydict().values()))
        # All untimed passes run one query per core at a time, beside the
        # DuckDB oracle, the warm passes queued right behind the checked one:
        # the overlap keeps set-up short.
        with ThreadPoolExecutor(self.ctx.cores + 1) as pool:
            oracle_run = pool.submit(oracle_answers, self.data_dir)
            collected = [(q, pool.submit(self._collect, q)) for q in self._order(0)]
            warm = [(q, pool.submit(self._count, q)) for k in range(WARM_PASSES) for q in self._order(-1 - k)]
            oracle = oracle_run.result()
            for name, fut in collected:
                try:
                    cols, rows = fut.result()
                except Exception as e:  # noqa: BLE001 - a failing query fails its operation
                    self.ctx.record(False, f"{name}: {type(e).__name__}: {e}")
                    continue
                self.expected_rows[name] = len(rows)
                if name == ROWS_ONLY:
                    ok = _valid_pairs([r.asDict() for r in rows], texts)
                else:
                    ok = _normalized(cols, rows) == oracle[name]
                self.ctx.record(ok, f"{name}: result differs from the oracle")
            for name, fut in warm:
                if name in self.expected_rows:
                    self.ctx.record(fut.result() == self.expected_rows[name],
                                    f"{name}: row count differs between runs")

    def _collect(self, name: str):
        df = self.queries[name](self.spark, self.data_dir)
        return df.columns, df.collect()

    def _count(self, name: str) -> int:
        return self.queries[name](self.spark, self.data_dir)._jdf.queryExecution().toRdd().count()

    def _order(self, pass_no: int) -> list[str]:
        order = list(frozen())
        random.Random(self.ctx.seed * 1000 + pass_no).shuffle(order)
        return order

    def _run_query(self, name: str, tracer, status) -> float:
        """One build -> plan -> execute of ``name``; returns its wall time."""
        t0 = time.perf_counter()
        with tracer.span(f"{name}.build", op=name):
            df = self.queries[name](self.spark, self.data_dir)
        qe = df._jdf.queryExecution()
        with tracer.span(f"{name}.plan", op=name):
            qe.executedPlan()
        with tracer.span(f"{name}.exec", op=name):
            n = qe.toRdd().count()
        wall = time.perf_counter() - t0
        want = self.expected_rows.get(name)
        self.ctx.record(n == want, f"{name}: {n} rows, expected {want}")
        if status is not None:
            self.scan.append(status.scan_totals(df) | {"rows": n})
        return wall

    def timed_pass(self, pass_no: int) -> dict[str, float]:
        """Wall seconds of each frozen query, run in pass ``pass_no``'s order."""
        return {name: self._run_query(name, self.ctx.null_tracer, None) for name in self._order(pass_no)}

    def run_traced(self, seconds: float) -> dict:
        """Each query runs untraced, then traced (spans, a job group, scan
        metrics), back to back, until the window closes."""
        from soict20221_bigdata_financialplatform_spark import queries
        from soict20221_bigdata_financialplatform_spark.sources import readers

        tracer, status = self.ctx.tracer, self.ctx.status
        self.scan: list[dict] = []
        untraced: dict[str, list[float]] = defaultdict(list)
        traced: dict[str, list[float]] = defaultdict(list)
        totals: dict[str, int] = defaultdict(int)
        # the two entry points by which the frozen queries reach the sources layer
        load_spans = [(queries, "load_table", spanned(tracer, "sources.load_table")),
                      (readers, "load_events_time_range", spanned(tracer, "sources.load_table"))]
        deadline = time.perf_counter() + seconds
        pass_no = 1
        with patched(load_spans):
            while pass_no == 1 or time.perf_counter() < deadline:
                for name in self._order(pass_no):
                    if pass_no > 1 and time.perf_counter() >= deadline:
                        break
                    untraced[name].append(self._run_query(name, self.ctx.null_tracer, None))
                    group = f"{name}#{pass_no}"
                    status.set_group(group)
                    traced[name].append(self._run_query(name, tracer, status))
                    status.clear_group()
                    for k, v in status.group_totals(group).items():
                        totals[k] += v
                pass_no += 1
        n = sum(len(v) for v in traced.values())
        out = {}
        for part in ("build", "plan", "exec"):
            per_q = {q: median(tracer.durations(f"{q}.{part}")) for q in frozen()}
            out.update({f"{q}.{part}_s": v for q, v in per_q.items()})
            out[f"queries.{part}_s"] = sum(per_q.values())
        out.update({f"exec.{k}": v / n for k, v in totals.items()})
        out.update({
            "sources.load_table_s": sum(tracer.durations("sources.load_table")) / n,
            "sources.rows_scanned_per_row_returned":
                sum(s["rows_scanned"] for s in self.scan) / max(1, sum(s["rows"] for s in self.scan)),
            "sources.files_read_per_request": sum(s["files_read"] for s in self.scan) / n,
        })
        out["untraced_s"] = sum(median(v) for v in untraced.values())
        out["traced_s"] = sum(median(v) for v in traced.values())
        return out


def main(argv: list[str]) -> int:
    import argparse
    import json
    import shutil

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    args = ap.parse_args(argv)
    out = os.path.join(os.getcwd(), ".perfbench", f"fingerprints-{args.seed}-{os.getpid()}")
    try:
        fixtures.write_tpch(fixtures.tpch_tables(args.seed, SF), out)
        prints = {name: {"rows": len(rows), "sha256": hashlib.sha256(repr((cols, rows)).encode()).hexdigest()}
                  for name, (cols, rows) in oracle_answers(out).items()}
        print(json.dumps(prints, indent=1, sort_keys=True))
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
