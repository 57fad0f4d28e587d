"""``serve`` workload: the four REST endpoints under a closed loop of 2 clients.

Set-up writes the serving store the way the platform does: ``api.backfill``
turns 30 symbols x 2,382 messy daily bars into symbol-partitioned parquet;
30 x 2,340 ticks are stored partitioned by symbol and 2,000 headlines
(about 10% re-published titles) beside them. ``http_api.serve_background``
mounts the three frames. Each client waits for its reply before sending
the next request, like the reference's dashboard.

Request mix: ``/OLHC/<sym>/<n in 1,6,20>`` 40%, ``/realtime/<sym>`` 30%,
``/info/<sym>`` 20%, ``/news`` 10%; symbols drawn Zipf(1.1), so a few hot
symbols take most reads. Responses hold at most 2,000 rows, so per-request
plan building, analysis and job launch dominate the latency.

Set-up compares the backfilled bars row by row with the rows pandas
computes from the generated fixture. Every response body is kept and, after
the window closes, compared with the pandas rows too; a wrong or failed
response fails that request only.
"""

from __future__ import annotations

import contextlib
import hashlib
import http.client
import itertools
import json
import os
import random
import threading
import time
from concurrent.futures import ThreadPoolExecutor

from perfbench import fixtures, reference
from perfbench.statusstore import STAGE_FIELDS
from perfbench.tracing import median, patched

N_SYMBOLS, N_DAYS, N_TICKS, N_NEWS = 30, 2382, 2340, 2000
CLIENTS = 2
# With the JVM compiling C1 only (run.py), latency settles within the first
# ~150 requests; set-up sends them before the window opens (8 clients get
# there sooner than 2; the cap only stops a stalled server).
WARMUP_REQUESTS, WARMUP_CLIENTS, WARMUP_CAP_S = 200, 8, 120.0
ZIPF_S = 1.1
MIX = (("OLHC", 0.4), ("realtime", 0.3), ("info", 0.2), ("news", 0.1))


def raw_input_bytes(raw) -> int:
    """Size of the raw bars as JSON lines, the reference scrape's file form."""
    return sum(len(line) + 1 for line in raw.to_json(orient="records", lines=True).splitlines())


def tree_files(path: str) -> tuple[int, int]:
    """(parquet files, their bytes) under ``path``."""
    n = size = 0
    for d, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(d, f))
    return n, size


class Serve:
    name = "serve"

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.spark = ctx.spark
        syms = fixtures.symbols(N_SYMBOLS)
        random.Random(ctx.seed).shuffle(syms)  # which symbols are hot
        self.symbols = syms
        weights = [1.0 / (k + 1) ** ZIPF_S for k in range(N_SYMBOLS)]
        self.cum = list(itertools.accumulate(weights))
        self.layer: dict[str, float] = {}
        self._correct: set[tuple[str, bytes]] = set()  # (path, body digest) found correct

    def setup(self) -> None:
        from soict20221_bigdata_financialplatform_spark import api, http_api

        seed, work, spark = self.ctx.seed, self.ctx.work, self.spark
        raw = fixtures.raw_bars(seed, N_SYMBOLS, N_DAYS)
        bars_dir = os.path.join(work, "bars")
        with ThreadPoolExecutor(1) as pool:
            # the JVM-bound backfill overlaps the pandas-side fixture work
            backfill = pool.submit(self._backfill, raw, bars_dir)
            day = fixtures.today_after(fixtures.weekdays("2013-07-18", N_DAYS))
            ticks = fixtures.serve_ticks(seed, N_SYMBOLS, N_TICKS, day)
            news = fixtures.serve_news(seed, N_NEWS)
            fixtures.write_partitioned(ticks, os.path.join(work, "ticks"), "symbol")
            os.makedirs(os.path.join(work, "news"))
            news.to_parquet(os.path.join(work, "news", "part-0.parquet"), index=False)
            bars = reference.with_indicators(reference.typed_bars(raw))
            self.expected = reference.ServeExpected(bars, ticks, news)
            backfill.result()
        got = spark.read.parquet(bars_dir).toPandas()
        self.ctx.record(reference.frame_matches(got, bars, ["symbol", "date"]),
                        "backfilled bars differ from the pandas recomputation")
        t0 = time.perf_counter()
        frames = (api.load_bars(spark, bars_dir), spark.read.parquet(os.path.join(work, "ticks")),
                  spark.read.parquet(os.path.join(work, "news")))
        self.layer["sources.load_table_s"] = time.perf_counter() - t0
        self.server, self.port = http_api.serve_background(*frames)
        # untimed, checked warm-up
        self._check(self._loop(WARMUP_CAP_S, salt=1, clients=WARMUP_CLIENTS, requests=WARMUP_REQUESTS)[0])

    def _backfill(self, raw, bars_dir: str) -> None:
        from soict20221_bigdata_financialplatform_spark import api

        t0 = time.perf_counter()
        api.backfill(self.spark.createDataFrame(raw), bars_dir)
        write_s = time.perf_counter() - t0
        files, size = tree_files(bars_dir)
        self.layer.update({"backfill.write_s": write_s, "backfill.files_written": files,
                           "backfill.bytes_per_input_byte": size / raw_input_bytes(raw)})

    def close(self) -> None:
        server = getattr(self, "server", None)
        if server is not None:
            server.shutdown()
            server.server_close()

    # -- load generation ---------------------------------------------------

    def _paths(self, rng: random.Random):
        """Endless request paths: the endpoint mix is exact in every block
        of ten (shuffled within it), symbols are Zipf draws."""
        while True:
            block = [kind for kind, share in MIX for _ in range(round(share * 10))]
            rng.shuffle(block)
            for kind in block:
                if kind == "news":
                    yield "/news"
                    continue
                sym = rng.choices(self.symbols, cum_weights=self.cum)[0]
                yield f"/OLHC/{sym}/{rng.choice((1, 6, 20))}" if kind == "OLHC" else f"/{kind}/{sym}"

    def _get(self, path: str, tracer=None, op=None) -> dict:
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=60)
        span = tracer.span("http.request", op=op) if tracer else contextlib.nullcontext()
        t0 = time.perf_counter()
        sid = None
        try:
            with span as sid:
                conn.request("GET", path)
                resp = conn.getresponse()
                status, body = resp.status, resp.read()
        except (OSError, http.client.HTTPException) as e:
            status, body = None, repr(e).encode()
        finally:
            conn.close()
        return {"path": path, "t0": t0, "t1": time.perf_counter(), "status": status,
                "body": body, "span": sid, "op": op}

    def _loop(self, seconds: float, tracer=None, salt: int = 0, clients: int = CLIENTS,
              requests: float = float("inf")) -> tuple[list[dict], float]:
        """Closed-loop clients until ``seconds`` passed or ``requests`` were sent."""
        records: list[dict] = []
        lock = threading.Lock()
        ops = itertools.count()
        deadline = time.perf_counter() + seconds

        def client(k: int) -> None:
            paths = self._paths(random.Random((self.ctx.seed * 7919 + k) * 10 + salt))
            while time.perf_counter() < deadline:
                op = next(ops)
                if op >= requests:
                    break
                rec = self._get(next(paths), tracer, op)
                with lock:
                    records.append(rec)

        t0 = time.perf_counter()
        threads = [threading.Thread(target=client, args=(k,), daemon=True) for k in range(clients)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=seconds + 120)
            if t.is_alive():
                raise RuntimeError("serve client did not finish")
        return records, time.perf_counter() - t0

    def _check(self, records: list[dict]) -> None:
        for rec in records:
            ok = rec["status"] == 200
            # hot symbols repeat: bytes already found correct for a path need
            # no second comparison
            key = (rec["path"], hashlib.sha256(rec["body"]).digest())
            if ok and key not in self._correct:
                try:
                    ok = reference.rows_equal(json.loads(rec["body"]), self.expected.body(rec["path"]))
                except (ValueError, KeyError):
                    ok = False
                if ok:
                    self._correct.add(key)
            self.ctx.record(ok, f"{rec['path']}: status {rec['status']}, body differs")
            rec["body"] = None

    @staticmethod
    def _latency(records: list[dict]) -> dict:
        lat = sorted((r["t1"] - r["t0"]) * 1000.0 for r in records)
        out = {"request_p50_ms": median(lat), "requests": len(lat)}
        # p95 is valid only with at least 10 samples beyond it
        if len(lat) * 0.05 >= 10:
            out["request_p95_ms"] = lat[int(len(lat) * 0.95)]
        return out

    def run(self, seconds: float) -> dict:
        records, elapsed = self._loop(seconds)
        self._check(records)
        summary = self._latency(records) | {"requests_per_s": len(records) / elapsed}
        return {"op_p50_ms": summary["request_p50_ms"], "summary": summary}

    # -- traced run --------------------------------------------------------

    def run_traced(self, seconds: float) -> dict:
        """First half of the window untraced, second half with spans around
        the api and collect calls the HTTP shim makes, one job group per
        request, and scan metrics read from each request's executed plan."""
        from soict20221_bigdata_financialplatform_spark import api, http_api

        tracer, status = self.ctx.tracer, self.ctx.status
        base, _ = self._loop(seconds / 2, salt=2)
        self._check(base)
        server_ops: dict[int, dict] = {}
        local = threading.local()
        op_ids = itertools.count()

        def endpoint(kind: str):
            def make(orig):
                def wrapper(frame, *args):
                    op = next(op_ids)
                    local.op = op
                    path = "/news" if kind == "news" else "/" + "/".join([kind, *map(str, args)])
                    status.set_group(f"req{op}")
                    with tracer.span("api.build", op=f"srv{op}"):
                        df = orig(frame, *args)
                    with tracer.span("api.plan", op=f"srv{op}"):
                        df._jdf.queryExecution().executedPlan()
                    server_ops[op] = {"path": path, "df": df}
                    return df
                return wrapper
            return make

        def rows(orig):
            def wrapper(df):
                with tracer.span("api.exec", op=f"srv{local.op}"):
                    out = orig(df)
                server_ops[local.op]["rows"] = len(out)
                status.clear_group()
                return out
            return wrapper

        targets = [(api, "olhc", endpoint("OLHC")), (api, "realtime", endpoint("realtime")),
                   (api, "info", endpoint("info")), (api, "news_latest", endpoint("news")),
                   (http_api, "_rows", rows)]
        with patched(targets):
            records, _ = self._loop(seconds / 2, tracer, salt=3)
        self._check(records)
        return self._layer_metrics(base, records, server_ops)

    def _layer_metrics(self, base: list[dict], records: list[dict], server_ops: dict) -> dict:
        tracer, status = self.ctx.tracer, self.ctx.status
        by_op = {}
        for s in tracer.spans:
            if s["name"].startswith("api."):
                by_op.setdefault(int(s["op"][3:]), []).append(s)
        # attach each server-side request to the client request it answered
        pending = sorted(records, key=lambda r: r["t0"])
        api_s = {}
        for op, spans in by_op.items():
            lo, hi = min(s["start"] for s in spans), max(s["end"] for s in spans)
            for rec in pending:
                if rec["path"] == server_ops[op]["path"] and rec["t0"] <= lo and hi <= rec["t1"]:
                    pending.remove(rec)
                    for s in spans:
                        s["parent"], s["op"] = rec["span"], rec["op"]
                    api_s[rec["op"]] = sum(s["end"] - s["start"] for s in spans)
                    break
        self_ms = [(r["t1"] - r["t0"] - api_s[r["op"]]) * 1000.0 for r in records if r["op"] in api_s]
        totals = dict.fromkeys(("jobs", *STAGE_FIELDS), 0)
        scanned = files = returned = 0
        for op, o in server_ops.items():
            for k, v in status.group_totals(f"req{op}").items():
                totals[k] += v
            scan = status.scan_totals(o["df"])
            scanned += scan["rows_scanned"]
            files += scan["files_read"]
            returned += o.get("rows", 0)
        n = max(1, len(server_ops))
        out = dict(self.layer)
        out.update({
            "api.build_ms": 1000.0 * median(tracer.durations("api.build")),
            "api.plan_ms": 1000.0 * median(tracer.durations("api.plan")),
            "api.exec_ms": 1000.0 * median(tracer.durations("api.exec")),
            "api.jobs_per_request": totals["jobs"] / n,
            "http_api.self_ms": median(self_ms),
            "sources.rows_scanned_per_row_returned": scanned / max(1, returned),
            "sources.files_read_per_request": files / n,
        })
        out.update({f"exec.{k}": v / n for k, v in totals.items()})
        p_base = self._latency(base)["request_p50_ms"]
        out["trace.overhead_pct"] = 100.0 * (self._latency(records)["request_p50_ms"] - p_base) / p_base
        return out
