"""HTTP shim for the four serving endpoints.

The reference serves these routes with Flask (reference ``API.py:28-75``);
the engine models them as library functions (:mod:`api`) so any web
framework can mount them. This module makes that 1:1 mapping EXECUTABLE
with zero dependencies — a stdlib ``http.server`` adapter:

    GET /OLHC/<code>/<n>   -> api.olhc      (reference API.py:28-37)
    GET /realtime/<code>   -> api.realtime  (reference API.py:40-50)
    GET /news              -> api.news      (reference API.py:52-62)
    GET /info/<code>       -> api.info      (reference API.py:64-75)

Responses are JSON arrays of row objects. Every endpoint is LIMIT-bounded
by construction (1 / n / 6 / 2000 rows), so the driver-side collect here is
the serving contract, not an anti-pattern — the heavy lifting (partition
pruning on symbol, row-group pruning on the date ordering) happened in the
lazy plan before the collect.

Every request calls :mod:`api`. The three point reads come back as prepared
routes, one planned DataFrame per mounted frame and route arguments with its
scan already opened, so a repeated request skips the build, the planning and
the scan set-up. Every request still runs its own Spark job over the
mounted files: no result is cached here or in :mod:`api`, and ``/news`` is
built per request. Mount a freshly loaded frame after a backfill; the old
frame's routes go with it.
"""

from __future__ import annotations

import json
import re
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.sql import DataFrame

from soict20221_bigdata_financialplatform_spark import api


def _rows(df: DataFrame) -> list[dict]:
    # bounded by each endpoint's LIMIT; dates/timestamps serialize via str
    return [r.asDict(recursive=True) for r in df.collect()]


def make_server(
    bars: DataFrame,
    ticks: DataFrame | None = None,
    news: DataFrame | None = None,
    host: str = "127.0.0.1",
    port: int = 0,
) -> ThreadingHTTPServer:
    """Build (not start) a threaded HTTP server mounting the 4 endpoints on
    the given frames. ``port=0`` binds an ephemeral port (read it back from
    ``server.server_address[1]``). Caller owns the lifecycle:

        srv = make_server(bars, ticks, news)
        threading.Thread(target=srv.serve_forever, daemon=True).start()
        ...
        srv.shutdown()
    """

    class _Handler(BaseHTTPRequestHandler):
        def log_message(self, fmt: str, *args) -> None:  # quiet test runs
            pass

        def _reply(self, code: int, payload) -> None:
            body = json.dumps(payload, default=str).encode("utf-8")
            # Mark the stream dirty BEFORE the first write: if wfile breaks
            # mid-reply (e.g. BrokenPipeError), do_GET's handler must NOT
            # re-send a second status line into the corrupted stream.
            self._headers_sent = True
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_GET(self) -> None:  # noqa: N802 (stdlib contract)
            self._headers_sent = False
            try:
                if m := re.fullmatch(r"/OLHC/([^/]+)/(\d+)", self.path):
                    self._reply(200, _rows(api.olhc(bars, m[1], int(m[2]))))
                elif m := re.fullmatch(r"/realtime/([^/]+)", self.path):
                    if ticks is None:
                        self._reply(503, {"error": "no tick frame mounted"})
                    else:
                        self._reply(200, _rows(api.realtime(ticks, m[1])))
                elif self.path == "/news":
                    if news is None:
                        self._reply(503, {"error": "no news frame mounted"})
                    else:
                        self._reply(200, _rows(api.news_latest(news)))
                elif m := re.fullmatch(r"/info/([^/]+)", self.path):
                    self._reply(200, _rows(api.info(bars, m[1])))
                else:
                    self._reply(404, {"error": f"no route {self.path}"})
            except Exception as e:  # surface plan errors as 500, keep serving
                if not self._headers_sent:
                    self._reply(500, {"error": f"{type(e).__name__}: {e}"})
                # else: failure happened mid-reply (partial headers/body on
                # the wire) — a second status line would corrupt the stream
                # and re-raise in the handler thread; just drop the connection.

    return ThreadingHTTPServer((host, port), _Handler)


def serve_background(
    bars: DataFrame,
    ticks: DataFrame | None = None,
    news: DataFrame | None = None,
    host: str = "127.0.0.1",
    port: int = 0,
) -> tuple[ThreadingHTTPServer, int]:
    """Start the shim on a daemon thread; returns (server, bound_port)."""
    srv = make_server(bars, ticks, news, host=host, port=port)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    return srv, srv.server_address[1]
