"""HTTP façade for the publisher endpoints — the reference's REST service
as a stdlib threaded server over the ``plans/publisher`` JSON functions.

Reference: the publisher is its own Spring Boot app exposing three routes
(PublisherController.java:26-58):

    GET /dauRealtime?td=2024-01-05
    GET /statsByItem?itemName=小米&date=2024-01-05&t=gender
    GET /detailByItem?date=2024-01-05&itemName=小米&pageNo=1&pageSize=20

Here each route is a dispatch to the matching ``*_json`` function; the
tables are supplied as PROVIDERS (zero-arg callables returning the
current DataFrame) so every request sees the sink's latest committed
state — the analog of the reference querying live daily ES indices, with
Spark's parquet snapshot isolation instead of ES refresh semantics.
Over a sink dir (:func:`sink_providers`) a request costs a directory
fingerprint when nothing was committed since the last one: ``read_sink``
returns the DataFrame it already built for that snapshot.

Design notes:
- stdlib ``http.server`` only — no web framework in the sandbox, and the
  endpoints are driver-side JSON marshaling of already-aggregated plans
  (at most ~48 rows for dau, one page for detail), so a framework buys
  nothing. ``ThreadingHTTPServer`` keeps a slow query from blocking the
  next request; Spark driver-side collects are thread-safe.
- Parameter validation mirrors the reference's @RequestParam contract:
  a missing required param or a bad ``t`` is a 400 with a JSON error
  body (the reference 500s on a bad ``t`` — PublisherServiceImpl.java:49
  falls through to an unhandled branch; the 400 is the documented fix).
- Responses are ``application/json; charset=utf-8`` with
  ``ensure_ascii=False`` — the bucket names are Chinese (女/男/20岁以下)
  and the dashboard consumes them verbatim. DATE/TIMESTAMP cells (a
  sink partitioned by a date column reads it back as DATE) render as
  ISO strings.
- Any other failure (a plan that does not resolve against the served
  frame, a provider that raises) is a 500 with a JSON error body, never
  a connection dropped without a status.

Scale: the HTTP layer adds no data path — every collect it triggers is
one of the publisher plans, which prune to a single dt partition first
(plans/serving.py docstring). The server itself is a driver-side
sidecar exactly like the reference's Spring app beside the Spark jobs.
"""

from __future__ import annotations

import datetime
import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Callable
from urllib.parse import parse_qs, urlparse

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .plans.publisher import (
    dau_realtime_json,
    detail_by_item_json,
    detail_by_item_keyset_json,
    stats_by_item_json,
)
from .streaming.sinks import read_sink

Provider = Callable[[], DataFrame]


def _as_provider(x: DataFrame | Provider) -> Provider:
    return x if callable(x) else (lambda: x)


def sink_providers(spark, dau_dir: str, wide_dir: str) -> tuple[Provider, Provider]:
    """Providers over the dau and order-wide sink directories the
    pipelines write. Each call reads the sink's latest committed state
    through ``read_sink``, which re-lists the files only when a commit
    changed them since the previous call (otherwise it returns the
    DataFrame already built for that snapshot). A compacted sink
    (``gen=N`` plus later ``batch=N`` dirs) serves like an uncompacted
    one, and ``compact_sink`` can run while the server does (a request
    still reading files its sweep removes gets a 500; the next request
    reads the new generation). The order-wide sink is partitioned by
    ``create_date`` (read back as DATE); the wide provider adds it as
    the string ``dt`` the publisher plans filter on."""

    def dau() -> DataFrame:
        return read_sink(spark, dau_dir)

    def wide() -> DataFrame:
        return read_sink(spark, wide_dir).withColumn(
            "dt", F.col("create_date").cast("string")
        )

    return dau, wide


def _json_default(o):
    if isinstance(o, (datetime.date, datetime.datetime)):
        return o.isoformat()
    raise TypeError(f"Object of type {type(o).__name__} is not JSON serializable")


class _Handler(BaseHTTPRequestHandler):
    # providers are injected per-server via the factory below
    dau_provider: Provider
    wide_provider: Provider

    def log_message(self, *args) -> None:  # quiet: tests and sidecar use
        pass

    def _send(self, code: int, payload) -> None:
        body = json.dumps(
            payload, ensure_ascii=False, default=_json_default
        ).encode("utf-8")
        self.send_response(code)
        self.send_header("Content-Type", "application/json; charset=utf-8")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def _param(self, qs: dict, name: str, default=None):
        # an empty VALUE means "param not supplied": optional params
        # keep their default (?pageSize= must not 400 on int('')),
        # required ones 400 — presence-vs-value distinctions (the
        # keyset-mode switch) test `name in qs` directly
        vals = qs.get(name)
        if not vals or vals[0] == "":
            if default is not None:
                return default
            raise KeyError(name)
        return vals[0]

    def do_GET(self) -> None:  # noqa: N802 (stdlib handler contract)
        url = urlparse(self.path)
        # blanks kept: an EMPTY afterTime/afterId still selects keyset
        # mode below (required params still 400 on empty via _param)
        qs = parse_qs(url.query, keep_blank_values=True)
        try:
            if url.path == "/dauRealtime":
                td = self._param(qs, "td")
                self._send(200, dau_realtime_json(self.dau_provider(), td))
            elif url.path == "/statsByItem":
                out = stats_by_item_json(
                    self.wide_provider(),
                    self._param(qs, "itemName"),
                    self._param(qs, "date"),
                    self._param(qs, "t"),
                )
                self._send(200, out)
            elif url.path == "/detailByItem":
                # Presence of afterTime/afterId switches the route to
                # keyset (`search_after`) pagination — deep pages filter
                # on the cursor instead of re-sorting the offset prefix;
                # empty values mean "keyset mode, first page".
                if "afterTime" in qs or "afterId" in qs:
                    after_time = self._param(qs, "afterTime", "")
                    after_id = self._param(qs, "afterId", "")
                    # a half cursor would silently re-serve page 1
                    # forever — fail loud instead
                    if bool(after_time) != bool(after_id):
                        raise ValueError(
                            "afterTime and afterId must be provided "
                            "together (or both left empty for page 1)"
                        )
                    out = detail_by_item_keyset_json(
                        self.wide_provider(),
                        self._param(qs, "date"),
                        self._param(qs, "itemName"),
                        after_time=after_time or None,
                        after_id=after_id or None,
                        page_size=int(self._param(qs, "pageSize", "20")),
                    )
                else:
                    out = detail_by_item_json(
                        self.wide_provider(),
                        self._param(qs, "date"),
                        self._param(qs, "itemName"),
                        page_no=int(self._param(qs, "pageNo", "1")),
                        page_size=int(self._param(qs, "pageSize", "20")),
                    )
                self._send(200, out)
            else:
                self._send(404, {"error": f"no route {url.path}"})
        except KeyError as e:
            self._send(400, {"error": f"missing required param {e.args[0]!r}"})
        except ValueError as e:
            self._send(400, {"error": str(e)})
        except Exception as e:  # noqa: BLE001 (every request gets a status)
            self._send(500, {"error": f"{type(e).__name__}: {e}"})


def publisher_server(
    dau: DataFrame | Provider,
    wide: DataFrame | Provider,
    host: str = "127.0.0.1",
    port: int = 0,
) -> ThreadingHTTPServer:
    """Build (not start) the publisher HTTP server. ``port=0`` binds an
    ephemeral port (read it back from ``server.server_address[1]`` —
    what the tests do). Call ``serve_forever()`` or use
    :func:`serve_in_background`."""
    handler = type(
        "PublisherHandler",
        (_Handler,),
        {
            "dau_provider": staticmethod(_as_provider(dau)),
            "wide_provider": staticmethod(_as_provider(wide)),
        },
    )
    return ThreadingHTTPServer((host, port), handler)


def serve_in_background(server: ThreadingHTTPServer) -> threading.Thread:
    """Run the server on a daemon thread (the test/sidecar mode);
    ``server.shutdown()`` stops it."""
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    return t
