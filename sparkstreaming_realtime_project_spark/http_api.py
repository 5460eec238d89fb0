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

Serving cache: the server keeps, per provider, what it has served of
that provider's current snapshot — the analog of the reference's daily ES
index staying resident between refreshes, and of ES's shard request
cache answering a repeated search from memory until the index refreshes.

- STORED RESPONSES: the body of every 200 response, keyed by (route,
  parsed parameters) — the publisher function a route calls and the
  arguments it passes it, so ``?pageSize=`` and ``?pageSize=20`` share a
  key. A response is a pure function of that key and the snapshot, so a
  repeated request answers from the stored body: it calls its provider
  and reads its parameters as every request does, then writes the bytes
  an uncached request would write, and runs no Spark job. 400, 404 and
  500 bodies are never stored. This helps only a (route, parameters)
  asked for again on an unchanged snapshot; anything else is a miss and
  runs the route as below.
- Per-date SLICES of the wide frame — the frame filtered on the route's
  ``date`` test, persisted ``MEMORY_AND_DISK`` — serve the misses of
  ``/statsByItem`` and both ``/detailByItem`` modes. A day's first miss
  on a snapshot reads the provider's frame uncached; its second cuts the
  slice and persists it lazily, so that request's own action fills it
  (under AQE the fill is one extra job of that action), reading one
  day's partition; later misses hit the slice and call no
  ``persist()``. A fill costs more than one uncached read, so a sink that
  commits before a day misses twice is served as it is uncached, not
  refilled on every request. Only misses count towards a day's
  admission. ``/dauRealtime`` has no slice: its only parameter is its
  day, so its second request on a snapshot is a stored response.
- Drop rule: a request first calls its provider. What the server holds
  of that provider is served while the provider's frame is, or
  ``sameSemantics``, the frame it was first served as (over a sink dir,
  ``read_sink`` returns the same snapshot until a commit, and every
  rebuilt snapshot is a new relation); otherwise the old snapshot's
  slices and responses are dropped together. A response computed on a
  snapshot that was superseded while it ran is sent but not stored.
- Memory: at most ``_DAYS_KEPT`` slices and ``_BODY_BYTES`` of response
  bodies per provider, the least recently served dropped first (a larger
  body is not kept: ``pageSize`` is the client's), so it is bounded by
  the requests being served and not by the sink's history or by what
  clients make up; past the storage memory, Spark's LRU spills slices to
  disk.
- A dropped slice is unpersisted once no request still uses it (each
  request counts as a user of its slice until its response is written),
  so a fill in flight is never cut off and left unowned.
- A slice whose cut does not plan (say a malformed ``date`` against a
  DATE column) is not kept: the route runs on the provider's frame and
  answers exactly what it answers uncached.
- One lock guards both (requests run on their own threads), and
  ``server_close()`` drops every slice and response the server holds.

Cost of a miss: a request that misses the stored responses builds its
route's plan and runs its Spark job(s), nothing more. The builders use
the Column API with every request value as a literal, never as SQL
text (plans/serving.py docstring: Spark's parser would substitute
``${...}`` variables in it), under a session whose Python call-site
capture is off (``session.get_spark``). ``/detailByItem``'s offset mode
runs its total and its page as two concurrent actions
(``publisher.detail_by_item_json``); the total is an aggregate of its
own, not an ``Observation`` on the page, which counts only the rows the
page pulls and never reports for a page at or past the end.

Logging: one INFO line per request on this module's logger (route,
status, ms, ``slice=hit|fill|miss|-``, ``resp=hit|miss|-``: ``-`` for a
request that never looked its response up, such as a 404 or a missing
parameter), written after the response; the package installs no handler.

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
  So is a ``pageNo`` below 1, a ``pageSize`` outside ``[0, 2**31-1]``
  or an offset page ending past row ``2**31-1`` (ES rejects a negative
  ``from``/``size`` and a window past its limit too); Spark would fail
  the plan with a 500.
- Responses are ``application/json; charset=utf-8`` with
  ``ensure_ascii=False`` — the bucket names are Chinese (女/男/20岁以下)
  and the dashboard consumes them verbatim. DATE/TIMESTAMP cells (a
  sink partitioned by a date column reads it back as DATE) render as
  ISO strings.
- Any other failure (a plan that does not resolve against the served
  frame, a provider that raises) is a 500 with a JSON error body, never
  a connection dropped without a status.

Scale: every collect the HTTP layer triggers is one of the publisher
plans over a slice or a provider's frame, and a slice's fill prunes to
the day's partitions
(plans/serving.py docstring). The server itself is a driver-side
sidecar exactly like the reference's Spring app beside the Spark jobs.
"""

from __future__ import annotations

import datetime
import json
import logging
import threading
import time
from collections import OrderedDict
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Callable
from urllib.parse import parse_qs, urlparse

from py4j.protocol import Py4JError
from pyspark import StorageLevel
from pyspark.errors import PySparkException
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .plans.publisher import (
    dau_realtime_json,
    detail_by_item_json,
    detail_by_item_keyset_json,
    stats_by_item_json,
)
from .plans.serving import on_date
from .streaming.sinks import read_sink

Provider = Callable[[], DataFrame]

_log = logging.getLogger(__name__)


def _as_provider(x: DataFrame | Provider) -> Provider:
    return x if callable(x) else (lambda: x)


def sink_providers(spark, dau_dir: str, wide_dir: str) -> tuple[Provider, Provider]:
    """Providers over the dau and order-wide sink directories the
    pipelines write. Each call reads the sink's latest committed state
    through ``read_sink``, which re-lists the files only when a commit
    changed them since the previous call (otherwise it returns the
    DataFrame already built for that snapshot, so the server's cached
    slices and stored responses of it stay valid). A commit — a new
    batch, a finished rewrite of one, ``compact_sink`` — makes the next
    call return a new snapshot: the server's next request on that sink
    drops every slice and response of the old one, and each is made
    again from the new snapshot.
    A compacted sink (``gen=N`` plus later batch dirs) serves like an
    uncompacted one, and ``compact_sink`` can run while the server does
    (a request still reading files its sweep removes gets a 500; the
    next request reads the new generation). The order-wide sink is
    partitioned by ``create_date`` (read back as DATE); the wide
    provider adds it as the string ``dt`` the publisher plans filter
    on."""

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


_DAYS_KEPT = 8  # slices kept per provider; the least recently served goes first
_BODY_BYTES = 4 << 20  # response bytes kept per provider; a larger body is not kept
_INT_MAX = 2**31 - 1  # Spark's offset and limit are Java ints


def _encode(payload) -> bytes:
    return json.dumps(payload, ensure_ascii=False, default=_json_default).encode("utf-8")


class _Slice:
    """One persisted day slice and the requests planning on it."""

    __slots__ = ("frame", "users", "retired")

    def __init__(self, frame: DataFrame) -> None:
        self.frame, self.users, self.retired = frame, 0, False


class _Snapshot:
    """What a server holds of one provider's snapshot: the frame it was
    first served as, its day slices ({day: slice, or None for a day
    missed once}) and its stored 200 bodies ({key: body}, ``size`` bytes
    in all), least recently served first in both."""

    __slots__ = ("frame", "days", "bodies", "size")

    def __init__(self, frame: DataFrame) -> None:
        self.frame, self.days, self.bodies, self.size = frame, OrderedDict(), OrderedDict(), 0


class _Slices:
    """The day slices and stored responses of the provider frames, owned
    by one server: provider name -> :class:`_Snapshot`. A slice dropped
    (its snapshot superseded, pushed out by a newer day, or the server
    closed) is unpersisted once no request uses it: a request still
    filling it would otherwise rebuild its cache buffers after the
    unpersist, and nothing would own them."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._held: dict[str, _Snapshot] = {}

    def get(
        self, name: str, frame: DataFrame, key: tuple, day: str | None
    ) -> tuple[_Snapshot, bytes | None, _Slice | None, str]:
        """(the snapshot ``frame`` belongs to, the body stored for
        ``key`` or None, the slice ``frame.filter(on_date(day))`` or None
        to read ``frame`` itself, "hit" | "fill" | "miss" | "-"). A
        stored body settles the request: no slice, state "-". Otherwise
        a day's first miss on a snapshot is a slice miss, served
        uncached; its second cuts the slice and fills it (the caller
        counts as a user until :meth:`done`); later ones hit. A cut that
        does not plan is a miss too, and ``day=None`` asks for no slice."""
        with self._lock:
            snap = self._held.get(name)
            if snap is None or (
                snap.frame is not frame and not snap.frame.sameSemantics(frame)
            ):
                if snap is not None:
                    for s in snap.days.values():
                        self._drop(s)
                snap = self._held[name] = _Snapshot(frame)
            body = snap.bodies.get(key)
            if body is not None:
                snap.bodies.move_to_end(key)
                return snap, body, None, "-"
            if day is None:
                return snap, None, None, "-"
            days = snap.days
            if day not in days:
                days[day] = None
                self._trim(days)
                return snap, None, None, "miss"
            days.move_to_end(day)
            s, state = days[day], "hit"
            if s is None:
                try:
                    part = frame.filter(on_date(day)).persist(StorageLevel.MEMORY_AND_DISK)
                except (PySparkException, Py4JError):  # the route's plan reports it
                    _log.debug("no slice %s %s", name, day, exc_info=True)
                    return snap, None, None, "miss"
                s, state = _Slice(part), "fill"
                days[day] = s
            s.users += 1
            return snap, None, s, state

    def keep(self, name: str, snap: _Snapshot, key: tuple, body: bytes) -> None:
        """Store the 200 ``body`` answered for ``key`` on ``snap``, unless
        ``snap`` was superseded meanwhile or the body alone passes
        ``_BODY_BYTES``."""
        if len(body) > _BODY_BYTES:
            return
        with self._lock:
            if self._held.get(name) is not snap:
                return
            old = snap.bodies.pop(key, b"")
            snap.bodies[key] = body
            snap.size += len(body) - len(old)
            while snap.size > _BODY_BYTES:
                snap.size -= len(snap.bodies.popitem(last=False)[1])

    def done(self, s: _Slice) -> None:
        """The caller's action over ``s`` has finished."""
        with self._lock:
            s.users -= 1
            if s.retired:
                self._drop(s)

    def _drop(self, s: _Slice | None) -> None:  # lock held
        if s is None:
            return
        s.retired = True
        if not s.users:
            s.frame.unpersist(blocking=False)

    def _trim(self, days: OrderedDict[str, _Slice | None]) -> None:  # lock held
        while len(days) > _DAYS_KEPT:
            self._drop(days.popitem(last=False)[1])

    def release(self) -> None:
        with self._lock:
            held, self._held = self._held, {}
            for snap in held.values():
                for s in snap.days.values():
                    self._drop(s)


class _PublisherServer(ThreadingHTTPServer):
    def __init__(self, address, dau: Provider, wide: Provider) -> None:
        super().__init__(address, _Handler)
        self.dau, self.wide, self.slices = dau, wide, _Slices()

    def server_close(self) -> None:
        super().server_close()
        self.slices.release()


class _Handler(BaseHTTPRequestHandler):
    server: _PublisherServer

    def log_request(self, code="-", size="-") -> None:
        pass  # do_GET logs each request once, with its timing

    def log_message(self, format, *args) -> None:  # noqa: A002 (stdlib signature)
        _log.warning(format, *args)  # the stdlib's own error lines

    def _write(self, code: int, body: bytes) -> None:
        self._code = code
        self.send_response(code)
        self.send_header("Content-Type", "application/json; charset=utf-8")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def _send(self, code: int, payload) -> None:
        self._write(code, _encode(payload))

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

    def _int_param(self, qs: dict, name: str, default: str, least: int) -> int:
        n = int(self._param(qs, name, default))
        if not least <= n <= _INT_MAX:
            raise ValueError(f"{name} must be an integer from {least} to {_INT_MAX}, got {n}")
        return n

    def _answer(self, name: str, frame: DataFrame, day: str | None, route, *args) -> None:
        """Send ``route(frame, *args)``: the body stored for it on
        ``frame``'s snapshot, else the route run on the ``day`` slice
        (or on ``frame``), whose body is stored before it is sent."""
        key = (route, *args)
        snap, body, self._held, self._slice_state = self.server.slices.get(
            name, frame, key, day
        )
        if body is not None:
            self._resp = "hit"
            self._write(200, body)
            return
        self._resp = "miss"
        body = _encode(route(frame if self._held is None else self._held.frame, *args))
        self.server.slices.keep(name, snap, key, body)  # before the client can ask again
        self._write(200, body)

    def do_GET(self) -> None:  # noqa: N802 (stdlib handler contract)
        t0 = time.perf_counter()
        self._held, self._code, self._slice_state, self._resp = None, "-", "-", "-"
        try:
            self._route_request()
        finally:
            if self._held is not None:
                self.server.slices.done(self._held)
            # after the response is written: a log handler that raises
            # cannot cost the client its status
            _log.info(
                "%s %s %.1f ms slice=%s resp=%s", urlparse(self.path).path, self._code,
                (time.perf_counter() - t0) * 1000, self._slice_state, self._resp,
            )

    def _route_request(self) -> None:
        url = urlparse(self.path)
        # blanks kept: an EMPTY afterTime/afterId still selects keyset
        # mode below (required params still 400 on empty via _param).
        # Each route calls its provider and reads its params in the
        # order it always has, and looks its response up last, so a
        # request with several faults reports the same one it did
        # uncached.
        qs = parse_qs(url.query, keep_blank_values=True)
        dau, wide = self.server.dau, self.server.wide
        try:
            if url.path == "/dauRealtime":
                td = self._param(qs, "td")
                self._answer("dau", dau(), None, dau_realtime_json, td)
            elif url.path == "/statsByItem":
                frame = wide()
                item, date, t = (self._param(qs, n) for n in ("itemName", "date", "t"))
                self._answer("wide", frame, date, stats_by_item_json, item, date, t)
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
                    frame = wide()
                    date, item = self._param(qs, "date"), self._param(qs, "itemName")
                    page_size = self._int_param(qs, "pageSize", "20", 0)
                    self._answer(
                        "wide", frame, date, detail_by_item_keyset_json,
                        date, item, after_time or None, after_id or None, page_size,
                    )
                else:
                    frame = wide()
                    date, item = self._param(qs, "date"), self._param(qs, "itemName")
                    page_no = self._int_param(qs, "pageNo", "1", 1)
                    page_size = self._int_param(qs, "pageSize", "20", 0)
                    if page_no * page_size > _INT_MAX:  # Spark's offset + limit
                        raise ValueError(
                            f"pageNo {page_no} of pageSize {page_size} ends past row {_INT_MAX}"
                        )
                    self._answer(
                        "wide", frame, date, detail_by_item_json,
                        date, item, page_no, page_size,
                    )
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
    :func:`serve_in_background`; ``server_close()`` releases the
    server's cached slices and stored responses."""
    return _PublisherServer((host, port), _as_provider(dau), _as_provider(wide))


def serve_in_background(server: ThreadingHTTPServer) -> threading.Thread:
    """Run the server on a daemon thread (the test/sidecar mode);
    ``server.shutdown()`` stops it."""
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    return t
