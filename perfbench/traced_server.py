"""Traced server launcher: the program's own ``server.main`` with spans
recorded around the public functions of each layer on the request path.

    python perfbench/traced_server.py --warehouse DIR --port 0

Run from the repository root. It wraps, before the server starts:

- ``server``: the ``SparkFlightServer`` handlers, ``resolve_query_frame``,
  ``assert_query_shaped`` (the read-only gate) and ``iter_arrow_batches``
  (result streaming; its span runs from the first pull to exhaustion);
- ``dialect``: ``rewrite`` and ``run_sql``;
- ``catalyst``: ``SparkSession.sql`` (parse + analysis);
- ``session``: ``bootstrap`` and ``register_views``.

A gRPC middleware reads the ``x-bench-req`` / ``x-bench-sent`` headers the
benchmark client stamps on every call, so spans carry the request id and
each handler records how long its call waited before it ran.

Spans are kept in memory. Recording is off until the benchmark writes
``on`` to stdin; ``off PATH`` stops it and writes the spans, and the Spark
jobs launched while it was on, to ``PATH`` as JSON, then prints ``ok``.
Jobs and their task counts and durations come from the SparkContext's
status tracker and status store.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import sys
import threading
import time

import pyarrow.flight as flight

sys.path.insert(0, os.getcwd())

from duckdb_server_spark import dialect, server, session  # noqa: E402
from pyspark.sql.session import SparkSession  # noqa: E402


class Tracer:
    def __init__(self):
        self.enabled = False
        self.spans: list[tuple] = []  # (id, name, start_ns, end_ns, parent, req, extra)
        self._ids = itertools.count(1)
        self._local = threading.local()
        self.spark: SparkSession | None = None
        self.job_floor = -1

    def stack(self) -> list:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def current(self) -> tuple[int | None, str | None]:
        """(innermost open span, its request id) on this thread."""
        stack = self.stack()
        return stack[-1] if stack else (None, None)

    def wrap(self, name: str, fn):
        """Span around every call of ``fn``; ``extra`` records whether the
        call returned or raised."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            parent, req = self.current()
            span_id = next(self._ids)
            stack = self.stack()
            stack.append((span_id, req))
            start = time.monotonic_ns()
            ok = False
            try:
                result = fn(*args, **kwargs)
                ok = True
                return result
            finally:
                stack.pop()
                self.spans.append((span_id, name, start, time.monotonic_ns(), parent, req,
                                   {"ok": ok}))

        return traced

    def handler(self, name: str, fn):
        """Span around a Flight handler. Generator handlers (``DoAction``)
        do their work while gRPC drains them, so the span closes when the
        generator is exhausted."""

        @functools.wraps(fn)
        def traced(this, context, *args):
            if not self.enabled:
                return fn(this, context, *args)
            entered = time.monotonic_ns()
            mw = context.get_middleware("bench")
            req = mw.req if mw else None
            queue_ns = entered - mw.sent_ns if mw and mw.sent_ns else None
            span_id = next(self._ids)
            extra = {"queue_ns": queue_ns}

            def finish():
                self.spans.append((span_id, name, entered, time.monotonic_ns(), None, req, extra))

            stack = self.stack()
            stack.append((span_id, req))
            try:
                result = fn(this, context, *args)
            except BaseException:
                stack.pop()
                finish()
                raise
            stack.pop()
            if not hasattr(result, "__next__") or isinstance(result, flight.FlightDataStream):
                finish()
                return result

            def drain():
                stack = self.stack()
                stack.append((span_id, req))
                try:
                    yield from result
                finally:
                    stack.pop()
                    finish()

            return drain()

        return traced

    def stream(self, fn):
        """Span over a result stream: first pull to exhaustion, with the
        first-batch time, batch count and bytes in ``extra``."""

        @functools.wraps(fn)
        def traced(df, schema):
            batches = fn(df, schema)
            if not self.enabled:
                return batches
            parent, req = self.current()
            span_id = next(self._ids)

            def pull():
                start, first = time.monotonic_ns(), None
                count = nbytes = 0
                try:
                    for batch in batches:
                        if first is None:
                            first = time.monotonic_ns()
                        count += 1
                        nbytes += batch.nbytes
                        yield batch
                finally:
                    end = time.monotonic_ns()
                    self.spans.append((span_id, "server.stream", start, end, parent, req,
                                       {"first_ns": first, "batches": count, "bytes": nbytes}))

            return pull()

        return traced

    # -- Spark jobs ---------------------------------------------------------
    def _job_ids(self) -> list[int]:
        return sorted(self.spark.sparkContext.statusTracker().getJobIdsForGroup(None))

    def start(self) -> None:
        if self.spark is not None:
            ids = self._job_ids()
            self.job_floor = ids[-1] if ids else -1
        self.spans.clear()
        self.enabled = True

    def jobs(self) -> list[dict]:
        """Jobs launched since ``start``, once the listener bus has caught
        up (every job has a completion time)."""
        if self.spark is None:
            return []
        store = self.spark.sparkContext._jsc.sc().statusStore()
        deadline = time.monotonic() + 10
        while True:
            out, pending = [], False
            for job_id in self._job_ids():
                if job_id <= self.job_floor:
                    continue
                try:
                    data = store.job(job_id)
                except Exception:  # evicted from the bounded status store
                    continue
                submitted, completed = data.submissionTime(), data.completionTime()
                if completed.isEmpty() or submitted.isEmpty():
                    pending = True
                    continue
                out.append({"id": job_id, "tasks": data.numTasks(),
                            "ms": completed.get().getTime() - submitted.get().getTime()})
            if not pending or time.monotonic() > deadline:
                return out
            time.sleep(0.1)

    def stop(self, path: str) -> None:
        self.enabled = False
        spans = [dict(zip(("id", "name", "start_ns", "end_ns", "parent", "req", "extra"), s))
                 for s in self.spans]
        for span in spans:
            if isinstance(span["req"], bytes):
                span["req"] = span["req"].decode()
        with open(path, "w") as fh:
            json.dump({"spans": spans, "jobs": self.jobs()}, fh)


TRACER = Tracer()


class _HeaderMiddleware(flight.ServerMiddleware):
    def __init__(self, req, sent_ns):
        self.req = req
        self.sent_ns = sent_ns


class _HeaderMiddlewareFactory(flight.ServerMiddlewareFactory):
    def start_call(self, info, headers):
        req = headers.get("x-bench-req")
        sent = headers.get("x-bench-sent")
        if not req:
            return None
        return _HeaderMiddleware(req[0], int(sent[0]) if sent else None)


class _WithMiddleware(flight.FlightServerBase):
    """Sits under ``SparkFlightServer`` in the MRO so its
    ``super().__init__(location)`` installs the header middleware."""

    def __init__(self, location=None, **kwargs):
        kwargs.setdefault("middleware", {"bench": _HeaderMiddlewareFactory()})
        super().__init__(location, **kwargs)


class TracedFlightServer(server.SparkFlightServer, _WithMiddleware):
    def __init__(self, spark, location="grpc://127.0.0.1:0"):
        super().__init__(spark, location)
        TRACER.spark = spark


for _name in ("get_flight_info", "do_get", "do_action", "do_put"):
    setattr(TracedFlightServer, _name,
            TRACER.handler(f"server.{_name}", getattr(server.SparkFlightServer, _name)))


def install() -> None:
    server.SparkFlightServer = TracedFlightServer
    server.resolve_query_frame = TRACER.wrap("server.resolve", server.resolve_query_frame)
    server.assert_query_shaped = TRACER.wrap("server.gate", server.assert_query_shaped)
    server.iter_arrow_batches = TRACER.stream(server.iter_arrow_batches)
    dialect.rewrite = TRACER.wrap("dialect.rewrite", dialect.rewrite)
    dialect.run_sql = TRACER.wrap("dialect.run_sql", dialect.run_sql)
    SparkSession.sql = TRACER.wrap("catalyst.analyze", SparkSession.sql)
    # Bootstrap runs before any "on" command; record it unconditionally.
    session.register_views = _timed("register_views_s", session.register_views)
    session.bootstrap = _timed("bootstrap_s", session.bootstrap)


BOOT: dict[str, float] = {}


def _timed(key: str, fn):
    @functools.wraps(fn)
    def timed(*args, **kwargs):
        start = time.monotonic()
        try:
            return fn(*args, **kwargs)
        finally:
            BOOT[key] = time.monotonic() - start

    return timed


def control() -> None:
    """Serve the benchmark's ``on`` / ``off PATH`` / ``boot`` commands."""
    for line in sys.stdin:
        command, _, arg = line.strip().partition(" ")
        if command == "on":
            TRACER.start()
        elif command == "off":
            TRACER.stop(arg)
        elif command == "boot":
            print("boot " + json.dumps(BOOT), flush=True)
            continue
        else:
            print(f"unknown command {command!r}", flush=True)
            continue
        print("ok", flush=True)


def main() -> None:
    install()
    threading.Thread(target=control, name="bench-control", daemon=True).start()
    server.main(sys.argv[1:])


if __name__ == "__main__":
    main()
