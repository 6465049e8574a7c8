"""Flight SQL client sequences, as off-the-shelf clients put them on the wire.

The codec is written here from the Flight SQL protobuf definitions rather
than imported from the server package, so a codec bug in the program
cannot hide behind the same bug in its benchmark. Only the messages the
benchmark sends or reads are covered.

Every call stamps two gRPC headers: ``x-bench-req`` (the request id shared
by all RPCs of one request) and ``x-bench-sent`` (``time.monotonic_ns()``
just before the RPC is issued). The untraced server ignores them; the
traced launcher reads them to attribute spans and to measure how long a
call waited before its handler ran. CLOCK_MONOTONIC is system-wide on
Linux, so the two processes' readings are comparable.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.flight as flight

_PREFIX = "type.googleapis.com/arrow.flight.protocol.sql."
CMD_STATEMENT_QUERY = _PREFIX + "CommandStatementQuery"
CMD_PREPARED_STATEMENT_QUERY = _PREFIX + "CommandPreparedStatementQuery"
ACTION_CREATE_PREPARED_REQ = _PREFIX + "ActionCreatePreparedStatementRequest"
ACTION_CLOSE_PREPARED_REQ = _PREFIX + "ActionClosePreparedStatementRequest"
CREATE_PREPARED_STATEMENT = "CreatePreparedStatement"
CLOSE_PREPARED_STATEMENT = "ClosePreparedStatement"


def _varint(value: int) -> bytes:
    out = bytearray()
    while True:
        bits, value = value & 0x7F, value >> 7
        out.append(bits | (0x80 if value else 0))
        if not value:
            return bytes(out)


def _field(field_no: int, payload: bytes) -> bytes:
    """One length-delimited protobuf field."""
    return _varint((field_no << 3) | 2) + _varint(len(payload)) + payload


def _any(type_url: str, value: bytes) -> bytes:
    return _field(1, type_url.encode()) + _field(2, value)


def _fields(buf: bytes) -> dict[int, bytes]:
    """First value of each length-delimited field of one message."""
    out: dict[int, bytes] = {}
    pos = 0
    while pos < len(buf):
        key, pos = _read_varint(buf, pos)
        if key & 0x07 == 0:
            _, pos = _read_varint(buf, pos)
            continue
        if key & 0x07 != 2:
            raise ValueError(f"unexpected wire type {key & 0x07}")
        length, pos = _read_varint(buf, pos)
        out.setdefault(key >> 3, buf[pos:pos + length])
        pos += length
    return out


def _read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    result = shift = 0
    while True:
        byte = buf[pos]
        pos += 1
        result |= (byte & 0x7F) << shift
        if not byte & 0x80:
            return result, pos
        shift += 7


def statement_query(sql: str) -> bytes:
    return _any(CMD_STATEMENT_QUERY, _field(1, sql.encode()))


def create_prepared_request(sql: str) -> bytes:
    return _any(ACTION_CREATE_PREPARED_REQ, _field(1, sql.encode()))


def prepared_statement_query(handle: bytes) -> bytes:
    return _any(CMD_PREPARED_STATEMENT_QUERY, _field(1, handle))


def close_prepared_request(handle: bytes) -> bytes:
    return _any(ACTION_CLOSE_PREPARED_REQ, _field(1, handle))


def prepared_handle(result_body: bytes) -> bytes:
    """Handle from ``Any(ActionCreatePreparedStatementResult)``."""
    return _fields(_fields(result_body)[2])[1]


@dataclass
class Reply:
    """One request's answer and client-side timings (monotonic seconds)."""

    table: pa.Table
    sent: float
    first_batch: float
    done: float


class Session:
    """One persistent Flight connection, used by one client thread."""

    def __init__(self, port: int):
        self.conn = flight.connect(f"grpc://127.0.0.1:{port}")
        self._seq = 0
        self.prefix = b"%x" % id(self)

    def close(self) -> None:
        self.conn.close()

    def _options(self, req_id: bytes) -> flight.FlightCallOptions:
        return flight.FlightCallOptions(headers=[
            (b"x-bench-req", req_id),
            (b"x-bench-sent", str(time.monotonic_ns()).encode()),
        ])

    def _next_id(self) -> bytes:
        self._seq += 1
        return b"%s-%d" % (self.prefix, self._seq)

    def _fetch(self, ticket: flight.Ticket, req_id: bytes, sent: float) -> Reply:
        reader = self.conn.do_get(ticket, self._options(req_id))
        batches = []
        first = None
        while True:
            try:
                chunk = reader.read_chunk()
            except StopIteration:
                break
            if chunk.data is not None:
                if first is None:
                    first = time.monotonic()
                batches.append(chunk.data)
        done = time.monotonic()
        table = pa.Table.from_batches(batches, schema=reader.schema)
        return Reply(table, sent, done if first is None else first, done)

    def statement(self, sql: str) -> Reply:
        """``CommandStatementQuery`` → ``GetFlightInfo`` → ``DoGet``."""
        req_id = self._next_id()
        sent = time.monotonic()
        descriptor = flight.FlightDescriptor.for_command(statement_query(sql))
        info = self.conn.get_flight_info(descriptor, self._options(req_id))
        (endpoint,) = info.endpoints
        return self._fetch(endpoint.ticket, req_id, sent)

    def prepared(self, sql: str, params: list) -> Reply:
        """The ADBC prepared-statement sequence: ``CreatePreparedStatement``
        → ``DoPut`` binding one parameter row → ``GetFlightInfo`` →
        ``DoGet`` → ``ClosePreparedStatement``. Latency ends at the last
        batch; the close still runs before the client's next request."""
        req_id = self._next_id()
        sent = time.monotonic()
        action = flight.Action(CREATE_PREPARED_STATEMENT, create_prepared_request(sql))
        (result,) = list(self.conn.do_action(action, self._options(req_id)))
        handle = prepared_handle(result.body.to_pybytes())
        try:
            descriptor = flight.FlightDescriptor.for_command(prepared_statement_query(handle))
            batch = pa.record_batch([pa.array([v]) for v in params],
                                    names=[f"param_{i + 1}" for i in range(len(params))])
            writer, _ = self.conn.do_put(descriptor, batch.schema, self._options(req_id))
            writer.write_batch(batch)
            writer.close()
            info = self.conn.get_flight_info(descriptor, self._options(req_id))
            (endpoint,) = info.endpoints
            return self._fetch(endpoint.ticket, req_id, sent)
        finally:
            close = flight.Action(CLOSE_PREPARED_STATEMENT, close_prepared_request(handle))
            list(self.conn.do_action(close, self._options(req_id)))
