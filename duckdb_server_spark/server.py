"""Arrow Flight serving façade — the engine's protocol surface.

Parity target: the reference is an Arrow Flight SQL server on ``:32010``
(main.go:258,270) with three handlers — ``GetFlightInfo`` for
``CommandStatementQuery`` / ``CommandGetSqlInfo`` (main.go:126-194),
``DoGet`` executing the ticket's SQL and streaming Arrow record batches
(main.go:196-250), and ``DoAction`` left Unimplemented (main.go:121-124).

Protocol surface (both served):
- **Flight SQL protobuf** (what off-the-shelf ADBC / flightsql clients
  speak, reference client/main.go:13-17): ``GetFlightInfo`` unmarshals a
  protobuf ``Any`` wrapping ``CommandStatementQuery`` (main.go:129-139) and
  answers ``CommandGetSqlInfo`` with the standard ``SqlInfo`` dense-union
  schema (main.go:173-175, 202-223). Wire codecs: ``flightsql.py``.
- **Raw tickets** (reference client/main.py:9-11): ticket bytes ARE the SQL.

The ticket is the command: GetFlightInfo hands back the descriptor's own
bytes (main.go:153-167). ``SparkFlightServer._command`` decodes every
descriptor or ticket once, like the reference's switch on the command
type, into a resolved DataFrame or the finished metadata table (catalogs,
schemas, tables, keys, type and SqlInfo). A statement resolves once per
request: a schema probe holds its frame in one bounded map keyed by the
ticket bytes, and DoGet takes it (a miss resolves afresh). Prepared
statements live in one bounded map, handle → [SQL, bound parameter row];
a prepared ticket is valid while its handle is open.

Spark-first differences (improvements, documented in SURVEY.md §3):
- ``GetFlightInfo`` resolves the result schema via Catalyst **analysis
  only** (``spark.sql(q).schema`` — parse → analyze, no job). The
  reference executes the full query just to read the schema and then
  discards the result (main.go:142-148), doubling every two-step query;
  here the frame the probe resolves is the one DoGet runs.
- Results transfer in **one Spark job** (``toArrow``: JVM-side Arrow, no
  Python worker), forwarded as bounded zero-copy slices. Unlike the
  reference's pipelined loop (main.go:241-243), the driver holds one whole
  result per in-flight DoGet and sends the first batch once it is collected.
- The warehouse is served from memory (``main``), as the reference's one
  DuckDB keeps the pages it has read in its buffer manager (main.go:44-70).
  Scans use Spark's default 128 MB splits (``SERVING_CONFIGS``), one task
  per core for a small file, not the operator catalog's 512 KB. Serving
  runs without whole-stage codegen, since a fused stage class embeds each
  request's literals and so cost a Janino compile plus a HotSpot recompile
  per request; each operator then runs its own loop over small
  per-expression classes. Each
  warehouse view is persisted in Spark's in-memory columnar store
  (``session.cache_views``, MEMORY_ONLY): tables are admitted smallest
  first while 4 × their parquet bytes fit in half of the driver's on-heap
  storage memory, and a larger one stays on parquet. The first query on a
  table builds its cache; later ones read cached batches and skip those
  whose min/max statistics rule their filter out.

Read-only serving, enforced at one chokepoint: while a request resolves
(``read_only_scope``), every ``SparkSession.sql`` on that thread is gated
at **parse time** on exactly the text Spark is about to run (before it can
eagerly execute a command) — only query-shaped plans and read-only
metadata commands (EXPLAIN/SHOW/DESCRIBE) run; DDL, DML, SET and other
side-effecting statements are rejected with a Flight error, whichever
dialect route produced them. This is the engine-level analog of the
reference's ``access_mode=read_only`` connection (main.go:61).
Authentication is out of scope, as in the reference (no auth handlers in
main.go).
"""

from __future__ import annotations

import functools
import itertools
import re
import threading
from collections import OrderedDict
from collections.abc import Iterator
from contextlib import contextmanager

import pyarrow as pa
import pyarrow.flight as flight
from pyspark.errors import PySparkException, PythonException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema

from duckdb_server_spark import dialect, flightsql

# Rows per streamed RecordBatch (the reference streams whatever batch size
# DuckDB produces; we re-chunk to a bounded size).
BATCH_ROWS = 8192

# Open prepared-statement handles, and frames held for a DoGet, per
# server; past it the oldest is evicted, bounding a client that never
# sends ClosePreparedStatement or never fetches its ticket.
MAX_PREPARED_STATEMENTS = 1024

# The serving session scans with Spark's default 128 MB splits rather than
# the operator catalog's 512 KB (session.default_configs): a lookup's job
# then has one task per core, not one per 512 KB of parquet. It also runs
# without whole-stage codegen: a fused stage class embeds the request's
# literals, so every fresh key or range cost a Janino compile plus a
# HotSpot recompile of the new class's loop.
SERVING_CONFIGS = {
    "spark.sql.files.maxPartitionBytes": str(128 << 20),
    "spark.sql.codegen.wholeStage": "false",
}

# Read-only command prefixes allowed through the statement gate.
_READONLY_COMMAND_PREFIXES = ("Explain", "Show", "Describe")


class ReadOnlyViolation(flight.FlightServerError, dialect.DialectError):
    """A read-only gate denial. As a ``DialectError`` it is never retried
    by ``dialect.run_sql`` under another spelling; as a
    ``FlightServerError`` it reaches the client as one."""


def assert_query_shaped(spark: SparkSession, sql: str) -> None:
    """Reject non-query statements at parse time (read-only gate).

    ``spark.sql`` executes commands (DDL/DML/SET) **eagerly** at DataFrame
    creation, so the gate must run on the *parsed* plan before any
    ``spark.sql`` call. Deny when the parsed plan is a Catalyst ``Command``
    (SET/CREATE/DROP/CACHE/ADD JAR/...) other than read-only metadata
    commands, or an INSERT statement (``InsertIntoStatement`` /
    ``InsertIntoDir`` are not ``Command`` subclasses at parse time).
    """
    jspark = spark._jsparkSession
    try:
        parsed = jspark.sessionState().sqlParser().parsePlan(sql)
    except Exception as exc:
        raise flight.FlightServerError(f"parse error: {exc}") from exc
    name = parsed.getClass().getSimpleName()
    if name.startswith("InsertInto"):
        raise ReadOnlyViolation(f"read-only server: statement {name!r} is not allowed")
    command_cls = getattr(spark, "_dss_command_cls", None)
    if command_cls is None:
        command_cls = spark._jvm.java.lang.Class.forName(
            "org.apache.spark.sql.catalyst.plans.logical.Command"
        )
        spark._dss_command_cls = command_cls
    if command_cls.isInstance(parsed) and not name.startswith(
        _READONLY_COMMAND_PREFIXES
    ):
        raise ReadOnlyViolation(f"read-only server: statement {name!r} is not allowed")


_READ_ONLY = threading.local()


@contextmanager
def read_only_scope():
    """Gate every ``SparkSession.sql`` on the current thread while active
    (the server enters it for each request resolution)."""
    prev = getattr(_READ_ONLY, "on", False)
    _READ_ONLY.on = True
    try:
        yield
    finally:
        _READ_ONLY.on = prev


def _install_gate() -> None:
    """Wrap ``SparkSession.sql`` once so that inside ``read_only_scope``
    the gate parses exactly the text Spark runs, whichever dialect route
    (rewrite, PIVOT source, EXECUTE body, UNION BY NAME arm …) produced
    it. ``assert_query_shaped`` is looked up per call, as a module global."""
    spark_sql = SparkSession.sql

    @functools.wraps(spark_sql)
    def sql(self, sqlQuery, *args, **kwargs):
        if getattr(_READ_ONLY, "on", False):
            assert_query_shaped(self, sqlQuery)
        return spark_sql(self, sqlQuery, *args, **kwargs)

    SparkSession.sql = sql


_install_gate()


def resolve_query_frame(spark: SparkSession, sql: str) -> DataFrame:
    """Serving-path execution with the FULL dialect surface — everything
    ``Engine.sql`` accepts works over the wire too: routed statement
    forms (DESCRIBE / SUMMARIZE / dynamic PIVOT / UNPIVOT / EXECUTE),
    ``read_parquet``/bare-path file reads, macros, UNION BY NAME, and
    recursive CTEs. The read-only gate sees every statement any of those
    routes hands to Spark (``read_only_scope``).

    Resolution runs under the DuckDB-first serving default
    (dialect.serving_dialect): the reference's wire contract is verbatim
    DuckDB SQL (main.go:199,229), so both-dialect-valid statements get
    DuckDB answers here while embedded ``Engine.sql`` stays native-first.
    An explicit ``SET dialect`` in the init script overrides either way."""
    with dialect.serving_dialect(), read_only_scope():
        try:
            return dialect.run_sql(spark, sql)
        except Exception as exc:
            raise _flight_error(exc) from exc


def _flight_error(exc: Exception) -> flight.FlightServerError:
    """An engine error as a Flight error (main.go:230-232) with the root
    cause's message only: a gRPC client with default options refuses error
    metadata past 8 KB, which a Python worker's traceback can pass."""
    if isinstance(exc, flight.FlightServerError):
        return exc
    message = str(exc)
    if isinstance(exc, PythonException):
        # The traceback's last line: "ValueError: cannot take logarithm …"
        message = message.rstrip().rpartition("\n")[2]
    elif isinstance(exc, PySparkException):
        message = exc.getMessage() or message
    return flight.FlightServerError(message)


def _action_body(action: flight.Action, type_url: str) -> bytes:
    """The value of a DoAction body that must be ``Any(type_url)``."""
    unpacked = flightsql.unpack_any(action.body.to_pybytes())
    if unpacked is None or unpacked[0] != type_url:
        raise flight.FlightServerError(
            f"{action.type} body is not Any({type_url.rpartition('.')[2]})"
        )
    return unpacked[1]


def _arrow_schema(df: DataFrame) -> pa.Schema:
    """The result's Arrow schema; an engine error becomes a Flight error."""
    try:
        return to_arrow_schema(df.schema)
    except Exception as exc:
        raise _flight_error(exc) from exc


def iter_arrow_batches(df: DataFrame, schema: pa.Schema) -> Iterator[pa.RecordBatch]:
    """The result as zero-copy slices of at most ``BATCH_ROWS`` rows, in
    result order, from one JVM-side Arrow collect (one Spark job; no Python
    worker unless the query calls a Python UDF)."""
    try:
        table = df.toArrow()
    except Exception as exc:
        raise _flight_error(exc) from exc
    if table.schema != schema:
        table = table.cast(schema)
    yield from table.to_batches(max_chunksize=BATCH_ROWS)


class SparkFlightServer(flight.FlightServerBase):
    """Flight server over one shared SparkSession (the reference shares a
    single DuckDB connection across all requests, main.go:70)."""

    def __init__(self, spark: SparkSession, location: str = "grpc://127.0.0.1:0"):
        super().__init__(location)
        self.spark = spark
        self._location = location
        # Prepared statements, oldest first: handle → [SQL text, the
        # parameter row bound via DoPut or None]. The reference leaves
        # DoAction Unimplemented (main.go:121-124); ADBC FlightSQL drivers
        # route *every* statement through CreatePreparedStatement, so
        # implementing the pair is what makes off-the-shelf clients work.
        self._prepared: OrderedDict[bytes, list] = OrderedDict()
        # Frames resolved for the next DoGet, oldest first: ticket bytes →
        # (frame, the parameter row it was bound under or None).
        self._held: OrderedDict[bytes, tuple] = OrderedDict()
        self._prepared_lock = threading.Lock()
        self._handles = itertools.count(1)

    # -- the one command decode (main.go:126-194's switch) ------------------
    _CATALOG_NAME = "spark_catalog"
    _DB_SCHEMA_NAME = "default"

    def _command(self, raw: bytes, take: bool = False) -> DataFrame | pa.Table:
        """Decode descriptor/ticket bytes into the resolved statement, or
        into the finished Flight SQL metadata table (cheap to build).
        ``take`` (DoGet) releases the statement's held frame."""
        unpacked = flightsql.unpack_any(raw)
        if unpacked is None:
            try:
                sql = raw.decode("utf-8")
            except UnicodeDecodeError:
                raise flight.FlightServerError(
                    "ticket is neither Flight SQL protobuf nor UTF-8 SQL"
                ) from None
            return self._frame(raw, take, sql=sql)
        type_url, value = unpacked
        if type_url == flightsql.CMD_STATEMENT_QUERY:
            return self._frame(
                raw, take, sql=flightsql.decode_command_statement_query(value)
            )
        if type_url == flightsql.CMD_PREPARED_STATEMENT_QUERY:
            return self._frame(
                raw, take, handle=flightsql.decode_prepared_statement_handle(value)
            )
        if type_url == flightsql.CMD_GET_SQL_INFO:
            return flightsql.sql_info_table(flightsql.decode_command_get_sql_info(value))
        if type_url == flightsql.CMD_GET_CATALOGS:
            return pa.Table.from_arrays(
                [pa.array([self._CATALOG_NAME])], schema=flightsql.GET_CATALOGS_SCHEMA
            )
        if type_url == flightsql.CMD_GET_DB_SCHEMAS:
            return pa.Table.from_arrays(
                [pa.array([self._CATALOG_NAME]), pa.array([self._DB_SCHEMA_NAME])],
                schema=flightsql.GET_DB_SCHEMAS_SCHEMA,
            )
        if type_url == flightsql.CMD_GET_TABLES:
            return self._tables(*flightsql.decode_command_get_tables(value))
        # Constraint metadata: parquet views carry no PK/FK — the
        # protocol-correct answer is an empty standard-schema table, so
        # ADBC metadata fetches succeed instead of erroring on
        # Unimplemented (which is what the reference returns).
        if type_url == flightsql.CMD_GET_PRIMARY_KEYS:
            return flightsql.empty_table(flightsql.GET_PRIMARY_KEYS_SCHEMA)
        if type_url in (flightsql.CMD_GET_EXPORTED_KEYS, flightsql.CMD_GET_IMPORTED_KEYS):
            return flightsql.empty_table(flightsql.GET_KEYS_SCHEMA)
        if type_url == flightsql.CMD_GET_XDBC_TYPE_INFO:
            return flightsql.xdbc_type_info_table(
                flightsql.decode_command_get_xdbc_type_info(value)
            )
        raise flight.FlightServerError(f"unsupported Flight SQL command {type_url}")

    def _tables(self, pattern: str | None, include_schema: bool) -> pa.Table:
        """CommandGetTables over the served temp-view namespace (the '-db'
        warehouse). The table_name_filter_pattern is a SQL LIKE pattern
        ('%' any run, '_' one char) — translated to an anchored regex so
        '_' works and regex/glob metacharacters in names stay literal."""
        like_re = None
        if pattern is not None:
            like_re = re.compile(
                "".join(
                    ".*" if ch == "%" else "." if ch == "_" else re.escape(ch)
                    for ch in pattern
                )
                + r"\Z"
            )
        names = sorted(
            t.name
            for t in self.spark.catalog.listTables()
            if t.isTemporary and (like_re is None or like_re.match(t.name))
        )
        arrays = [
            pa.array([self._CATALOG_NAME] * len(names)),
            pa.array([self._DB_SCHEMA_NAME] * len(names)),
            pa.array(names),
            pa.array(["VIEW"] * len(names)),
        ]
        schema = flightsql.GET_TABLES_SCHEMA
        if include_schema:
            arrays.append(
                pa.array(
                    [
                        flightsql.serialize_schema(
                            to_arrow_schema(self.spark.table(n).schema)
                        )
                        for n in names
                    ],
                    pa.binary(),
                )
            )
            schema = flightsql.GET_TABLES_SCHEMA_WITH_SCHEMA
        return pa.Table.from_arrays(arrays, schema=schema)

    def _frame(self, ticket: bytes, take: bool, sql: str | None = None,
               handle: bytes | None = None) -> DataFrame:
        """The frame of query text, or of an open prepared handle under its
        current binding, resolved once per execution: a schema probe holds
        it under the ticket bytes until DoGet takes it. A held frame counts
        only while its row is the handle's current row object (None for
        query text). DoGet takes it because a frame keeps its optimized
        plan: a reused one would repeat now(), which DuckDB evaluates per
        execution."""
        params = None
        with self._prepared_lock:
            if handle is not None:
                statement = self._prepared.get(handle)
                if statement is None:
                    raise flight.FlightServerError(
                        f"unknown prepared statement handle {handle!r}"
                    )
                sql, params = statement
            held = self._held.pop(ticket, None) if take else self._held.get(ticket)
        if held is not None and held[1] is params:
            return held[0]
        if params is not None:
            try:
                sql = dialect.bind_parameters(sql, params)
            except ValueError as exc:
                raise flight.FlightServerError(str(exc)) from exc
        frame = resolve_query_frame(self.spark, sql)
        if not take:
            with self._prepared_lock:
                self._hold(ticket, frame, params)
        return frame

    def _hold(self, ticket: bytes, frame: DataFrame, params: list | None) -> None:
        """Hold ``frame`` for the ticket's DoGet, evicting the oldest past
        the cap. The caller holds ``_prepared_lock``."""
        self._held[ticket] = (frame, params)
        self._held.move_to_end(ticket)
        while len(self._held) > MAX_PREPARED_STATEMENTS:
            self._held.popitem(last=False)

    def _schema(self, command: DataFrame | pa.Table) -> pa.Schema:
        """The result schema: a metadata table's own, or the resolved
        statement's from Catalyst analysis only (vs the reference's full
        double execution, main.go:144-148); routed statement forms may run
        their inherent discovery job (dynamic PIVOT's distinct)."""
        if isinstance(command, pa.Table):
            return command.schema
        return _arrow_schema(command)

    # -- entry point 2: schema probe (main.go:126-194) ----------------------
    def get_flight_info(self, context, descriptor):
        schema = self._schema(self._command(descriptor.command))
        # The ticket is the command (main.go:153-167).
        endpoint = flight.FlightEndpoint(
            flight.Ticket(descriptor.command), [self._location]
        )
        # Unknown cardinality: -1 records / -1 bytes, like the reference
        # (main.go:164-165).
        return flight.FlightInfo(schema, descriptor, [endpoint], -1, -1)

    # -- GetSchema: schema-only probe (no ticket, no execution) -------------
    def get_schema(self, context, descriptor):
        return flight.SchemaResult(self._schema(self._command(descriptor.command)))

    # -- entry point 1: execute + stream (main.go:196-250) ------------------
    def do_get(self, context, ticket):
        command = self._command(ticket.ticket, take=True)
        if isinstance(command, pa.Table):
            return flight.RecordBatchStream(command)
        schema = _arrow_schema(command)
        return flight.GeneratorStream(schema, iter_arrow_batches(command, schema))

    # -- DoAction: prepared statements (beyond the reference, which leaves
    # DoAction Unimplemented, main.go:121-124). ADBC FlightSQL drivers
    # execute *all* statements via CreatePreparedStatement → GetFlightInfo(
    # CommandPreparedStatementQuery) → DoGet → ClosePreparedStatement, so
    # this pair is the difference between "speaks the protocol" and "works
    # with off-the-shelf clients". Other actions stay Unimplemented. --------
    def do_action(self, context, action):
        if action.type == flightsql.CREATE_PREPARED_STATEMENT:
            sql = flightsql.decode_action_create_prepared_request(
                _action_body(action, flightsql.ACTION_CREATE_PREPARED_REQ)
            )
            if dialect.has_parameters(sql):
                # Parameterized statement: full analysis must wait for the
                # DoPut binding, so gate the statement shape only — on the
                # placeholders-as-NULL form, since Spark's parser rejects
                # '$N' — and return an empty dataset schema; clients
                # discover it from the first result stream. The bound form
                # is re-gated + analyzed at execution.
                assert_query_shaped(self.spark, dialect.neutralize_parameters(sql))
                frame, schema = None, pa.schema([])
            else:
                # Gate + analyze now: a bad statement fails at prepare
                # time (the contract ADBC relies on), and the dataset
                # schema rides back in the result so clients can bind
                # without a round trip. Full dialect surface — DESCRIBE /
                # SUMMARIZE / read_parquet prepare fine. The frame is
                # held under the handle's ticket for its DoGet.
                frame = resolve_query_frame(self.spark, sql)
                schema = _arrow_schema(frame)
            with self._prepared_lock:
                handle = b"dss-ps-%d" % next(self._handles)
                self._prepared[handle] = [sql, None]
                while len(self._prepared) > MAX_PREPARED_STATEMENTS:
                    self._prepared.popitem(last=False)
                if frame is not None:
                    self._hold(
                        flightsql.encode_command_prepared_statement_query(handle),
                        frame,
                        None,
                    )
            yield flight.Result(
                flightsql.encode_action_create_prepared_result(
                    handle, flightsql.serialize_schema(schema)
                )
            )
            return
        if action.type == flightsql.CLOSE_PREPARED_STATEMENT:
            handle = flightsql.decode_prepared_statement_handle(
                _action_body(action, flightsql.ACTION_CLOSE_PREPARED_REQ)
            )
            with self._prepared_lock:
                self._prepared.pop(handle, None)  # close is idempotent
                self._held.pop(
                    flightsql.encode_command_prepared_statement_query(handle), None
                )
            return
        raise NotImplementedError(f"action {action.type!r} not implemented")

    # -- DoPut: prepared-statement parameter binding. The only write the
    # server accepts — and it writes engine state, not data: one Arrow row
    # of '?'/'$N' values per handle (the ADBC/JDBC bind sequence). Data
    # DoPut stays rejected, preserving the read-only contract. -------------
    def do_put(self, context, descriptor, reader, writer):
        unpacked = flightsql.unpack_any(descriptor.command)
        if unpacked is None or unpacked[0] != flightsql.CMD_PREPARED_STATEMENT_QUERY:
            raise flight.FlightServerError(
                "read-only server: DoPut accepts only "
                "CommandPreparedStatementQuery parameter binding"
            )
        handle = flightsql.decode_prepared_statement_handle(unpacked[1])
        table = reader.read_all()
        if table.num_rows != 1:
            raise flight.FlightServerError(
                f"parameter binding expects exactly one row, got {table.num_rows}"
            )
        row = [col[0].as_py() for col in table.columns]
        with self._prepared_lock:
            statement = self._prepared.get(handle)
            if statement is None:
                raise flight.FlightServerError(
                    f"unknown prepared statement handle {handle!r}"
                )
            statement[1] = row

    def list_actions(self, context):
        return [
            flight.ActionType(
                flightsql.CREATE_PREPARED_STATEMENT,
                "Prepare a read-only SQL statement; returns "
                "Any(ActionCreatePreparedStatementResult) with the handle "
                "and dataset schema.",
            ),
            flight.ActionType(
                flightsql.CLOSE_PREPARED_STATEMENT,
                "Release a prepared statement handle (idempotent).",
            ),
        ]


def serve_in_background(
    spark: SparkSession, port: int = 0
) -> tuple[SparkFlightServer, threading.Thread]:
    """Start the server on a daemon thread; returns (server, thread).
    ``server.port`` holds the bound port (0 → ephemeral)."""
    server = SparkFlightServer(spark, f"grpc://127.0.0.1:{port}")
    thread = threading.Thread(target=server.serve, daemon=True)
    thread.start()
    return server, thread


# ---------------------------------------------------------------------------
# Smoke clients (parity with client/main.py / client/main.go)
# ---------------------------------------------------------------------------


def query_raw(port: int, sql: str) -> pa.Table:
    """Raw-ticket path (client/main.py:9-11): ticket bytes are the SQL."""
    client = flight.connect(f"grpc://127.0.0.1:{port}")
    try:
        return client.do_get(flight.Ticket(sql.encode("utf-8"))).read_all()
    finally:
        client.close()


def _fetch(port: int, command: bytes) -> pa.Table:
    """GetFlightInfo(command) → DoGet on every endpoint → one table."""
    client = flight.connect(f"grpc://127.0.0.1:{port}")
    try:
        info = client.get_flight_info(flight.FlightDescriptor.for_command(command))
        return pa.concat_tables(client.do_get(ep.ticket).read_all() for ep in info.endpoints)
    finally:
        client.close()


def query_two_step(port: int, sql: str) -> pa.Table:
    """GetFlightInfo → DoGet path (client/main.py:21-24 ADBC analog)."""
    return _fetch(port, sql.encode("utf-8"))


def query_flightsql(port: int, sql: str) -> pa.Table:
    """Standard Flight SQL two-step (reference client/main.go:13-27): the
    descriptor carries ``Any(CommandStatementQuery)``, the endpoint ticket
    is passed back opaquely — the exact wire exchange an ADBC /
    flightsql-go driver performs."""
    return _fetch(port, flightsql.encode_command_statement_query(sql))


def query_prepared(port: int, sql: str, params=None) -> pa.Table:
    """Full ADBC-style prepared-statement exchange: DoAction
    CreatePreparedStatement → [DoPut parameter row] → GetFlightInfo(
    CommandPreparedStatementQuery) → DoGet → DoAction
    ClosePreparedStatement. This is the wire sequence
    ``adbc_driver_flightsql`` emits for every ExecuteQuery."""
    client = flight.connect(f"grpc://127.0.0.1:{port}")
    try:
        results = list(
            client.do_action(
                flight.Action(
                    flightsql.CREATE_PREPARED_STATEMENT,
                    flightsql.encode_action_create_prepared_request(sql),
                )
            )
        )
        handle, _schema = flightsql.decode_action_create_prepared_result(
            results[0].body.to_pybytes()
        )
        try:
            descriptor = flight.FlightDescriptor.for_command(
                flightsql.encode_command_prepared_statement_query(handle)
            )
            if params is not None:
                batch = pa.record_batch(
                    [pa.array([v]) for v in params],
                    names=[f"param_{i + 1}" for i in range(len(params))],
                )
                put_writer, _put_meta = client.do_put(descriptor, batch.schema)
                put_writer.write_batch(batch)
                put_writer.close()
            info = client.get_flight_info(descriptor)
            tables = [client.do_get(ep.ticket).read_all() for ep in info.endpoints]
            return pa.concat_tables(tables)
        finally:
            list(
                client.do_action(
                    flight.Action(
                        flightsql.CLOSE_PREPARED_STATEMENT,
                        flightsql.encode_action_close_prepared_request(handle),
                    )
                )
            )
    finally:
        client.close()


def get_sql_info(port: int, codes: list[int] | None = None) -> pa.Table:
    """Standard Flight SQL GetSqlInfo (main.go:170-191 analog): dense-union
    value column, optional code filter."""
    return _fetch(port, flightsql.encode_command_get_sql_info(codes))


def get_tables(
    port: int, pattern: str | None = None, include_schema: bool = False
) -> pa.Table:
    """Standard Flight SQL CommandGetTables (beyond the reference, which
    implements only GetSqlInfo — this is what ADBC's adbc_get_objects
    drives). Catalogs/db-schemas commands work the same way."""
    return _fetch(port, flightsql.encode_command_get_tables(pattern, include_schema))


# ---------------------------------------------------------------------------
# CLI entrypoint — the reference's flag surface (main.go:31-42)
# ---------------------------------------------------------------------------


def main(argv: list[str] | None = None) -> None:
    """``python -m duckdb_server_spark.server`` — serve a parquet warehouse
    over Arrow Flight, mirroring the reference's CLI (main.go:31-42):

    - ``--warehouse DIR`` ↔ ``-db``: directory of ``<table>.parquet``
      registered as views at startup; serving is read-only — enforced by
      the parse-time statement gate (main.go:61's access_mode=read_only).
    - ``--init SQL``      ↔ ``-init``: ';'-separated statements run once
      after the views register (main.go:107-111) — init SQL is NOT gated,
      matching the reference's init-phase write window (k8s/main.yaml).
    - ``--port N``        ↔ the fixed ``:32010`` (main.go:258).
    """
    import argparse

    from pyspark.logger import PySparkLogger

    from duckdb_server_spark import session

    parser = argparse.ArgumentParser(description="PySpark Arrow Flight SQL server")
    parser.add_argument("--warehouse", default=session.DEFAULT_SF_DIR)
    parser.add_argument("--init", default="", help="';'-separated init SQL")
    parser.add_argument("--port", type=int, default=32010)
    args = parser.parse_args(argv)

    # Spark logs each captured analysis error with its stack trace, also
    # the ones dialect.run_sql expects and retries; a client reads the
    # root cause from _flight_error.
    PySparkLogger.getLogger("SQLQueryContextLogger").disabled = True
    spark = session.get_spark(app_name="dss-server", configs=SERVING_CONFIGS)
    statements = [s.strip() for s in args.init.split(";") if s.strip()]
    # The same session path as Engine: function surface, views, init SQL.
    views = session.bootstrap(spark, args.warehouse, init_sql=statements)
    # The in-memory tier gets half of the driver's storage memory.
    storage = spark.sparkContext._jsc.sc().env().memoryManager()
    session.cache_views(views, args.warehouse, storage.maxOnHeapStorageMemory() // 2)
    server = SparkFlightServer(spark, f"grpc://0.0.0.0:{args.port}")
    print(f"serving warehouse={args.warehouse} port={server.port}", flush=True)
    server.serve()


if __name__ == "__main__":
    main()
