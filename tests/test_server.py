"""Flight serving façade tests — mirrors the reference's smoke clients
(client/main.py, client/main.go) plus error and metadata paths."""

from __future__ import annotations

import sys
import threading

import pyarrow as pa
import pyarrow.flight as flight
import pytest

from duckdb_server_spark import flightsql
from duckdb_server_spark import server as srv
from duckdb_server_spark.session import bootstrap


@pytest.fixture(scope="module")
def flight_port(spark, sf_dir):
    bootstrap(spark, sf_dir)
    server, _thread = srv.serve_in_background(spark)
    yield server.port
    server.shutdown()


def test_raw_ticket_select1(flight_port):
    """The reference's first smoke: SELECT 1 AS a (client/main.py:11)."""
    table = srv.query_raw(flight_port, "SELECT 1 AS a")
    assert table.column_names == ["a"]
    assert table.to_pydict() == {"a": [1]}


def test_two_step_select(flight_port):
    """The reference's ADBC smoke: SELECT 1 AS a, 2 AS b (client/main.py:23)."""
    table = srv.query_two_step(flight_port, "SELECT 1 AS a, 2 AS b")
    assert table.to_pydict() == {"a": [1], "b": [2]}


def test_two_step_schema_matches_result(flight_port):
    """GetFlightInfo's analysis-only schema must equal the executed schema."""
    sql = "SELECT l_orderkey, l_quantity FROM lineitem ORDER BY l_orderkey LIMIT 10"
    client = flight.connect(f"grpc://127.0.0.1:{flight_port}")
    try:
        info = client.get_flight_info(flight.FlightDescriptor.for_command(sql.encode()))
        result = client.do_get(info.endpoints[0].ticket).read_all()
    finally:
        client.close()
    assert info.schema.names == result.schema.names
    assert result.num_rows == 10


def test_warehouse_query_streams_batches(flight_port):
    """A real multi-batch result over the registered warehouse views."""
    table = srv.query_raw(
        flight_port,
        "SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY l_returnflag",
    )
    assert table.num_rows >= 2
    assert set(table.column_names) == {"l_returnflag", "n"}


def test_sql_info_standard_dense_union(flight_port):
    """Standard Flight SQL GetSqlInfo (main.go:173-175, 202-223): protobuf
    Any(CommandGetSqlInfo) descriptor, dense-union value column."""
    from duckdb_server_spark import flightsql

    table = srv.get_sql_info(flight_port)
    assert table.schema.equals(flightsql.SQL_INFO_SCHEMA)
    info = {r["info_name"]: r["value"] for r in table.to_pylist()}
    assert info[flightsql.FLIGHT_SQL_SERVER_NAME] == "duckdb_server_spark"
    assert info[flightsql.FLIGHT_SQL_SERVER_READ_ONLY] is True
    # Code filter narrows the result (main.go:207-212).
    filtered = srv.get_sql_info(flight_port, [flightsql.FLIGHT_SQL_SERVER_NAME])
    assert filtered.num_rows == 1


def test_flightsql_statement_query(flight_port):
    """The ADBC / flightsql-go wire exchange (client/main.go:13-27):
    Any(CommandStatementQuery) descriptor → opaque endpoint ticket → DoGet."""
    table = srv.query_flightsql(
        flight_port, "SELECT count(*) AS n FROM lineitem"
    )
    assert table.column_names == ["n"]
    assert table.column(0)[0].as_py() > 0


@pytest.mark.parametrize(
    "stmt",
    [
        "SET spark.sql.ansi.enabled=false",
        "CREATE OR REPLACE TEMP VIEW pwned AS SELECT 1",
        "DROP TABLE lineitem",
        "INSERT OVERWRITE DIRECTORY '/tmp/dss_gate_test' USING parquet SELECT 1",
        "CACHE TABLE lineitem",
    ],
)
def test_readonly_gate_rejects_mutations(flight_port, stmt, spark):
    """The statement gate (main.go:61 access_mode=read_only analog): DDL /
    DML / SET are rejected on BOTH entry points, before any execution."""
    ansi_before = spark.conf.get("spark.sql.ansi.enabled")
    with pytest.raises(flight.FlightError):
        srv.query_raw(flight_port, stmt)
    with pytest.raises(flight.FlightError):
        srv.query_two_step(flight_port, stmt)
    assert spark.conf.get("spark.sql.ansi.enabled") == ansi_before
    assert "pwned" not in [t.name for t in spark.catalog.listTables()]


def test_readonly_gate_allows_metadata(flight_port):
    """EXPLAIN / SHOW / DESCRIBE are read-only commands and pass the gate."""
    table = srv.query_raw(flight_port, "SHOW TABLES")
    assert table.num_rows >= 5
    table = srv.query_raw(flight_port, "EXPLAIN SELECT 1")
    assert table.num_rows >= 1


def test_large_result_streams_incrementally(flight_port, monkeypatch):
    """Full-table result arrives as multiple bounded batches in order
    (the reference's DoGet batch loop, main.go:241-243), sliced from the
    one-job Arrow collect. Batch size shrunk so the test corpus spans many
    batches."""
    monkeypatch.setattr(srv, "BATCH_ROWS", 512)
    client = flight.connect(f"grpc://127.0.0.1:{flight_port}")
    try:
        reader = client.do_get(
            flight.Ticket(b"SELECT l_orderkey FROM lineitem ORDER BY l_orderkey")
        )
        n_batches = 0
        n_rows = 0
        last = -1
        ordered = True
        for chunk in reader:
            n_batches += 1
            n_rows += chunk.data.num_rows
            assert chunk.data.num_rows <= srv.BATCH_ROWS
            col = chunk.data.column(0).to_pylist()
            if col:
                ordered = ordered and last <= col[0] and col == sorted(col)
                last = col[-1]
    finally:
        client.close()
    assert n_batches > 1
    assert n_rows > srv.BATCH_ROWS
    assert ordered


def _spark_job_ids(spark) -> set[int]:
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # job events are async
    return set(sc.statusTracker().getJobIdsForGroup(None))


def test_do_get_runs_one_spark_job(spark, flight_port, duck):
    """A DoGet over a multi-partition scan is one Spark job, not one job
    per partition, and keeps the result's partition order. An ORDER BY
    adds the sort's own jobs (range sampling, shuffle), so the one-job
    count is asserted on the scan; the ORDER BY result is checked for
    order."""
    cols = "l_orderkey, l_linenumber, l_partkey, l_quantity, l_returnflag"
    scan = f"SELECT {cols} FROM lineitem WHERE l_orderkey < 100"
    ordered = f"{scan} ORDER BY l_orderkey, l_linenumber"
    key = "spark.sql.files.maxPartitionBytes"
    saved = spark.conf.get(key)
    spark.conf.set(key, "16k")  # the test corpus file spans several splits
    try:
        assert spark.sql(scan).rdd.getNumPartitions() > 1
        before = _spark_job_ids(spark)
        table = srv.query_raw(flight_port, scan)
        assert len(_spark_job_ids(spark) - before) == 1
        got = [tuple(r.values()) for r in table.to_pylist()]
        assert got == [tuple(r) for r in spark.sql(scan).collect()]
        assert sorted(got) == sorted(duck.execute(scan).fetchall())
        got = srv.query_raw(flight_port, ordered).to_pylist()
        assert [tuple(r.values()) for r in got] == duck.execute(ordered).fetchall()
    finally:
        spark.conf.set(key, saved)


@pytest.mark.parametrize(
    "sql, types",
    [
        ("SELECT * FROM lineitem WHERE false", None),
        (
            "SELECT CAST(l_extendedprice AS DECIMAL(12, 2)) AS price, "
            "CAST(l_shipdate AS DATE) AS ship_day, l_shipdate AS shipped_at, "
            "CAST(l_returnflag AS VARCHAR) AS flag "
            "FROM lineitem WHERE l_orderkey < 100",
            [pa.decimal128(12, 2), pa.date32(), pa.timestamp("us", tz="UTC"),
             pa.string()],
        ),
    ],
)
def test_do_get_schema_matches_flight_info(flight_port, sql, types):
    """DoGet's stream and every batch carry exactly the GetFlightInfo
    schema; an empty result is zero batches under the full schema."""
    client = flight.connect(f"grpc://127.0.0.1:{flight_port}")
    try:
        info = client.get_flight_info(flight.FlightDescriptor.for_command(sql.encode()))
        reader = client.do_get(info.endpoints[0].ticket)
        batches = [chunk.data for chunk in reader]
        stream_schema = reader.schema
    finally:
        client.close()
    assert stream_schema.equals(info.schema)
    assert all(batch.schema.equals(info.schema) for batch in batches)
    if types is None:
        assert batches == []
        assert info.schema.names[:2] == ["l_orderkey", "l_partkey"]
    else:
        assert info.schema.types == types
        assert sum(batch.num_rows for batch in batches) > 0


def test_prepared_statements_capped(spark, flight_port, monkeypatch):
    """Handles a client never closes are evicted oldest first, with their
    bound parameters; the evicted handle is then unknown."""
    cap = 16
    monkeypatch.setattr(srv, "MAX_PREPARED_STATEMENTS", cap)
    server, _thread = srv.serve_in_background(spark)
    client = flight.connect(f"grpc://127.0.0.1:{server.port}")

    def descriptor(handle):
        return flight.FlightDescriptor.for_command(
            flightsql.encode_command_prepared_statement_query(handle)
        )

    try:
        handles = []
        for i in range(cap + 10):
            result = list(client.do_action(flight.Action(
                flightsql.CREATE_PREPARED_STATEMENT,
                flightsql.encode_action_create_prepared_request("SELECT ? AS v"),
            )))
            handles.append(flightsql.decode_action_create_prepared_result(
                result[0].body.to_pybytes())[0])
            batch = pa.record_batch([pa.array([i])], names=["p1"])
            writer, _ = client.do_put(descriptor(handles[-1]), batch.schema)
            writer.write_batch(batch)
            writer.close()
        assert len(server._prepared) == cap
        assert list(server._prepared) == handles[-cap:]
        assert [entry[1] for entry in server._prepared.values()] == [
            [i] for i in range(10, cap + 10)
        ]
        evicted = flightsql.encode_command_prepared_statement_query(handles[0])
        with pytest.raises(flight.FlightServerError, match="unknown prepared"):
            client.do_get(flight.Ticket(evicted)).read_all()
        info = client.get_flight_info(descriptor(handles[-1]))
        table = client.do_get(info.endpoints[0].ticket).read_all()
        assert table["v"].to_pylist() == [cap + 9]
    finally:
        client.close()
        server.shutdown()


def _prepare(client, sql):
    """CreatePreparedStatement → the handle's CommandPreparedStatementQuery
    descriptor."""
    result = list(client.do_action(flight.Action(
        flightsql.CREATE_PREPARED_STATEMENT,
        flightsql.encode_action_create_prepared_request(sql),
    )))
    handle = flightsql.decode_action_create_prepared_result(
        result[0].body.to_pybytes())[0]
    return flight.FlightDescriptor.for_command(
        flightsql.encode_command_prepared_statement_query(handle)
    )


def _bind(client, descriptor, value):
    batch = pa.record_batch([pa.array([value])], names=["p1"])
    writer, _ = client.do_put(descriptor, batch.schema)
    writer.write_batch(batch)
    writer.close()


def _execute(client, descriptor):
    info = client.get_flight_info(descriptor)
    return client.do_get(info.endpoints[0].ticket).read_all()


@pytest.fixture
def calls(monkeypatch):
    """The SQL of every ``resolve_query_frame`` call the server makes."""
    calls = []
    resolve = srv.resolve_query_frame

    def counting_resolve(spark, sql):
        calls.append(sql)
        return resolve(spark, sql)

    monkeypatch.setattr(srv, "resolve_query_frame", counting_resolve)
    return calls


def test_prepared_handle_resolves_once_per_execution(flight_port, calls):
    """A frame resolved at prepare time or by a schema probe is held for
    the DoGet that follows, so each execution resolves once, for a
    prepared handle (bound by DoPut or not) as for a statement query or a
    raw-SQL descriptor."""

    def resolves(run):
        calls.clear()
        run()
        return len(calls)

    assert resolves(lambda: srv.query_prepared(flight_port, "SELECT 1 AS a")) == 1
    assert resolves(lambda: srv.query_prepared(flight_port, "SELECT ? AS a", [7])) == 1
    assert resolves(lambda: srv.query_flightsql(flight_port, "SELECT 1 AS a")) == 1
    assert resolves(lambda: srv.query_two_step(flight_port, "SELECT 1 AS a")) == 1

    with flight.connect(f"grpc://127.0.0.1:{flight_port}") as client:
        descriptor = _prepare(client, "SELECT ? AS v")
        calls.clear()
        for value in (1, 2):
            _bind(client, descriptor, value)
            assert client.get_schema(descriptor).schema.names == ["v"]
            assert _execute(client, descriptor)["v"].to_pylist() == [value]
        assert len(calls) == 2
        # DoGet takes the held frame: a second execution resolves afresh,
        # so now() moves between executions, as in DuckDB.
        calls.clear()
        descriptor = _prepare(client, "SELECT now() AS t")
        first, second = (_execute(client, descriptor)["t"][0] for _ in range(2))
        assert first != second and len(calls) == 2


def test_statement_query_resolves_once_per_request(flight_port, calls):
    """GetSchema and GetFlightInfo of a CommandStatementQuery share one
    held frame, which DoGet takes; a second DoGet of the same ticket
    resolves afresh, so now() moves between executions, as in DuckDB."""
    descriptor = flight.FlightDescriptor.for_command(
        flightsql.encode_command_statement_query("SELECT 41 + 1 AS v")
    )
    with flight.connect(f"grpc://127.0.0.1:{flight_port}") as client:
        calls.clear()
        assert client.get_schema(descriptor).schema.names == ["v"]
        ticket = client.get_flight_info(descriptor).endpoints[0].ticket
        assert client.do_get(ticket).read_all()["v"].to_pylist() == [42]
        assert len(calls) == 1
        assert client.do_get(ticket).read_all()["v"].to_pylist() == [42]
        assert len(calls) == 2
        ticket = flight.Ticket(flightsql.encode_command_statement_query("SELECT now() AS t"))
        first, second = (client.do_get(ticket).read_all()["t"][0] for _ in range(2))
        assert first != second


def test_held_frames_capped(spark, monkeypatch):
    """Frames held by schema probes whose DoGet never comes are evicted
    oldest first; an evicted ticket still answers, resolving afresh."""
    cap = 16
    monkeypatch.setattr(srv, "MAX_PREPARED_STATEMENTS", cap)
    server, _thread = srv.serve_in_background(spark)
    client = flight.connect(f"grpc://127.0.0.1:{server.port}")
    try:
        tickets = [
            client.get_flight_info(flight.FlightDescriptor.for_command(
                flightsql.encode_command_statement_query(f"SELECT {i} AS v")
            )).endpoints[0].ticket
            for i in range(cap + 10)
        ]
        assert len(server._held) <= cap
        assert tickets[0].ticket not in server._held
        assert client.do_get(tickets[0]).read_all()["v"].to_pylist() == [0]
    finally:
        client.close()
        server.shutdown()


def test_close_releases_held_frame(spark):
    """ClosePreparedStatement drops the frame held for the handle's DoGet
    along with the handle, so a statement prepared and closed without a
    DoGet pins no resolved frame; its ticket then fails."""
    server, _thread = srv.serve_in_background(spark)
    client = flight.connect(f"grpc://127.0.0.1:{server.port}")
    try:
        ticket = _prepare(client, "SELECT 1 AS v").command
        assert ticket in server._held
        handle = flightsql.decode_prepared_statement_handle(
            flightsql.unpack_any(ticket)[1]
        )
        list(client.do_action(flight.Action(
            flightsql.CLOSE_PREPARED_STATEMENT,
            flightsql.encode_action_close_prepared_request(handle),
        )))
        assert ticket not in server._held
        with pytest.raises(flight.FlightServerError, match="unknown prepared statement handle"):
            client.do_get(flight.Ticket(ticket)).read_all()
    finally:
        client.close()
        server.shutdown()


def test_prepared_rebind_never_keeps_a_stale_frame(flight_port):
    """Readers execute one handle while a writer rebinds it: a frame
    resolved under a binding that DoPut replaced meanwhile is not kept,
    so the writer's own execution after each binding answers it."""
    last = 30
    done = threading.Event()
    errors = []
    url = f"grpc://127.0.0.1:{flight_port}"
    with flight.connect(url) as client:
        descriptor = _prepare(client, "SELECT ? AS v")
        _bind(client, descriptor, 1)

        def read():
            try:
                with flight.connect(url) as reader:
                    while not done.is_set():
                        value = _execute(reader, descriptor)["v"][0].as_py()
                        assert 1 <= value <= last
            except Exception as exc:  # reported by the assert below
                errors.append(exc)

        interval = sys.getswitchinterval()
        sys.setswitchinterval(1e-5)
        readers = [threading.Thread(target=read) for _ in range(6)]
        try:
            for thread in readers:
                thread.start()
            for value in range(2, last + 1):
                _bind(client, descriptor, value)
                assert _execute(client, descriptor)["v"].to_pylist() == [value]
        finally:
            done.set()
            for thread in readers:
                thread.join(timeout=120)
            sys.setswitchinterval(interval)
        assert not any(thread.is_alive() for thread in readers)
        assert errors == []


def test_engine_error_surfaces(flight_port):
    """Engine errors cross the wire as Flight errors (main.go:230-232)."""
    with pytest.raises(flight.FlightServerError):
        srv.query_raw(flight_port, "SELECT * FROM no_such_table")


def test_do_action_unimplemented(flight_port):
    """Actions outside the prepared-statement pair stay Unimplemented,
    like the reference's whole DoAction surface (main.go:121-124)."""
    client = flight.connect(f"grpc://127.0.0.1:{flight_port}")
    try:
        with pytest.raises((pa.ArrowNotImplementedError, flight.FlightServerError)):
            list(client.do_action(flight.Action("begin_transaction", b"")))
    finally:
        client.close()


def test_prepared_statement_roundtrip(flight_port):
    """ADBC-style Create → GetFlightInfo(PreparedQuery) → DoGet → Close."""
    table = srv.query_prepared(
        flight_port, "SELECT count(*) AS n, min(l_orderkey) AS k FROM lineitem"
    )
    assert table.num_rows == 1
    assert table.column_names == ["n", "k"]
    assert table["n"][0].as_py() > 0


def test_prepared_statement_returns_dataset_schema(flight_port):
    """CreatePreparedStatement's result carries the dataset schema (IPC),
    so clients can inspect types before executing."""
    from duckdb_server_spark import flightsql

    client = flight.connect(f"grpc://127.0.0.1:{flight_port}")
    try:
        results = list(
            client.do_action(
                flight.Action(
                    flightsql.CREATE_PREPARED_STATEMENT,
                    flightsql.encode_action_create_prepared_request(
                        "SELECT 1 AS a, 'x' AS b"
                    ),
                )
            )
        )
        handle, schema_bytes = flightsql.decode_action_create_prepared_result(
            results[0].body.to_pybytes()
        )
        assert handle.startswith(b"dss-ps-")
        schema = pa.ipc.read_schema(pa.BufferReader(schema_bytes))
        assert schema.names == ["a", "b"]
        # Close twice: idempotent.
        for _ in range(2):
            list(
                client.do_action(
                    flight.Action(
                        flightsql.CLOSE_PREPARED_STATEMENT,
                        flightsql.encode_action_close_prepared_request(handle),
                    )
                )
            )
        # After close, the handle no longer resolves.
        with pytest.raises(flight.FlightServerError):
            client.get_flight_info(
                flight.FlightDescriptor.for_command(
                    flightsql.encode_command_prepared_statement_query(handle)
                )
            )
    finally:
        client.close()


def test_prepared_statement_gated_at_prepare_time(flight_port):
    """DDL/DML is rejected when prepared, not when executed — the
    fail-fast contract ADBC clients rely on."""
    from duckdb_server_spark import flightsql

    client = flight.connect(f"grpc://127.0.0.1:{flight_port}")
    try:
        with pytest.raises(flight.FlightServerError):
            list(
                client.do_action(
                    flight.Action(
                        flightsql.CREATE_PREPARED_STATEMENT,
                        flightsql.encode_action_create_prepared_request(
                            "DROP TABLE lineitem"
                        ),
                    )
                )
            )
    finally:
        client.close()


def test_list_actions_advertises_prepared_pair(flight_port):
    client = flight.connect(f"grpc://127.0.0.1:{flight_port}")
    try:
        kinds = {a.type for a in client.list_actions()}
        assert kinds == {"CreatePreparedStatement", "ClosePreparedStatement"}
    finally:
        client.close()


def test_empty_result(flight_port):
    table = srv.query_raw(flight_port, "SELECT 1 AS a WHERE 1 = 0")
    assert table.num_rows == 0
    assert table.column_names == ["a"]


def test_concurrent_clients(flight_port):
    """The reference serializes every request onto one DuckDB connection
    (main.go:70); this engine serves concurrent DoGets — verify parallel
    clients each get complete, correct results."""
    import concurrent.futures

    def one(i: int):
        table = srv.query_raw(
            flight_port,
            f"SELECT count(*) AS n FROM lineitem WHERE l_linenumber = {i % 7 + 1}",
        )
        return table.column(0)[0].as_py()

    with concurrent.futures.ThreadPoolExecutor(max_workers=8) as pool:
        results = list(pool.map(one, range(16)))
    assert all(isinstance(r, int) and r > 0 for r in results)


def test_flightsql_long_statement(flight_port):
    """SQL ≥ 128 bytes: the reference's hand-rolled Any decode breaks when
    the inner length header grows past one byte (main.go:138-139 quirk);
    the wire codec here must handle multi-byte varint lengths."""
    long_sql = (
        "SELECT l_returnflag, l_linestatus, count(*) AS n_rows, "
        "sum(l_quantity) AS sum_qty, avg(l_extendedprice) AS avg_price "
        "FROM lineitem WHERE l_quantity > 0 AND l_linenumber BETWEEN 1 AND 7 "
        "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"
    )
    assert len(long_sql.encode()) > 127
    table = srv.query_flightsql(flight_port, long_sql)
    assert table.num_rows >= 2
    assert "sum_qty" in table.column_names


def test_get_schema_rpc(flight_port):
    """GetSchema: analysis-only schema probe for both raw and FlightSQL
    descriptors — no execution, commands rejected."""
    from duckdb_server_spark import flightsql

    client = flight.connect(f"grpc://127.0.0.1:{flight_port}")
    try:
        raw = client.get_schema(
            flight.FlightDescriptor.for_command(b"SELECT 1 AS a, 'x' AS b")
        ).schema
        assert raw.names == ["a", "b"]
        fsql = client.get_schema(
            flight.FlightDescriptor.for_command(
                flightsql.encode_command_statement_query(
                    "SELECT l_orderkey FROM lineitem"
                )
            )
        ).schema
        assert fsql.names == ["l_orderkey"]
        # pyarrow surfaces get_schema server errors as ArrowException
        # (not FlightError); the gate message must still cross the wire.
        with pytest.raises(pa.ArrowException, match="read-only server"):
            client.get_schema(
                flight.FlightDescriptor.for_command(b"DROP TABLE lineitem")
            )
    finally:
        client.close()


def test_flightsql_metadata_commands(flight_port):
    """CommandGetCatalogs / CommandGetDbSchemas / CommandGetTables (the
    ADBC object-enumeration path; beyond the reference's GetSqlInfo-only
    metadata surface)."""
    from duckdb_server_spark import flightsql

    client = flight.connect(f"grpc://127.0.0.1:{flight_port}")
    try:
        for cmd, schema in (
            (flightsql.encode_command_get_catalogs(), flightsql.GET_CATALOGS_SCHEMA),
            (
                flightsql.encode_command_get_db_schemas(),
                flightsql.GET_DB_SCHEMAS_SCHEMA,
            ),
        ):
            info = client.get_flight_info(flight.FlightDescriptor.for_command(cmd))
            table = client.do_get(info.endpoints[0].ticket).read_all()
            assert table.schema.equals(schema)
            assert table.num_rows == 1
    finally:
        client.close()

    tables = srv.get_tables(flight_port)
    names = tables.column("table_name").to_pylist()
    assert "lineitem" in names and "orders" in names
    assert set(tables.column("table_type").to_pylist()) == {"VIEW"}

    # Other tests may have registered extra temp views (e.g. lineitem_gba)
    # in the shared session — assert pattern semantics, not an exact list.
    filtered = srv.get_tables(flight_port, pattern="line%")
    fnames = filtered.column("table_name").to_pylist()
    assert "lineitem" in fnames
    assert all(n.startswith("line") for n in fnames)

    with_schema = srv.get_tables(flight_port, pattern="nation", include_schema=True)
    assert with_schema.num_rows == 1
    import pyarrow as pa_mod

    buf = with_schema.column("table_schema")[0].as_py()
    schema = pa_mod.ipc.read_schema(pa_mod.BufferReader(buf))
    assert "n_nationkey" in schema.names


def test_concurrent_clients_no_crosstalk(flight_port):
    """The reference serves one shared engine connection to many gRPC
    clients (main.go:70,258); Spark sessions are thread-safe for
    concurrent job submission, so N parallel clients must each get
    complete, correct results with no cross-talk."""
    import concurrent.futures

    def one(i: int) -> tuple[int, int]:
        table = srv.query_two_step(
            flight_port,
            f"SELECT count(*) AS n, {i} AS tag FROM lineitem "
            f"WHERE l_orderkey % 10 = {i}",
        )
        return table.column("tag").to_pylist()[0], table.column("n").to_pylist()[0]

    with concurrent.futures.ThreadPoolExecutor(max_workers=4) as ex:
        results = dict(ex.map(one, range(10)))
    assert set(results) == set(range(10))
    total = srv.query_two_step(flight_port, "SELECT count(*) AS n FROM lineitem")
    assert sum(results.values()) == total.column("n").to_pylist()[0]


def test_metadata_like_patterns(flight_port):
    """CommandGetTables filter is a SQL LIKE pattern: '_' matches exactly
    one char, '%' any run, and regex/glob metacharacters stay literal."""
    assert srv.get_tables(flight_port, pattern="nati_n").column(
        "table_name"
    ).to_pylist() == ["nation"]
    # other tests on the shared session may register extra nat* views
    # (e.g. nation_c from the compaction test) — assert membership + prefix
    nat_pct = srv.get_tables(flight_port, pattern="nat%").column(
        "table_name"
    ).to_pylist()
    assert "nation" in nat_pct and all(n.startswith("nat") for n in nat_pct)
    # '_' is a wildcard, not a literal: 6-char pattern can't match 'nation'+1
    assert srv.get_tables(flight_port, pattern="nation_").num_rows == 0
    # glob/regex metacharacters must be treated literally (no fnmatch leak)
    assert srv.get_tables(flight_port, pattern="nat*").num_rows == 0
    assert srv.get_tables(flight_port, pattern="nation[").num_rows == 0


def test_non_utf8_ticket_clean_error(flight_port):
    """A client sending non-UTF8 non-protobuf bytes must get a clean
    FlightServerError, not an opaque gRPC internal failure."""
    client = flight.connect(f"grpc://127.0.0.1:{flight_port}")
    try:
        with pytest.raises(flight.FlightServerError, match="neither"):
            client.do_get(flight.Ticket(b"\xff\xfe\x80garbage")).read_all()
    finally:
        client.close()


def test_adbc_flightsql_client_end_to_end(flight_port):
    """End-to-end with a real ADBC FlightSQL driver — byte-for-byte the
    reference's Go client path (client/main.go:13-27: adbc drivermgr with
    driver=FlightSQL, uri=grpc://..., then `SELECT 1 as a, 2 as b`).
    Skips when the optional adbc packages are absent from the container
    (retried round 10: wheels still unavailable, and the environment is
    offline) — tests/test_r9_adbc_replay.py is the standing hermetic
    substitute: an independent varint/tag protobuf assembler drives the
    same wire sequence, including the prepared-statement lifecycle."""
    adbc = pytest.importorskip(
        "adbc_driver_flightsql.dbapi",
        reason="adbc wheels absent (offline container) — hermetic "
        "equivalent: tests/test_r9_adbc_replay.py frame replay",
    )
    with adbc.connect(f"grpc://127.0.0.1:{flight_port}") as conn:
        with conn.cursor() as cur:
            cur.execute("SELECT 1 as a, 2 as b")
            table = cur.fetch_arrow_table()
    assert table.to_pydict() == {"a": [1], "b": [2]}


def test_key_metadata_returns_empty_not_unimplemented(flight_port):
    """ADBC drivers fetch PK/FK metadata during connection setup; a
    constraint-free parquet warehouse must answer with EMPTY tables in
    the standard Flight SQL schemas (the reference errors Unimplemented,
    which breaks the whole metadata fetch)."""
    with flight.connect(f"grpc://localhost:{flight_port}") as client:
        for cmd, schema in (
            (flightsql.encode_command_get_primary_keys("orders"),
             flightsql.GET_PRIMARY_KEYS_SCHEMA),
            (flightsql.encode_command_get_imported_keys("orders"),
             flightsql.GET_KEYS_SCHEMA),
        ):
            info = client.get_flight_info(flight.FlightDescriptor.for_command(cmd))
            table = client.do_get(info.endpoints[0].ticket).read_all()
            assert table.num_rows == 0
            assert table.schema.equals(schema)


def test_xdbc_type_info(flight_port):
    """GetXdbcTypeInfo enumerates the engine's SQL type surface; the
    optional data_type filter narrows to one java.sql.Types code."""
    with flight.connect(f"grpc://localhost:{flight_port}") as client:
        cmd = flightsql.encode_command_get_xdbc_type_info()
        info = client.get_flight_info(flight.FlightDescriptor.for_command(cmd))
        table = client.do_get(info.endpoints[0].ticket).read_all()
        names = table.column("type_name").to_pylist()
        assert {"BOOLEAN", "BIGINT", "DOUBLE", "VARCHAR", "TIMESTAMP"} <= set(names)
        assert table.schema.equals(flightsql.GET_XDBC_TYPE_INFO_SCHEMA)

        only_varchar = flightsql.encode_command_get_xdbc_type_info(12)
        info = client.get_flight_info(flight.FlightDescriptor.for_command(only_varchar))
        table = client.do_get(info.endpoints[0].ticket).read_all()
        assert table.column("type_name").to_pylist() == ["VARCHAR"]


@pytest.mark.parametrize(
    "command, schema",
    [
        (flightsql.encode_command_get_sql_info(), flightsql.SQL_INFO_SCHEMA),
        (flightsql.encode_command_get_catalogs(), flightsql.GET_CATALOGS_SCHEMA),
        (flightsql.encode_command_get_db_schemas(), flightsql.GET_DB_SCHEMAS_SCHEMA),
        (flightsql.encode_command_get_tables(), flightsql.GET_TABLES_SCHEMA),
        (
            flightsql.encode_command_get_tables("nation", include_schema=True),
            flightsql.GET_TABLES_SCHEMA_WITH_SCHEMA,
        ),
        (
            flightsql.encode_command_get_primary_keys("orders"),
            flightsql.GET_PRIMARY_KEYS_SCHEMA,
        ),
        (flightsql.pack_any(flightsql.CMD_GET_EXPORTED_KEYS, b""), flightsql.GET_KEYS_SCHEMA),
        (flightsql.encode_command_get_imported_keys("orders"), flightsql.GET_KEYS_SCHEMA),
        (
            flightsql.encode_command_get_xdbc_type_info(),
            flightsql.GET_XDBC_TYPE_INFO_SCHEMA,
        ),
    ],
    ids=[
        "sql_info", "catalogs", "db_schemas", "tables", "tables_with_schema",
        "primary_keys", "exported_keys", "imported_keys", "xdbc_type_info",
    ],
)
def test_metadata_command_schemas_agree(flight_port, command, schema):
    """GetSchema, the FlightInfo and the DoGet stream of every metadata
    command all carry the standard Flight SQL schema."""
    descriptor = flight.FlightDescriptor.for_command(command)
    with flight.connect(f"grpc://127.0.0.1:{flight_port}") as client:
        assert client.get_schema(descriptor).schema.equals(schema)
        info = client.get_flight_info(descriptor)
        assert info.schema.equals(schema)
        reader = client.do_get(info.endpoints[0].ticket)
        assert reader.schema.equals(schema)
        assert reader.read_all().schema.equals(schema)


def test_unknown_flightsql_command_rejected(flight_port):
    """A Flight SQL command the server does not speak is refused by name
    from GetFlightInfo, GetSchema and DoGet alike."""
    command = flightsql.pack_any(
        flightsql.TYPE_URL_PREFIX + "CommandGetCrossReference", b""
    )
    descriptor = flight.FlightDescriptor.for_command(command)
    with flight.connect(f"grpc://127.0.0.1:{flight_port}") as client:
        for rpc in (
            lambda: client.get_flight_info(descriptor),
            lambda: client.get_schema(descriptor),
            lambda: client.do_get(flight.Ticket(command)).read_all(),
        ):
            with pytest.raises(pa.ArrowException, match="unsupported Flight SQL command"):
                rpc()


def test_sql_info_view_matches_get_sql_info(spark, flight_port):
    """The ``sql_info`` view and GetSqlInfo report the same server facts."""
    wire = {
        r["info_name"]: r["value"] for r in srv.get_sql_info(flight_port).to_pylist()
    }
    view = {
        r.info_name: r.value for r in spark.sql("SELECT * FROM sql_info").collect()
    }
    assert view["server_arrow_version"] == wire[flightsql.FLIGHT_SQL_SERVER_ARROW_VERSION]
    assert view["server_version"] == wire[flightsql.FLIGHT_SQL_SERVER_VERSION]
    assert view["server_name"] == wire[flightsql.FLIGHT_SQL_SERVER_NAME]
    assert view["identifier_quote_char"] == wire[flightsql.SQL_IDENTIFIER_QUOTE_CHAR]
    assert view["server_read_only"] == "true" and wire[flightsql.FLIGHT_SQL_SERVER_READ_ONLY]


def test_prepared_statement_parameter_binding(flight_port):
    """ADBC/JDBC '?' binding: DoPut one Arrow parameter row against the
    handle, then execute — the driver-side sequence for
    ``cursor.execute(sql, params)``."""
    table = srv.query_prepared(
        flight_port,
        "SELECT count(*) AS n FROM lineitem WHERE l_quantity > ? AND l_returnflag = ?",
        params=[45.0, "A"],
    )
    assert table.column_names == ["n"]
    expected = srv.query_prepared(
        flight_port,
        "SELECT count(*) AS n FROM lineitem WHERE l_quantity > 45.0 AND l_returnflag = 'A'",
    )
    assert table["n"][0].as_py() == expected["n"][0].as_py() > 0


def test_prepared_statement_dollar_params_rebind(flight_port):
    """DuckDB-style $N placeholders; re-binding the same handle re-executes
    with the new values (statement reuse, the point of preparing)."""
    from duckdb_server_spark import flightsql

    client = flight.connect(f"grpc://127.0.0.1:{flight_port}")
    try:
        results = list(
            client.do_action(
                flight.Action(
                    flightsql.CREATE_PREPARED_STATEMENT,
                    flightsql.encode_action_create_prepared_request(
                        "SELECT $1 + $2 AS s, $1 AS a"
                    ),
                )
            )
        )
        handle, _ = flightsql.decode_action_create_prepared_result(
            results[0].body.to_pybytes()
        )
        descriptor = flight.FlightDescriptor.for_command(
            flightsql.encode_command_prepared_statement_query(handle)
        )
        for a, b in ((1, 2), (10, 20)):
            batch = pa.record_batch(
                [pa.array([a]), pa.array([b])], names=["p1", "p2"]
            )
            w, _ = client.do_put(descriptor, batch.schema)
            w.write_batch(batch)
            w.close()
            info = client.get_flight_info(descriptor)
            out = client.do_get(info.endpoints[0].ticket).read_all()
            assert out["s"][0].as_py() == a + b and out["a"][0].as_py() == a
    finally:
        client.close()


def test_do_put_rejected_for_data_ingest(flight_port):
    """DoPut against anything but a prepared-statement handle is refused —
    the read-only contract covers the write RPC too."""
    client = flight.connect(f"grpc://127.0.0.1:{flight_port}")
    try:
        batch = pa.record_batch([pa.array([1])], names=["a"])
        descriptor = flight.FlightDescriptor.for_command(b"INSERT INTO t")
        with pytest.raises(flight.FlightServerError):
            w, _ = client.do_put(descriptor, batch.schema)
            w.write_batch(batch)
            w.close()
    finally:
        client.close()


def test_parameter_binding_string_quote_safe(flight_port):
    """A bound string containing quotes/placeholders must arrive verbatim
    (literal rendering, not splicing)."""
    table = srv.query_prepared(
        flight_port,
        "SELECT ? AS v",
        params=["it's ? a $1 'test'"],
    )
    assert table["v"][0].as_py() == "it's ? a $1 'test'"


def test_server_serves_statement_forms(flight_port):
    """The wire surface accepts everything Engine.sql does: DESCRIBE,
    SUMMARIZE, and read_parquet file reads as raw tickets."""
    client = flight.connect(f"grpc://127.0.0.1:{flight_port}")
    try:
        t = client.do_get(flight.Ticket(b"DESCRIBE lineitem")).read_all()
        assert "column_name" in t.column_names and t.num_rows > 0
        t = client.do_get(flight.Ticket(b"SUMMARIZE lineitem")).read_all()
        assert t.num_rows > 0
        t = client.do_get(
            flight.Ticket(
                b"SELECT count(*) AS n FROM "
                b"read_parquet('/root/testdata/sf0.001/nation.parquet')"
            )
        ).read_all()
        assert t["n"][0].as_py() == 25
    finally:
        client.close()


def test_server_union_by_name_gated_and_served(flight_port):
    client = flight.connect(f"grpc://127.0.0.1:{flight_port}")
    try:
        t = client.do_get(
            flight.Ticket(
                b"SELECT * FROM (SELECT 1 AS a, 'x' AS b UNION ALL BY NAME "
                b"SELECT 'y' AS b, 2 AS a) ORDER BY a"
            )
        ).read_all()
        assert t["a"].to_pylist() == [1, 2]
        # the gate still rejects writes spelled through the same path
        with pytest.raises(flight.FlightServerError):
            client.do_get(
                flight.Ticket(b"SELECT 1 AS a UNION ALL BY NAME DROP TABLE lineitem")
            ).read_all()
    finally:
        client.close()


def test_pivot_source_subquery_cannot_bypass_readonly_gate(flight_port):
    """A statement smuggled as a routed PIVOT's source subquery must be
    denied by the gate and must NOT execute."""
    client = flight.connect(f"grpc://127.0.0.1:{flight_port}")
    try:
        with pytest.raises(flight.FlightServerError):
            client.do_get(
                flight.Ticket(
                    b"PIVOT (CREATE TABLE spark_catalog.default.evil AS "
                    b"SELECT 1 AS c, 1 AS v) ON c USING sum(v)"
                )
            ).read_all()
        # the inner command must not have run: selecting from the
        # would-be table must fail with not-found
        with pytest.raises(
            flight.FlightServerError,
            match="TABLE_OR_VIEW_NOT_FOUND|cannot be found",
        ):
            client.do_get(
                flight.Ticket(b"SELECT * FROM spark_catalog.default.evil")
            ).read_all()
    finally:
        client.close()


def test_bare_path_file_read_over_wire(flight_port):
    client = flight.connect(f"grpc://127.0.0.1:{flight_port}")
    try:
        t = client.do_get(
            flight.Ticket(
                b"SELECT count(*) AS n FROM '/root/testdata/sf0.001/region.parquet'"
            )
        ).read_all()
        assert t["n"][0].as_py() == 5
    finally:
        client.close()


def test_wire_serves_duckdb_semantics_for_both_valid_sql(flight_port):
    """The wire contract is verbatim DuckDB SQL (main.go:199,229), so a
    statement valid in BOTH dialects with different semantics must return
    the DuckDB answer over the wire: DuckDB 2-arg ltrim(string, chars)
    trims chars from string; Spark's argument order is swapped, so its
    native answer for this text would be '' instead of 'abc'. The serving
    path therefore rewrites FIRST (dialect.serving_dialect); embedded
    Engine.sql stays native-first."""
    t = srv.query_raw(flight_port, "SELECT ltrim('xxabc', 'x') AS v")
    assert t.to_pydict() == {"v": ["abc"]}
    t = srv.query_raw(flight_port, "SELECT rtrim('abcyy', 'y') AS v")
    assert t.to_pydict() == {"v": ["abc"]}
    # the two-step (GetFlightInfo → DoGet) leg resolves identically
    t = srv.query_two_step(flight_port, "SELECT ltrim('xxabc', 'x') AS v")
    assert t.to_pydict() == {"v": ["abc"]}
    # pure-Spark-dialect input still serves (fallback to native path)
    t = srv.query_raw(flight_port, "SELECT size(array(1, 2)) AS n")
    assert t.to_pydict() == {"n": [2]}


# ---------------------------------------------------------------------------
# Adversarial read-only-gate grid (VERDICT r5 item 4): every write-shaped
# payload, smuggled through every statement wrapper the serving path
# routes, must be REJECTED over the wire and must leave no side effect.
# ---------------------------------------------------------------------------

_HOSTILE_PAYLOADS = [
    "CREATE TABLE spark_catalog.default.ev_{n} AS SELECT 1 AS c, 2 AS v",
    "DROP TABLE lineitem",
    "INSERT INTO orders VALUES (1)",
    "DELETE FROM orders WHERE o_orderkey = 1",
    "UPDATE orders SET o_orderkey = 1",
    "SET spark.sql.shuffle.partitions=1",
    "CACHE TABLE ev_{n} AS SELECT 1 AS c, 2 AS v",
    "ADD JAR 'file:///tmp/ev_{n}.jar'",
    "CREATE MACRO ev_{n}(a) AS a + 1",
    "COPY (SELECT 1 AS c, 2 AS v) TO '/tmp/ev_{n}.parquet'",
    "COPY orders FROM '/tmp/ev_{n}.csv'",
    "PREPARE ev_{n} AS SELECT 1",
    "CREATE VIEW ev_{n} AS SELECT 1 AS c, 2 AS v",
]

_HOSTILE_WRAPPERS = [
    "{p}",
    "WITH w AS ({p}) SELECT * FROM w",
    "SELECT * FROM ({p}) t",
    "PIVOT ({p}) ON c USING sum(v)",
    "UNPIVOT ({p}) ON c INTO NAME k VALUE v",
    "DESCRIBE SELECT * FROM ({p}) t",
    "SELECT 1 AS c UNION BY NAME ({p})",
    "SELECT * FROM (PIVOT ({p}) ON c USING sum(v)) q",
]


def test_readonly_gate_hostile_grid(spark, flight_port):
    """Write-shaped payloads are denied through EVERY routed wrapper
    (bare, CTE, derived table, PIVOT/UNPIVOT source, DESCRIBE SELECT,
    UNION BY NAME arm, embedded PIVOT) — not merely unexecuted: the
    wire returns an error and the catalog/conf show zero side effects."""
    import os

    client = flight.connect(f"grpc://127.0.0.1:{flight_port}")
    shuffle_before = spark.conf.get("spark.sql.shuffle.partitions")
    n = 0
    try:
        for payload_tpl in _HOSTILE_PAYLOADS:
            for wrapper in _HOSTILE_WRAPPERS:
                n += 1
                payload = payload_tpl.format(n=n)
                stmt = wrapper.format(p=payload)
                with pytest.raises((flight.FlightServerError, flight.FlightInternalError)):
                    client.do_get(flight.Ticket(stmt.encode())).read_all()
                # no side effects anywhere a payload could have landed
                assert not spark.catalog.tableExists(f"ev_{n}"), stmt
                assert not spark.catalog.tableExists(
                    f"spark_catalog.default.ev_{n}"
                ), stmt
                assert not os.path.exists(f"/tmp/ev_{n}.parquet"), stmt
        assert spark.conf.get("spark.sql.shuffle.partitions") == shuffle_before
        # the warehouse survived every DROP/DELETE/UPDATE/INSERT attempt
        t = client.do_get(
            flight.Ticket(b"SELECT count(*) AS n FROM lineitem")
        ).read_all()
        assert t["n"][0].as_py() > 0
        t = client.do_get(
            flight.Ticket(b"SELECT count(*) AS n FROM orders")
        ).read_all()
        assert t["n"][0].as_py() > 0
    finally:
        client.close()


def test_execute_of_init_prepared_dml_is_gated(spark, flight_port):
    """An init script CAN prepare a DML (init is trusted); wire-triggered
    EXECUTE of it must NOT become a write path — the stored statement
    gates like any other wire query."""
    from duckdb_server_spark.dialect import run_script

    run_script(
        spark,
        "PREPARE ev_exec AS CREATE TABLE spark_catalog.default.ev_exec_t "
        "AS SELECT 1 AS c;",
    )
    client = flight.connect(f"grpc://127.0.0.1:{flight_port}")
    try:
        with pytest.raises((flight.FlightServerError, flight.FlightInternalError)):
            client.do_get(flight.Ticket(b"EXECUTE ev_exec")).read_all()
        assert not spark.catalog.tableExists("spark_catalog.default.ev_exec_t")
        # a read-only prepared statement still EXECUTEs fine over the wire
        run_script(spark, "PREPARE ev_ok AS SELECT 41 + $1 AS v;")
        t = client.do_get(flight.Ticket(b"EXECUTE ev_ok(1)")).read_all()
        assert t.to_pydict() == {"v": [42]}
    finally:
        client.close()


def test_concurrent_mixed_dialect_clients_stress(spark, flight_port):
    """VERDICT r5 item 7: the server shares one SparkSession plus mutable
    serving state (prepared-statement handles, held frames, file-read
    view LRU) across clients. N parallel clients run a MIX of native-Spark
    SQL, DuckDB-dialect SQL, dynamic PIVOT (repeated and distinct
    statements), and per-thread prepared-statement parameter binding —
    every client must get its own correct answer, with no cache or handle
    cross-talk."""
    import concurrent.futures

    def one(i: int):
        kind = i % 4
        if kind == 0:
            # native Spark SQL, thread-tagged
            t = srv.query_raw(
                flight_port,
                f"SELECT count(*) AS n, {i} AS tag FROM lineitem "
                f"WHERE l_linenumber = {i % 7 + 1}",
            )
            return ("native", i, t["tag"][0].as_py(), t["n"][0].as_py() > 0)
        if kind == 1:
            # DuckDB-dialect SQL (1-based subscript + list literal +
            # quantile_cont), thread-tagged via the subscript value
            t = srv.query_raw(
                flight_port,
                f"SELECT ([10, 20, 30, 40])[{i % 4 + 1}] AS v, "
                f"quantile_cont(l_quantity, 0.5) AS med FROM lineitem",
            )
            return ("dialect", i, t["v"][0].as_py(), (i % 4 + 1) * 10)
        if kind == 2:
            # dynamic PIVOT: two distinct statements alternate, each
            # discovering its pivot columns on every request
            agg = "sum(l_quantity)" if i % 2 else "count(l_orderkey)"
            t = srv.query_raw(
                flight_port,
                f"PIVOT lineitem ON l_returnflag USING {agg}",
            )
            return ("pivot", i, t.num_rows, t.num_rows > 0)
        # prepared statement with thread-unique bound parameter
        t = srv.query_prepared(
            flight_port,
            "SELECT ? + 100 AS v",
            params=[i],
        )
        return ("prepared", i, t["v"][0].as_py(), i + 100)

    with concurrent.futures.ThreadPoolExecutor(max_workers=8) as pool:
        results = list(pool.map(one, range(32)))
    for kind, i, got, want in results:
        if kind == "native":
            assert got == i and want, (kind, i)
        elif kind == "dialect":
            assert got == want, (kind, i, got)
        elif kind == "pivot":
            assert want, (kind, i)
        else:
            assert got == want, (kind, i, got)


def test_sustained_concurrency_soak_10x(spark, flight_port, sf_dir):
    """VERDICT r7 task 7: minutes-scale soak of the r6 mixed-dialect
    stress at the 10x data tier. 8 workers sustain a request mix (native
    SQL, dialect SQL, dynamic PIVOT, prepared statements, and
    cache-churning file reads with distinct option sets) against a view
    10x the base lineitem; afterwards every serving-state LRU must sit
    at/below its cap, driver-side RSS growth between the warmup
    checkpoint and the end must stay bounded, and a second Spark session
    created mid-soak must see none of the soak session's dialect state
    (no cross-session bleed). All 900 requests run, and every result is
    checked; there is no time cut-off."""
    import concurrent.futures
    import os

    from pyspark.sql import functions as F

    from duckdb_server_spark.dialect import _TEMP_VIEW_CAP, dialect_state

    # 10x tier: union of 10 key-offset replicas (consistent join keys)
    base = spark.table("lineitem")
    reps = [
        base.withColumn("l_orderkey", F.col("l_orderkey") + F.lit(i * 100_000_000))
        for i in range(10)
    ]
    ten = reps[0]
    for r in reps[1:]:
        ten = ten.unionAll(r)
    ten.createOrReplaceTempView("lineitem10")
    n10 = spark.table("lineitem10").count()
    assert n10 == 10 * base.count()

    def rss_kb() -> int:
        # python driver + the Spark JVM (separate process): both hold
        # serving state (dialect caches here, temp-view catalog there)
        total = 0
        for pid in ("self", str(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())):
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1])
                        break
        return total

    parquet = os.path.join(sf_dir, "nation.parquet")

    def one(i: int):
        kind = i % 5
        if kind == 0:
            t = srv.query_raw(
                flight_port,
                f"SELECT count(*) AS n, {i} AS tag FROM lineitem10 "
                f"WHERE l_linenumber = {i % 7 + 1}",
            )
            return ("native", i, t["tag"][0].as_py(), t["n"][0].as_py() > 0)
        if kind == 1:
            t = srv.query_raw(
                flight_port,
                f"SELECT ([10, 20, 30, 40])[{i % 4 + 1}] AS v, "
                f"quantile_cont(l_quantity, 0.5) AS med FROM lineitem10",
            )
            return ("dialect", i, t["v"][0].as_py(), (i % 4 + 1) * 10)
        if kind == 2:
            agg = "sum(l_quantity)" if i % 2 else "count(l_orderkey)"
            t = srv.query_raw(
                flight_port, f"PIVOT lineitem10 ON l_returnflag USING {agg}"
            )
            return ("pivot", i, t.num_rows, t.num_rows > 0)
        if kind == 3:
            t = srv.query_prepared(flight_port, "SELECT ? + 100 AS v", params=[i])
            return ("prepared", i, t["v"][0].as_py(), i + 100)
        # distinct filename-option toggle alternates the view-cache key,
        # so the temp-view LRU takes sustained misses
        opt = ", filename=true" if i % 2 else ""
        t = srv.query_raw(
            flight_port,
            f"SELECT count(*) AS n FROM read_parquet('{parquet}'{opt}) "
            f"WHERE n_nationkey >= {i % 20}",
        )
        return ("fileread", i, t["n"][0].as_py(), t["n"][0].as_py() > 0)

    N = 900
    with concurrent.futures.ThreadPoolExecutor(max_workers=8) as pool:
        warm = list(pool.map(one, range(40)))
        rss_warm = rss_kb()
        # cross-session isolation probed mid-soak, while state is hot
        other = spark.newSession()
        from duckdb_server_spark.dialect import execute_statement

        execute_statement(other, "SET memory_limit='123MB'")
        assert dialect_state(other) is not dialect_state(spark)
        assert dialect_state(spark).settings.get("memory_limit") != "123MB"
        results = warm + list(pool.map(one, range(40, N)))
    rss_end = rss_kb()

    for kind, i, got, want in results:
        if kind == "native":
            assert got == i and want, (kind, i)
        elif kind in ("dialect", "prepared"):
            assert got == want, (kind, i, got)
        else:
            assert want, (kind, i)
    state = dialect_state(spark)
    assert len(state.temp_views) <= _TEMP_VIEW_CAP
    # sustained-load memory: allow transient JVM heap elasticity (the
    # JVM grows its committed heap under load and returns it lazily) but
    # not a leak-shaped slope; measured 733 MB across 860 post-warmup
    # requests on this host with every LRU at/below cap
    growth_mb = (rss_end - rss_warm) / 1024
    print(f"soak: {len(results)} requests, RSS warm->end growth {growth_mb:.0f} MB")
    assert growth_mb < 1500, f"driver RSS grew {growth_mb:.0f} MB during soak"
