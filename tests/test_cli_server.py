"""The CLI server (``python -m duckdb_server_spark.server``, the Docker
entrypoint) builds its session through ``session.bootstrap`` like
``Engine``: DuckDB-first rewrites find their ``dd_*`` shims, so answers
over the wire carry DuckDB semantics instead of native Spark's."""

from __future__ import annotations

import os
import queue
import re
import signal
import subprocess
import sys
import threading
import time
from unittest import mock

import duckdb
import pyarrow.flight as flight
import pytest
from pyspark import StorageLevel

from duckdb_server_spark import flightsql
from duckdb_server_spark import server as srv
from duckdb_server_spark import session
from duckdb_server_spark.dialect import rewrite

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BOOT_TIMEOUT_S = 300


@pytest.fixture(scope="module")
def warehouse(sf_dir):
    """The sf0.01 corpus beside the test corpus (TESTDATA.md)."""
    path = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    if not os.path.exists(os.path.join(path, "lineitem.parquet")):
        pytest.skip(f"no warehouse at {path}")
    return path


@pytest.fixture(scope="module")
def cli_server(tmp_path_factory, warehouse):
    """The running CLI server: (port, path of its stderr log)."""
    log_path = tmp_path_factory.mktemp("cli") / "server.log"
    log = open(log_path, "w")
    proc = subprocess.Popen(
        [sys.executable, "-m", "duckdb_server_spark.server",
         "--warehouse", warehouse, "--port", "0"],
        cwd=REPO, stdout=subprocess.PIPE, stderr=log, text=True,
        start_new_session=True,
    )
    lines: queue.Queue = queue.Queue()  # stdout, read off-thread so boot can time out

    def pump() -> None:
        for line in proc.stdout:
            lines.put(line)

    threading.Thread(target=pump, daemon=True).start()
    try:
        deadline = time.monotonic() + BOOT_TIMEOUT_S
        port = None
        while port is None:
            remaining = deadline - time.monotonic()
            if remaining <= 0 or proc.poll() is not None:
                pytest.fail(f"CLI server did not start; log in {log.name}")
            try:
                line = lines.get(timeout=min(remaining, 1.0))
            except queue.Empty:
                continue
            if m := re.match(r"serving .* port=(\d+)", line):
                port = int(m.group(1))
        yield port, log_path
    finally:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        log.close()


@pytest.fixture(scope="module")
def cli_port(cli_server):
    return cli_server[0]


@pytest.mark.parametrize(
    "sql, message",
    [
        ("SELECT ln(0.0) AS v", "cannot take logarithm of zero"),
        ("SELECT sqrt(-1.0) AS v", "cannot take square root of a negative number"),
    ],
)
def test_cli_server_raises_duckdb_libm_errors(cli_port, sql, message):
    with pytest.raises(duckdb.Error, match=message):
        duckdb.execute(sql)
    # The 1 MiB metadata cap is a margin, not a need: DoGet errors carry
    # the root cause's message only, and the stock-client test below reads
    # them under gRPC's default 8 KB cap.
    client = flight.connect(
        f"grpc://127.0.0.1:{cli_port}",
        generic_options=[("grpc.max_metadata_size", 1 << 20)],
    )
    try:
        info = client.get_flight_info(
            flight.FlightDescriptor.for_command(
                flightsql.encode_command_statement_query(sql)
            )
        )
        with pytest.raises(flight.FlightServerError, match=message):
            client.do_get(info.endpoints[0].ticket).read_all()
    finally:
        client.close()


def test_cli_server_rounds_doubles_like_duckdb(cli_port, warehouse):
    # Several of these products sit within an ulp of a .5 boundary at the
    # 6th decimal, where Spark's HALF_UP disagrees with DuckDB's rounding.
    # DuckDB divides the whole product (l_extendedprice * l_discount) / 1000.
    # The casts spell their targets with DuckDB-only type names: bare
    # DECIMAL is DECIMAL(18,3) and truncates, a DOUBLE source rounds;
    # text parses to a list (a string column's too, while a list column's
    # cast stays a cast), and JSON is the value's text, kept verbatim.
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW lineitem AS SELECT * FROM "
        f"read_parquet('{warehouse}/lineitem.parquet')"
    )
    rounded = [
        f"SELECT l_orderkey, l_linenumber, round({v}, 6) AS v "
        "FROM lineitem ORDER BY l_orderkey, l_linenumber"
        for v in ("l_extendedprice * l_discount * 0.001",
                  "l_extendedprice * l_discount / 1000")
    ]
    for sql in rounded + [
        "SELECT 1.2345::DECIMAL AS v",
        "SELECT 7::INT4 AS v",
        "SELECT 'a'::TEXT AS v",
        "SELECT 3.7::FLOAT8::INT8 AS v",
        "SELECT CAST({'a': 1, 'b': {'c': 'x'}} "
        "AS STRUCT(a INT, b STRUCT(c VARCHAR))) AS v",
        "SELECT '[1,2]'::INT[] AS v",
        "SELECT c::INT[] AS v FROM (SELECT '[1,2]' AS c)",
        "SELECT CAST(c AS INT[]) AS v FROM (SELECT '[1,2]' AS c)",
        "SELECT CAST(l AS BIGINT[]) AS v FROM (SELECT [1, 2] AS l)",
        "SELECT CAST(42 AS JSON) AS v",
        "SELECT 42::JSON AS v",
        """SELECT '{"a":  1}'::JSON AS v""",
    ]:
        if sql in rounded:
            assert "dd_libm_round" in rewrite(sql, duckdb_first=True)
        expected = con.execute(sql).fetchall()
        got = srv.query_flightsql(cli_port, sql).to_pylist()
        assert [tuple(r.values()) for r in got] == expected, sql


def test_cli_server_serves_warehouse_from_memory(cli_port):
    # Every view is persisted in memory: the first query on lineitem
    # builds its cache, and a lookup's plan scans it, not the parquet file.
    # Serving runs without whole-stage codegen, so the plan has no fused
    # stage whose class would embed the lookup's key: no "*(n)" operator
    # (simple EXPLAIN), no "* Op" or "[codegen id : n]" (formatted).
    srv.query_flightsql(cli_port, "SELECT count(*) AS n FROM lineitem")
    plan = srv.query_flightsql(
        cli_port, "EXPLAIN SELECT * FROM lineitem WHERE l_orderkey = 1"
    ).column("explain_value")[0].as_py()
    assert "InMemoryTableScan" in plan
    assert not re.search(r"WholeStageCodegen|\*\(\d|\* \w|codegen id", plan)


def test_cache_views_admits_smallest_tables_within_budget(warehouse):
    views = {name: mock.Mock() for name in session.TABLES}
    size = {name: os.path.getsize(session.table_path(warehouse, name)) for name in views}
    assert max(size, key=size.get) == "lineitem"
    rest = [name for name in views if name != "lineitem"]
    # Room for 4 × every other table, not for lineitem's share as well.
    budget = 4 * sum(size[name] for name in rest)
    admitted = session.cache_views(views, warehouse, budget)
    assert admitted == sorted(rest, key=size.get)
    for name in rest:
        views[name].persist.assert_called_once_with(StorageLevel.MEMORY_ONLY)
    views["lineitem"].persist.assert_not_called()


@pytest.mark.parametrize(
    "sql, message",
    [
        ("SELECT ln(0.0) AS v", "cannot take logarithm of zero"),
        (
            "SELECT CAST(2147483647 AS INT) + CAST(l_linenumber AS INT) AS v "
            "FROM lineitem",
            r"\[ARITHMETIC_OVERFLOW\] integer overflow",
        ),
    ],
)
def test_cli_server_errors_reach_stock_client(cli_port, sql, message):
    """A DoGet execution error carries the root cause's message only, so a
    client with default gRPC options (8 KB metadata cap) reads it rather
    than "received initial metadata size exceeds limit"."""
    client = flight.connect(f"grpc://127.0.0.1:{cli_port}")
    try:
        info = client.get_flight_info(
            flight.FlightDescriptor.for_command(
                flightsql.encode_command_statement_query(sql)
            )
        )
        with pytest.raises(flight.FlightServerError, match=message) as err:
            client.do_get(info.endpoints[0].ticket).read_all()
    finally:
        client.close()
    assert "Traceback" not in str(err.value)


def test_cli_server_log_holds_no_query_context_traceback(cli_server):
    """Spark logs every captured analysis error with its stack trace, also
    the ones the dialect expects and retries under another spelling; the
    server silences that logger, and the client still reads the cause."""
    port, log_path = cli_server
    got = srv.query_flightsql(port, "SELECT c::INT[] AS v FROM (SELECT '[1,2]' AS c)")
    assert got.to_pylist() == [{"v": [1, 2]}]
    with pytest.raises(flight.FlightServerError, match="no_such_column"):
        srv.query_flightsql(port, "SELECT no_such_column FROM lineitem")
    assert "SQLQueryContextLogger" not in log_path.read_text()
