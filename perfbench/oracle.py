"""DuckDB answers for generated requests, and the comparison rule.

Both sides are reduced to a canonical Arrow table before comparing:
columns are renamed by position, timestamps become int64 microseconds
(time zone dropped), integers become int64, decimals and floats become
float64 rounded to ``DECIMALS`` places, and rows are sorted on every
column. Two answers match when their canonical tables are equal. The
canonical form, not the raw answer, is what the benchmark keeps per
request.
"""

from __future__ import annotations

import os

import duckdb
import pyarrow as pa
import pyarrow.compute as pc

from workloads import Request

DECIMALS = 6


def canonical(table: pa.Table) -> pa.Table:
    columns = []
    for column in table.columns:
        kind = column.type
        if pa.types.is_timestamp(kind):
            column = pc.cast(pc.cast(column, pa.timestamp("us", tz=kind.tz)), pa.int64())
        elif pa.types.is_date(kind):
            column = pc.cast(pc.cast(column, pa.date32()), pa.int32())
        elif pa.types.is_integer(kind) or pa.types.is_boolean(kind):
            column = pc.cast(column, pa.int64())
        elif pa.types.is_floating(kind) or pa.types.is_decimal(kind):
            column = pc.round(pc.cast(column, pa.float64()), DECIMALS)
        elif pa.types.is_large_string(kind):
            column = pc.cast(column, pa.string())
        columns.append(column)
    names = [f"c{i}" for i in range(len(columns))]
    out = pa.table(columns, names=names) if columns else pa.table({})
    if names and out.num_rows > 1:
        out = out.sort_by([(n, "ascending") for n in names])
    return out.combine_chunks()


def matches(got: pa.Table, expected: pa.Table) -> bool:
    """``expected`` is already canonical."""
    got = canonical(got)
    return got.schema == expected.schema and got.equals(expected)


class Oracle:
    """DuckDB over the same parquet files the server serves, loaded into
    memory once so per-request answers are cheap."""

    def __init__(self, warehouse: str, threads: int = 1):
        self.con = duckdb.connect(config={"threads": threads})
        for entry in sorted(os.listdir(warehouse)):
            name, ext = os.path.splitext(entry)
            if ext == ".parquet":
                path = os.path.join(warehouse, entry)
                self.con.execute(f"CREATE TABLE {name} AS SELECT * FROM read_parquet('{path}')")

    def close(self) -> None:
        self.con.close()

    def answer(self, request: Request) -> pa.Table:
        """Canonical DuckDB answer; a prepared request's ``?`` is bound by
        DuckDB itself."""
        result = self.con.execute(request.sql, list(request.params)).arrow()
        return canonical(result)

    def answers(self, requests: list[Request]) -> dict[Request, pa.Table]:
        out: dict[Request, pa.Table] = {}
        for request in requests:
            if request not in out:
                out[request] = self.answer(request)
        return out
