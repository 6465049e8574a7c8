"""Minimal Flight SQL wire-protocol compatibility layer.

The reference speaks the Arrow Flight SQL protobuf dialect: its
``GetFlightInfo`` unmarshals a ``google.protobuf.Any`` wrapping
``arrow.flight.protocol.sql.CommandStatementQuery`` (main.go:129-139), and
its ``GetSqlInfo`` answers with the standard ``SqlInfo`` dense-union schema
(main.go:173-175, 202-223), so off-the-shelf ADBC / flightsql clients work
(client/main.go:13-17).

The python ``protobuf`` package is not available in this environment, so
this module implements the few needed messages directly on the (public,
stable) protobuf wire format:

- ``Any``                  : field 1 ``type_url`` (string), field 2 ``value`` (bytes)
- ``CommandStatementQuery``: field 1 ``query`` (string)
- ``CommandGetSqlInfo``    : field 1 repeated ``info`` (uint32)

Wire format reference: https://protobuf.dev/programming-guides/encoding/
(varint keys ``(field_no << 3) | wire_type``; length-delimited = type 2).
Flight SQL message/schema definitions: Apache Arrow ``FlightSql.proto`` and
the C++/Go server implementations (public Apache-2.0 sources).
"""

from __future__ import annotations

import pyarrow as pa

TYPE_URL_PREFIX = "type.googleapis.com/arrow.flight.protocol.sql."
CMD_STATEMENT_QUERY = TYPE_URL_PREFIX + "CommandStatementQuery"
CMD_GET_SQL_INFO = TYPE_URL_PREFIX + "CommandGetSqlInfo"
CMD_GET_CATALOGS = TYPE_URL_PREFIX + "CommandGetCatalogs"
CMD_GET_DB_SCHEMAS = TYPE_URL_PREFIX + "CommandGetDbSchemas"
CMD_GET_TABLES = TYPE_URL_PREFIX + "CommandGetTables"
CMD_PREPARED_STATEMENT_QUERY = TYPE_URL_PREFIX + "CommandPreparedStatementQuery"
CMD_GET_PRIMARY_KEYS = TYPE_URL_PREFIX + "CommandGetPrimaryKeys"
CMD_GET_EXPORTED_KEYS = TYPE_URL_PREFIX + "CommandGetExportedKeys"
CMD_GET_IMPORTED_KEYS = TYPE_URL_PREFIX + "CommandGetImportedKeys"
CMD_GET_XDBC_TYPE_INFO = TYPE_URL_PREFIX + "CommandGetXdbcTypeInfo"
ACTION_CREATE_PREPARED_REQ = TYPE_URL_PREFIX + "ActionCreatePreparedStatementRequest"
ACTION_CREATE_PREPARED_RESULT = TYPE_URL_PREFIX + "ActionCreatePreparedStatementResult"
ACTION_CLOSE_PREPARED_REQ = TYPE_URL_PREFIX + "ActionClosePreparedStatementRequest"

# Flight SQL DoAction action types (FlightSql.proto / public server impls).
CREATE_PREPARED_STATEMENT = "CreatePreparedStatement"
CLOSE_PREPARED_STATEMENT = "ClosePreparedStatement"

# SqlInfo codes published by the reference (main.go:352-365) — values from
# the public FlightSql.proto enum.
FLIGHT_SQL_SERVER_NAME = 0
FLIGHT_SQL_SERVER_VERSION = 1
FLIGHT_SQL_SERVER_ARROW_VERSION = 2
FLIGHT_SQL_SERVER_READ_ONLY = 3
SQL_IDENTIFIER_QUOTE_CHAR = 508


# ---------------------------------------------------------------------------
# Protobuf wire-format primitives
# ---------------------------------------------------------------------------


def _read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    result = 0
    shift = 0
    while True:
        if pos >= len(buf):
            raise ValueError("truncated varint")
        b = buf[pos]
        result |= (b & 0x7F) << shift
        pos += 1
        if not b & 0x80:
            return result, pos
        shift += 7
        if shift > 63:
            raise ValueError("varint too long")


def _write_varint(value: int) -> bytes:
    out = bytearray()
    while True:
        bits = value & 0x7F
        value >>= 7
        if value:
            out.append(bits | 0x80)
        else:
            out.append(bits)
            return bytes(out)


def parse_fields(buf: bytes) -> dict[int, list[bytes | int]]:
    """Decode one message into {field_no: [raw values]} — length-delimited
    fields yield ``bytes``, varint fields yield ``int``. Fixed32/64 are
    skipped (none of the handled messages use them)."""
    fields: dict[int, list[bytes | int]] = {}
    pos = 0
    while pos < len(buf):
        key, pos = _read_varint(buf, pos)
        field_no, wire_type = key >> 3, key & 0x07
        if wire_type == 0:  # varint
            val, pos = _read_varint(buf, pos)
            fields.setdefault(field_no, []).append(val)
        elif wire_type == 2:  # length-delimited
            length, pos = _read_varint(buf, pos)
            if pos + length > len(buf):
                raise ValueError("truncated length-delimited field")
            fields.setdefault(field_no, []).append(buf[pos : pos + length])
            pos += length
        elif wire_type == 5:  # fixed32
            pos += 4
        elif wire_type == 1:  # fixed64
            pos += 8
        else:
            raise ValueError(f"unsupported wire type {wire_type}")
    return fields


def _field_bytes(field_no: int, payload: bytes) -> bytes:
    return _write_varint((field_no << 3) | 2) + _write_varint(len(payload)) + payload


def _field_varint(field_no: int, value: int) -> bytes:
    return _write_varint(field_no << 3) + _write_varint(value)


# ---------------------------------------------------------------------------
# Message codecs (Any + the three Flight SQL messages we speak)
# ---------------------------------------------------------------------------


def pack_any(type_url: str, value: bytes) -> bytes:
    return _field_bytes(1, type_url.encode()) + _field_bytes(2, value)


def unpack_any(buf: bytes) -> tuple[str, bytes] | None:
    """Return (type_url, value) if ``buf`` parses as a protobuf ``Any`` with
    a Flight SQL type_url, else None (raw-SQL descriptors and the legacy
    sentinel fall through to the caller)."""
    try:
        fields = parse_fields(buf)
    except ValueError:
        return None
    urls = fields.get(1)
    if not urls or not isinstance(urls[0], bytes):
        return None
    try:
        type_url = urls[0].decode("utf-8")
    except UnicodeDecodeError:
        return None
    if not type_url.startswith(TYPE_URL_PREFIX):
        return None
    values = fields.get(2, [b""])
    value = values[0] if isinstance(values[0], bytes) else b""
    return type_url, value


def encode_command_statement_query(sql: str) -> bytes:
    """Any(CommandStatementQuery{query=sql}) — what a flightsql/ADBC client
    sends as the FlightDescriptor command (reference main.go:129-139)."""
    return pack_any(CMD_STATEMENT_QUERY, _field_bytes(1, sql.encode()))


def decode_command_statement_query(value: bytes) -> str:
    fields = parse_fields(value)
    queries = fields.get(1, [b""])
    raw = queries[0] if isinstance(queries[0], bytes) else b""
    return raw.decode("utf-8")


def encode_command_get_sql_info(info_codes: list[int] | None = None) -> bytes:
    body = b""
    for code in info_codes or []:
        body += _field_varint(1, code)
    return pack_any(CMD_GET_SQL_INFO, body)


def decode_command_get_sql_info(value: bytes) -> list[int]:
    fields = parse_fields(value)
    out: list[int] = []
    for v in fields.get(1, []):
        if isinstance(v, int):
            out.append(v)
        else:  # packed repeated encoding: varints concatenated
            pos = 0
            while pos < len(v):
                code, pos = _read_varint(v, pos)
                out.append(code)
    return out


def encode_command_get_catalogs() -> bytes:
    return pack_any(CMD_GET_CATALOGS, b"")


def encode_command_get_db_schemas(catalog: str | None = None) -> bytes:
    body = _field_bytes(1, catalog.encode()) if catalog is not None else b""
    return pack_any(CMD_GET_DB_SCHEMAS, body)


def encode_command_get_tables(
    table_name_pattern: str | None = None, include_schema: bool = False
) -> bytes:
    body = b""
    if table_name_pattern is not None:
        body += _field_bytes(3, table_name_pattern.encode())
    if include_schema:
        body += _field_varint(5, 1)
    return pack_any(CMD_GET_TABLES, body)


def decode_command_get_tables(value: bytes) -> tuple[str | None, bool]:
    """→ (table_name_filter_pattern, include_schema). Catalog/db-schema
    filters (fields 1, 2) are accepted and ignored — this engine serves a
    single flat temp-view namespace."""
    fields = parse_fields(value)
    pattern = None
    pats = fields.get(3)
    if pats and isinstance(pats[0], bytes):
        pattern = pats[0].decode("utf-8")
    inc = fields.get(5, [0])
    include_schema = bool(inc[0]) if isinstance(inc[0], int) else False
    return pattern, include_schema


# --- Prepared statements (DoAction pair + execution command) ---------------
# FlightSql.proto: ActionCreatePreparedStatementRequest{1: query,
# 2: transaction_id}; ActionCreatePreparedStatementResult{1: handle,
# 2: dataset_schema (IPC), 3: parameter_schema (IPC)};
# ActionClosePreparedStatementRequest{1: handle};
# CommandPreparedStatementQuery{1: handle}. Action bodies and results are
# Any-wrapped, as in the public Go/C++ Flight SQL servers.


def decode_command_get_xdbc_type_info(value: bytes) -> int | None:
    """Optional field 1: the java.sql.Types code to filter to."""
    fields = parse_fields(value)
    vals = fields.get(1)
    return int(vals[0]) if vals else None


def encode_command_get_xdbc_type_info(data_type: int | None = None) -> bytes:
    body = b"" if data_type is None else _field_varint(1, data_type)
    return pack_any(CMD_GET_XDBC_TYPE_INFO, body)


def encode_command_get_primary_keys(table: str) -> bytes:
    return pack_any(CMD_GET_PRIMARY_KEYS, _field_bytes(3, table.encode("utf-8")))


def encode_command_get_imported_keys(table: str) -> bytes:
    return pack_any(CMD_GET_IMPORTED_KEYS, _field_bytes(3, table.encode("utf-8")))


def encode_action_create_prepared_request(sql: str) -> bytes:
    return pack_any(ACTION_CREATE_PREPARED_REQ, _field_bytes(1, sql.encode()))


def decode_action_create_prepared_request(value: bytes) -> str:
    fields = parse_fields(value)
    queries = fields.get(1, [b""])
    raw = queries[0] if isinstance(queries[0], bytes) else b""
    return raw.decode("utf-8")


def encode_action_create_prepared_result(
    handle: bytes, dataset_schema: bytes = b""
) -> bytes:
    body = _field_bytes(1, handle)
    if dataset_schema:
        body += _field_bytes(2, dataset_schema)
    return pack_any(ACTION_CREATE_PREPARED_RESULT, body)


def decode_action_create_prepared_result(buf: bytes) -> tuple[bytes, bytes]:
    """→ (prepared_statement_handle, dataset_schema IPC bytes)."""
    unpacked = unpack_any(buf)
    value = unpacked[1] if unpacked is not None else buf
    fields = parse_fields(value)
    handle = fields.get(1, [b""])[0]
    schema = fields.get(2, [b""])[0]
    return (
        handle if isinstance(handle, bytes) else b"",
        schema if isinstance(schema, bytes) else b"",
    )


def encode_action_close_prepared_request(handle: bytes) -> bytes:
    return pack_any(ACTION_CLOSE_PREPARED_REQ, _field_bytes(1, handle))


def decode_prepared_statement_handle(value: bytes) -> bytes:
    """Shared decoder: field 1 = prepared_statement_handle for both
    ActionClosePreparedStatementRequest and CommandPreparedStatementQuery."""
    fields = parse_fields(value)
    handles = fields.get(1, [b""])
    return handles[0] if isinstance(handles[0], bytes) else b""


def encode_command_prepared_statement_query(handle: bytes) -> bytes:
    return pack_any(CMD_PREPARED_STATEMENT_QUERY, _field_bytes(1, handle))


# Standard Flight SQL metadata result schemas (FlightSql.proto comments —
# the column names/types ADBC drivers expect).
GET_CATALOGS_SCHEMA = pa.schema([pa.field("catalog_name", pa.string(), nullable=False)])
GET_DB_SCHEMAS_SCHEMA = pa.schema(
    [
        pa.field("catalog_name", pa.string()),
        pa.field("db_schema_name", pa.string(), nullable=False),
    ]
)
GET_TABLES_SCHEMA = pa.schema(
    [
        pa.field("catalog_name", pa.string()),
        pa.field("db_schema_name", pa.string()),
        pa.field("table_name", pa.string(), nullable=False),
        pa.field("table_type", pa.string(), nullable=False),
    ]
)
GET_TABLES_SCHEMA_WITH_SCHEMA = GET_TABLES_SCHEMA.append(
    pa.field("table_schema", pa.binary(), nullable=False)
)

# Key/type metadata (FlightSql.proto): the warehouse is constraint-free
# parquet, so key queries correctly return EMPTY tables in the standard
# schema — a protocol-conformant "no constraints", not Unimplemented
# (which makes ADBC drivers fail the whole metadata fetch). The reference
# leaves all of these Unimplemented (main.go:121-124).
GET_PRIMARY_KEYS_SCHEMA = pa.schema(
    [
        pa.field("catalog_name", pa.string()),
        pa.field("db_schema_name", pa.string()),
        pa.field("table_name", pa.string(), nullable=False),
        pa.field("column_name", pa.string(), nullable=False),
        pa.field("key_name", pa.string()),
        pa.field("key_sequence", pa.int32(), nullable=False),
    ]
)
GET_KEYS_SCHEMA = pa.schema(
    [
        pa.field("pk_catalog_name", pa.string()),
        pa.field("pk_db_schema_name", pa.string()),
        pa.field("pk_table_name", pa.string(), nullable=False),
        pa.field("pk_column_name", pa.string(), nullable=False),
        pa.field("fk_catalog_name", pa.string()),
        pa.field("fk_db_schema_name", pa.string()),
        pa.field("fk_table_name", pa.string(), nullable=False),
        pa.field("fk_column_name", pa.string(), nullable=False),
        pa.field("key_sequence", pa.int32(), nullable=False),
        pa.field("fk_key_name", pa.string()),
        pa.field("pk_key_name", pa.string()),
        pa.field("update_rule", pa.uint8(), nullable=False),
        pa.field("delete_rule", pa.uint8(), nullable=False),
    ]
)
GET_XDBC_TYPE_INFO_SCHEMA = pa.schema(
    [
        pa.field("type_name", pa.string(), nullable=False),
        pa.field("data_type", pa.int32(), nullable=False),
        pa.field("column_size", pa.int32()),
        pa.field("literal_prefix", pa.string()),
        pa.field("literal_suffix", pa.string()),
        pa.field("create_params", pa.list_(pa.field("item", pa.string(), nullable=False))),
        pa.field("nullable", pa.int32(), nullable=False),
        pa.field("case_sensitive", pa.bool_(), nullable=False),
        pa.field("searchable", pa.int32(), nullable=False),
        pa.field("unsigned_attribute", pa.bool_()),
        pa.field("fixed_prec_scale", pa.bool_(), nullable=False),
        pa.field("auto_increment", pa.bool_()),
        pa.field("local_type_name", pa.string()),
        pa.field("minimum_scale", pa.int32()),
        pa.field("maximum_scale", pa.int32()),
        pa.field("sql_data_type", pa.int32(), nullable=False),
        pa.field("datetime_subcode", pa.int32()),
        pa.field("num_prec_radix", pa.int32()),
        pa.field("interval_precision", pa.int32()),
    ]
)

# (type_name, java.sql.Types code, column_size, create_params, radix) for
# the engine's SQL type surface. searchable=3 (SEARCHABLE), nullable=1.
_XDBC_TYPES: tuple[tuple[str, int, int | None, list[str] | None, int | None], ...] = (
    ("BOOLEAN", 16, 1, None, None),
    ("TINYINT", -6, 3, None, 10),
    ("SMALLINT", 5, 5, None, 10),
    ("INTEGER", 4, 10, None, 10),
    ("BIGINT", -5, 19, None, 10),
    ("FLOAT", 6, 7, None, 10),
    ("DOUBLE", 8, 15, None, 10),
    ("DECIMAL", 3, 38, ["precision", "scale"], 10),
    ("VARCHAR", 12, None, ["length"], None),
    ("BINARY", -2, None, None, None),
    ("DATE", 91, 10, None, None),
    ("TIMESTAMP", 93, 26, None, None),
    ("ARRAY", 2003, None, None, None),
    ("MAP", 2000, None, None, None),
    ("STRUCT", 2002, None, None, None),
)


def xdbc_type_info_table(data_type: int | None = None) -> pa.Table:
    """CommandGetXdbcTypeInfo result: the engine's type surface, optionally
    filtered to one java.sql.Types code."""
    rows = [t for t in _XDBC_TYPES if data_type is None or t[1] == data_type]
    return pa.Table.from_arrays(
        [
            pa.array([r[0] for r in rows], pa.string()),
            pa.array([r[1] for r in rows], pa.int32()),
            pa.array([r[2] for r in rows], pa.int32()),
            pa.array(["'" if r[0] == "VARCHAR" else None for r in rows], pa.string()),
            pa.array(["'" if r[0] == "VARCHAR" else None for r in rows], pa.string()),
            pa.array([r[3] for r in rows], pa.list_(pa.field("item", pa.string(), nullable=False))),
            pa.array([1] * len(rows), pa.int32()),
            pa.array([r[0] == "VARCHAR" for r in rows], pa.bool_()),
            pa.array([3] * len(rows), pa.int32()),
            pa.array([False] * len(rows), pa.bool_()),
            pa.array([r[0] == "DECIMAL" for r in rows], pa.bool_()),
            pa.array([False] * len(rows), pa.bool_()),
            pa.array([r[0] for r in rows], pa.string()),
            pa.array([0 if r[0] == "DECIMAL" else None for r in rows], pa.int32()),
            pa.array([38 if r[0] == "DECIMAL" else None for r in rows], pa.int32()),
            pa.array([r[1] for r in rows], pa.int32()),
            pa.array([None] * len(rows), pa.int32()),
            pa.array([r[4] for r in rows], pa.int32()),
            pa.array([None] * len(rows), pa.int32()),
        ],
        schema=GET_XDBC_TYPE_INFO_SCHEMA,
    )


def empty_table(schema: pa.Schema) -> pa.Table:
    return pa.Table.from_arrays(
        [pa.array([], f.type) for f in schema], schema=schema
    )


def serialize_schema(schema: pa.Schema) -> bytes:
    """IPC-serialized schema bytes, as CommandGetTables(include_schema)
    expects in the table_schema column."""
    return schema.serialize().to_pybytes()


# ---------------------------------------------------------------------------
# Standard SqlInfo result table (dense-union value column)
# ---------------------------------------------------------------------------

_SQL_INFO_VALUE_TYPE = pa.dense_union(
    [
        pa.field("string_value", pa.string()),
        pa.field("bool_value", pa.bool_()),
        pa.field("bigint_value", pa.int64()),
        pa.field("int32_bitmask", pa.int32()),
        pa.field("string_list", pa.list_(pa.string())),
        pa.field(
            "int32_to_int32_list_map", pa.map_(pa.int32(), pa.list_(pa.int32()))
        ),
    ],
    type_codes=[0, 1, 2, 3, 4, 5],
)

SQL_INFO_SCHEMA = pa.schema(
    [
        pa.field("info_name", pa.uint32(), nullable=False),
        pa.field("value", _SQL_INFO_VALUE_TYPE),
    ]
)


def server_sql_info() -> dict[int, str | bool]:
    """The reference's published info set (main.go:352-365): server
    name/version/arrow-version/read-only/quote char. Read-only is reported
    truthfully (the reference claims false even when serving read-only —
    main.go:357 vs main.go:61)."""
    import pyspark

    return {
        FLIGHT_SQL_SERVER_NAME: "duckdb_server_spark",
        FLIGHT_SQL_SERVER_VERSION: f"spark {pyspark.__version__}",
        FLIGHT_SQL_SERVER_ARROW_VERSION: f"pyarrow {pa.__version__}",
        FLIGHT_SQL_SERVER_READ_ONLY: True,
        SQL_IDENTIFIER_QUOTE_CHAR: '"',
    }


def sql_info_table(info_codes: list[int] | None = None) -> pa.Table:
    """Build the standard dense-union SqlInfo table (main.go:173-175,
    202-223). ``info_codes`` filters the published set; empty/None → all."""
    info = server_sql_info()
    codes = [c for c in (info_codes or sorted(info)) if c in info]
    type_ids: list[int] = []
    offsets: list[int] = []
    strings: list[str] = []
    bools: list[bool] = []
    for code in codes:
        val = info[code]
        if isinstance(val, bool):
            type_ids.append(1)
            offsets.append(len(bools))
            bools.append(val)
        else:
            type_ids.append(0)
            offsets.append(len(strings))
            strings.append(val)
    children = [
        pa.array(strings, pa.string()),
        pa.array(bools, pa.bool_()),
        pa.array([], pa.int64()),
        pa.array([], pa.int32()),
        pa.array([], pa.list_(pa.string())),
        pa.array([], pa.map_(pa.int32(), pa.list_(pa.int32()))),
    ]
    value = pa.UnionArray.from_dense(
        pa.array(type_ids, pa.int8()),
        pa.array(offsets, pa.int32()),
        children,
        field_names=[
            "string_value",
            "bool_value",
            "bigint_value",
            "int32_bitmask",
            "string_list",
            "int32_to_int32_list_map",
        ],
        type_codes=[0, 1, 2, 3, 4, 5],
    )
    return pa.Table.from_arrays(
        [pa.array(codes, pa.uint32()), value], schema=SQL_INFO_SCHEMA
    )
