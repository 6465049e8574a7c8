"""Statement router: SET/ATTACH/DDL/DML/transactions, macros/state, file-reading table functions, PRAGMA/SHOW/pivot meta (split from dialect.py, round 11)."""

from __future__ import annotations

import datetime as _dt
import re
import threading
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from duckdb_server_spark.dialect_rewrites.core import (  # noqa: F401
    _PLACEHOLDER,
    _PLACEHOLDER_RE,
    _literal_value,
    _mask,
    _matching_paren,
    _run_sql_late,
    _split_top_commas,
    _DUCK_TYPE_NAMES,
    _unmask,
    spark_type,
)



# ---------------------------------------------------------------------------
# init-script statement routing (SET / INSTALL / LOAD / SECRET / VIEW)
# ---------------------------------------------------------------------------


@dataclass
class DialectState:
    """Session-level DuckDB-compat state the router maintains: settings
    from SET, extensions from INSTALL/LOAD (surfaced through the
    capability registry analog), named secrets from CREATE SECRET, and
    macros from CREATE MACRO (expanded textually at query time, exactly
    DuckDB's own inlining semantics)."""

    settings: dict[str, str] = field(default_factory=dict)
    installed: list[str] = field(default_factory=list)
    loaded: list[str] = field(default_factory=list)
    secrets: dict[str, dict[str, str]] = field(default_factory=dict)
    macros: dict[str, "Macro"] = field(default_factory=dict)
    prepared: dict[str, str] = field(default_factory=dict)
    # __dd_read_* / __dd_ubn_* / __dd_pivot_* temp views registered from
    # wire input, LRU-ordered; oldest are dropped past _TEMP_VIEW_CAP so
    # server-lifetime catalog state stays bounded under arbitrary clients
    temp_views: dict[str, None] = field(default_factory=dict)
    # open-transaction undo log: relation name → the DataFrame to restore
    # on ROLLBACK (None = created inside the transaction, so ROLLBACK
    # drops it). None when no transaction is active. Works because every
    # mutation is a copy-on-write view swap and prior DataFrames pin
    # their analyzed plans.
    txn_undo: "dict[str, DataFrame | None] | None" = None
    # snapshot of the DDL registries (tables/sequences/enums/enum_columns/
    # schemas/indexes/comments) taken at BEGIN: DuckDB's DDL is
    # transactional, so ROLLBACK must also undo DROP-side forget_table(),
    # sequence advancement, and CREATE TYPE/SEQUENCE/SCHEMA
    txn_ddl_undo: "dict[str, object] | None" = None
    # index/comment metadata: results never depend on them, but clients
    # create them and expect the statements to succeed
    indexes: dict[str, str] = field(default_factory=dict)
    comments: dict[str, str | None] = field(default_factory=dict)
    # DDL registries (ddl.py): declared constraints of plain CREATE TABLE
    # statements, session sequences, and CREATE TYPE … AS ENUM members
    # (+ which table columns carry an enum type, for ordinal semantics)
    tables: dict[str, "object"] = field(default_factory=dict)
    sequences: dict[str, "object"] = field(default_factory=dict)
    enums: dict[str, list[str]] = field(default_factory=dict)
    enum_columns: dict[str, dict[str, str]] = field(default_factory=dict)
    # CREATE SCHEMA names: qualified references flatten onto the single
    # temp-view namespace (the warehouse model — one catalog lifetime)
    schemas: set[str] = field(default_factory=set)
    # LRU mutation lock (round 15, VERDICT r14 item 3): the Flight
    # server runs requests on a thread pool sharing this state —
    # unguarded next(iter())/del eviction races KeyError or evicts a
    # just-inserted entry under concurrency; single-threaded embedded
    # use pays one uncontended acquire
    lru_lock: threading.RLock = field(default_factory=threading.RLock)


_TEMP_VIEW_CAP = 64



def _track_temp_view(spark: SparkSession, name: str) -> None:
    """Record a wire-input-derived temp view in the LRU; evict (and drop
    from the catalog) the least-recently-used past the cap."""
    state = dialect_state(spark)
    with state.lru_lock:
        state.temp_views.pop(name, None)
        state.temp_views[name] = None
        evict = []
        while len(state.temp_views) > _TEMP_VIEW_CAP:
            old = next(iter(state.temp_views))
            del state.temp_views[old]
            evict.append(old)
    for old in evict:  # catalog drop outside the lock (py4j call)
        spark.catalog.dropTempView(old)



@dataclass
class Macro:
    """A DuckDB ``CREATE MACRO`` definition. The body is stored masked
    (literals extracted) so parameter substitution can never touch string
    contents; ``params`` carry optional ``:=`` defaults."""

    params: list[tuple[str, str | None]]
    masked_body: str
    body_table: list[str]
    is_table: bool



def _expand_macros(sql: str, macros: dict[str, Macro]) -> str:
    """Inline every macro call site, innermost-out (DuckDB macros are
    pure textual inlining too — the planner sees only the expansion).
    Scalar macros become a parenthesized expression; table macros a
    derived-table subquery."""
    masked, table = _mask(sql)
    for _ in range(16):  # nesting guard
        changed = False
        for name, mac in macros.items():
            pat = re.compile(r"\b" + re.escape(name) + r"\s*\(", re.IGNORECASE)
            m = pat.search(masked)
            while m:
                open_idx = m.end() - 1
                close = _matching_paren(masked, open_idx)
                args = _split_top_commas(masked[open_idx + 1 : close])
                bound: dict[str, str] = {}
                positional = []
                for a in args:
                    am = re.match(r"^([A-Za-z_]\w*)\s*:=\s*(.+)$", a, re.DOTALL)
                    if am and any(p == am.group(1).lower() for p, _ in mac.params):
                        bound[am.group(1).lower()] = am.group(2).strip()
                    else:
                        positional.append(a)
                for (p, default), i in zip(
                    mac.params, range(len(mac.params))
                ):
                    if p in bound:
                        continue
                    if i < len(positional):
                        bound[p] = positional[i]
                    elif default is not None:
                        bound[p] = default
                    else:
                        raise ValueError(
                            f"macro {name}: missing argument {p!r}"
                        )
                # splice the macro body's literal table onto the main one
                offset = len(table)
                body = _PLACEHOLDER_RE.sub(
                    lambda mm: _PLACEHOLDER.format(int(mm.group(1)) + offset),
                    mac.masked_body,
                )
                table.extend(mac.body_table)
                # SIMULTANEOUS substitution: one pass over all parameter
                # names — sequential passes would re-match a parameter
                # name appearing inside an earlier-substituted argument
                # (add1(y, 1) with params (x, y) must not turn the
                # spliced-in column y into the second argument)
                if bound:
                    param_re = re.compile(
                        r"\b(" + "|".join(re.escape(p) for p in bound) + r")\b",
                        re.IGNORECASE,
                    )
                    body = param_re.sub(
                        lambda mm: f"({bound[mm.group(1).lower()]})", body
                    )
                repl = f"({body})"
                masked = masked[: m.start()] + repl + masked[close + 1 :]
                changed = True
                m = pat.search(masked, m.start() + len(repl))
        if not changed:
            break
    return _unmask(masked, table)



_STATE_KEY = "spark.dss.dialectStateId"

_STATES: dict[str, DialectState] = {}



def dialect_state(spark: SparkSession) -> DialectState:
    sid = spark.conf.get(_STATE_KEY, None)
    if sid is None or sid not in _STATES:
        sid = str(len(_STATES))
        spark.conf.set(_STATE_KEY, sid)
        _STATES[sid] = DialectState()
    return _STATES[sid]



# The Flight serving path defaults to DuckDB-dialect semantics: the
# reference's wire contract IS verbatim DuckDB SQL (main.go:199,229), so
# a statement valid in BOTH dialects with different meanings (2-arg
# ltrim/rtrim argument order, 1-based subscripts) must get the DuckDB
# answer over the wire. Embedded ``Engine.sql`` stays native-first. The
# default is thread-scoped (the server wraps each request), and an
# explicit ``SET dialect='…'`` always wins in either direction.
_SERVING_TL = threading.local()



@contextmanager
def serving_dialect(on: bool = True):
    """Scope the DuckDB-first serving default to the current thread (the
    server wraps every request resolution in this)."""
    prev = getattr(_SERVING_TL, "duckdb_first", None)
    _SERVING_TL.duckdb_first = on
    try:
        yield
    finally:
        _SERVING_TL.duckdb_first = prev



def _duckdb_first(state: DialectState) -> bool:
    """Precedence for dialect mode: an explicit ``SET dialect`` setting,
    else the thread's serving default, else native-first."""
    setting = state.settings.get("dialect", "").lower()
    if setting:
        return setting in ("duckdb", "duck")
    return bool(getattr(_SERVING_TL, "duckdb_first", False))



def split_statements(script: str) -> list[str]:
    """Split an init script on ``;`` outside quotes/comments."""
    masked, table = _mask(script)
    return [
        _unmask(part, table).strip()
        for part in masked.split(";")
        if _unmask(part, table).strip()
    ]



_SET_RE = re.compile(
    r"^\s*SET\s+(?:SESSION\s+|GLOBAL\s+|LOCAL\s+)?([A-Za-z_]\w*)\s*"
    r"(?:=|\bTO\b)\s*(.+)$",
    re.IGNORECASE | re.DOTALL,
)

# CREATE SCHEMA registers a name so schema-qualified references flatten
# onto the single temp-view namespace (the warehouse model); USE is a
# no-op for known schemas, like DuckDB's default-catalog switch
_CREATE_SCHEMA_RE = re.compile(
    r"^\s*CREATE\s+SCHEMA\s+(IF\s+NOT\s+EXISTS\s+)?([A-Za-z_]\w*)\s*;?\s*$",
    re.IGNORECASE,
)

_DROP_SCHEMA_RE = re.compile(
    r"^\s*DROP\s+SCHEMA\s+(IF\s+EXISTS\s+)?([A-Za-z_]\w*)"
    r"(\s+CASCADE)?\s*;?\s*$",
    re.IGNORECASE,
)

_USE_RE = re.compile(r"^\s*USE\s+([A-Za-z_][\w.]*)\s*;?\s*$", re.IGNORECASE)

_INSTALL_RE = re.compile(
    r"^\s*(?:FORCE\s+)?INSTALL\s+([A-Za-z_]\w*)(?:\s+FROM\s+\S+)?\s*$", re.IGNORECASE
)

_LOAD_RE = re.compile(r"^\s*LOAD\s+([A-Za-z_]\w*)\s*$", re.IGNORECASE)

# ATTACH 'path' [AS alias] [(READ_ONLY, TYPE duckdb, ...)] — a parquet
# warehouse directory or a real .duckdb database file (engine.py:
# attach_warehouse). Option list accepted and ignored: this engine's
# attach is always read-only, matching the reference's serving contract.
# The Airport/remote form routes to the Flight catalog path instead.
_ATTACH_RE = re.compile(
    r"^\s*ATTACH\s+(?:DATABASE\s+)?'([^']+)'"
    r"(?:\s+AS\s+([A-Za-z_]\w*))?\s*(?:\(([^)]*)\))?\s*;?\s*$",
    re.IGNORECASE,
)

_DETACH_RE = re.compile(
    r"^\s*DETACH\s+(?:DATABASE\s+)?([A-Za-z_]\w*)\s*;?\s*$", re.IGNORECASE
)


_SECRET_RE = re.compile(
    r"^\s*CREATE\s+(?:OR\s+REPLACE\s+)?(?:PERSISTENT\s+|TEMPORARY\s+)?SECRET"
    r"(?:\s+(?!\()([A-Za-z_]\w*))?\s*\(", re.IGNORECASE
)

_VIEW_RE = re.compile(
    r"^\s*CREATE\s+(?:OR\s+REPLACE\s+)?(?:TEMP(?:ORARY)?\s+)?VIEW\s+"
    r"(?:IF\s+NOT\s+EXISTS\s+)?([A-Za-z_][\w.]*)\s+AS\s+(.+)$",
    re.IGNORECASE | re.DOTALL,
)

_TABLE_AS_RE = re.compile(
    r"^\s*CREATE\s+(?:OR\s+REPLACE\s+)?(?:TEMP(?:ORARY)?\s+)?TABLE\s+"
    r"(?:IF\s+NOT\s+EXISTS\s+)?([A-Za-z_][\w.]*)\s+AS\s+(.+)$",
    re.IGNORECASE | re.DOTALL,
)



_COPY_RE = re.compile(
    # greedy options group + anchored final ')' so option values with
    # nested parens (PARTITION_BY (a, b)) stay inside the group
    r"^\s*COPY\s+(\(.*\)|[A-Za-z_][\w.]*)\s+TO\s+('[^']+')"
    r"\s*(?:(?:WITH\s*)?\((.*)\))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)

_COPY_FROM_RE = re.compile(
    r"^\s*COPY\s+([A-Za-z_][\w.]*)\s+FROM\s+('[^']+')"
    r"\s*(?:\(|WITH\s*\()?([^)]*)\)?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)



def _run_copy_from(spark: SparkSession, m: re.Match) -> None:
    """DuckDB ``COPY <table> FROM 'path' (FORMAT …)`` — the init-phase
    load direction. The file reads through the same spark.read resolution
    as read_* table functions; rows append to an existing temp view
    (INSERT semantics) or create it."""
    target, path_lit, opts = m.groups()
    path = path_lit[1:-1].replace("''", "'")
    opts_l = (opts or "").lower()
    fmt_m = re.search(r"format\s+(\w+)", opts_l)
    fmt = fmt_m.group(1) if fmt_m else (_path_format(path) or "")
    if fmt not in ("parquet", "csv", "json"):
        raise ValueError(f"COPY FROM: unsupported format {fmt!r}")
    read_opts: dict[str, str] = {}
    if fmt == "csv":
        if "header false" in opts_l or "header 0" in opts_l:
            read_opts["header"] = "false"
        dm = re.search(r"delim(?:iter)?\s+'([^']*)'", opts or "", re.IGNORECASE)
        if dm:
            read_opts["delim"] = dm.group(1)
    view = _file_read_view(spark, fmt, (path,), read_opts)
    name = target.split(".")[-1]
    df = spark.table(view)
    if spark.catalog.tableExists(name):
        old = spark.table(name)
        from pyspark.sql import functions as F

        aligned = df.toDF(*old.columns).select(
            *[F.col(c).cast(old.schema[c].dataType) for c in old.columns]
        )
        df = old.unionByName(aligned)
    df.localCheckpoint(eager=True).createOrReplaceTempView(name)

_MACRO_RE = re.compile(
    r"^\s*CREATE\s+(?:OR\s+REPLACE\s+)?(?:TEMP(?:ORARY)?\s+)?"
    r"(?:MACRO|FUNCTION)\s+([A-Za-z_]\w*)\s*\(",
    re.IGNORECASE,
)

# ``DROP MACRO [TABLE] name`` — DuckDB requires the TABLE keyword for
# table macros and rejects it for scalar ones (hunt H r15 wave 5); the
# router checks the stored macro's shape and mirrors both errors.
_DROP_MACRO_RE = re.compile(
    r"^\s*DROP\s+(?:MACRO|FUNCTION)\s+(TABLE\s+)?(?:IF\s+EXISTS\s+)?"
    r"([A-Za-z_]\w*)\s*;?\s*$",
    re.IGNORECASE,
)

_DROP_RELATION_RE = re.compile(
    r"^\s*DROP\s+(?:TABLE|VIEW)\s+(IF\s+EXISTS\s+)?([A-Za-z_][\w.]*)\s*;?\s*$",
    re.IGNORECASE,
)

_INSERT_RE = re.compile(
    r"^\s*INSERT\s+(?:OR\s+(REPLACE|IGNORE)\s+)?INTO\s+([A-Za-z_][\w.]*)\s*"
    r"(\([^)]*\))?\s*(BY\s+NAME\s+)?(VALUES\b.+|SELECT\b.+|FROM\b.+)$",
    re.IGNORECASE | re.DOTALL,
)

# plain CREATE TABLE with column definitions (constraints parsed and
# enforced by ddl.py); CTAS never matches — its name is followed by AS,
# not an opening paren
_TABLE_DDL_RE = re.compile(
    r"^\s*CREATE\s+(OR\s+REPLACE\s+)?(?:TEMP(?:ORARY)?\s+)?TABLE\s+"
    r"(IF\s+NOT\s+EXISTS\s+)?([A-Za-z_][\w.]*)\s*\((.+)\)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)

_CREATE_SEQ_RE = re.compile(
    r"^\s*CREATE\s+(OR\s+REPLACE\s+)?(?:TEMP(?:ORARY)?\s+)?SEQUENCE\s+"
    r"(IF\s+NOT\s+EXISTS\s+)?([A-Za-z_][\w.]*)\s*(.*?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)

_DROP_SEQ_RE = re.compile(
    r"^\s*DROP\s+SEQUENCE\s+(IF\s+EXISTS\s+)?([A-Za-z_][\w.]*)\s*;?\s*$",
    re.IGNORECASE,
)

_CREATE_TYPE_RE = re.compile(
    r"^\s*CREATE\s+TYPE\s+([A-Za-z_][\w.]*)\s+AS\s+ENUM\s*\((.*)\)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)

_DROP_TYPE_RE = re.compile(
    r"^\s*DROP\s+TYPE\s+(IF\s+EXISTS\s+)?([A-Za-z_][\w.]*)\s*;?\s*$",
    re.IGNORECASE,
)

# cheap pre-check so only statements that can touch a sequence pay
_SEQVAL_HINT_RE = re.compile(r"\b(?:nextval|currval)\s*\(", re.IGNORECASE)

# DuckDB session prepared statements: PREPARE name AS <stmt with $1/?>,
# EXECUTE name(args), DEALLOCATE name — the CLI-level analog of the
# Flight DoPut binding (same bind_parameters underneath).
_PREPARE_RE = re.compile(
    r"^\s*PREPARE\s+([A-Za-z_]\w*)\s+AS\s+(.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)

_EXECUTE_RE = re.compile(
    r"^\s*EXECUTE\s+([A-Za-z_]\w*)\s*(\(.*\))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)

_DEALLOCATE_RE = re.compile(
    r"^\s*DEALLOCATE\s+(?:PREPARE\s+)?([A-Za-z_]\w*)\s*;?\s*$", re.IGNORECASE
)



def _run_execute(spark: SparkSession, m: re.Match) -> DataFrame:
    state = dialect_state(spark)
    name = m.group(1).lower()
    stmt = state.prepared.get(name)
    if stmt is None:
        raise ValueError(f"EXECUTE: no prepared statement {name!r}")
    if m.group(2):
        masked, table = _mask(m.group(2)[1:-1])
        named: dict[str, object] = {}
        positional: list[object] = []
        for a in _split_top_commas(masked):
            nm = re.match(r"^\s*([A-Za-z_]\w*)\s*:=\s*(.+)$", a, re.DOTALL)
            if nm:
                named[nm.group(1).lower()] = _parse_literal_token(
                    _unmask(nm.group(2), table)
                )
            else:
                positional.append(_parse_literal_token(_unmask(a, table)))
        if named and positional:
            raise ValueError(
                "EXECUTE: cannot mix named and positional arguments"
            )
        if named:
            stmt = bind_named_parameters(stmt, named)
        else:
            stmt = bind_parameters(stmt, positional)
    return _run_sql_late(spark, stmt)



def _parse_literal_token(tok: str):
    """A SQL literal argument of EXECUTE(...) → python value."""
    tok = tok.strip()
    lit = _literal_value(tok)
    if lit is not None:
        return lit
    low = tok.lower()
    if low == "null":
        return None
    if low in ("true", "false"):
        return low == "true"
    try:
        return int(tok)
    except ValueError:
        pass
    try:
        return float(tok)
    except ValueError:
        pass
    # round-14 hunt G: DuckDB accepts list literals, typed literals,
    # and expressions as EXECUTE arguments — carry the text and let
    # render_sql_literal parenthesize it at the substitution site
    # (DuckDB binds the evaluated value, so precedence must hold)
    return _RawSQL(tok)



def _register_macro(state: DialectState, stmt: str, m: re.Match) -> bool:
    """Parse ``CREATE MACRO name(p1, p2 := default) AS <expr|TABLE query>``
    into a stored :class:`Macro` (body kept masked). Returns False for a
    Spark-native ``CREATE FUNCTION … RETURNS … RETURN`` statement, which
    must fall through to ``spark.sql`` untouched."""
    name = m.group(1).lower()
    open_idx = m.end() - 1
    close = _matching_paren(stmt, open_idx)
    rest = stmt[close + 1 :]
    am = re.match(r"^\s*AS\s+(TABLE\s+)?(.+?)\s*;?\s*$", rest, re.IGNORECASE | re.DOTALL)
    if not am:
        if re.match(r"^\s*RETURNS?\b", rest, re.IGNORECASE):
            return False  # Spark SQL UDF, not a DuckDB macro
        raise ValueError(f"CREATE MACRO {name}: expected AS <body>")
    params: list[tuple[str, str | None]] = []
    for p in _split_top_commas(stmt[open_idx + 1 : close]):
        dm = re.match(r"^([A-Za-z_]\w*)\s*:=\s*(.+)$", p, re.DOTALL)
        if dm:
            params.append((dm.group(1).lower(), dm.group(2).strip()))
        else:
            params.append((p.lower(), None))
    masked_body, body_table = _mask(am.group(2))
    state.macros[name] = Macro(params, masked_body, body_table, bool(am.group(1)))
    return True



def _materialize(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Eagerly materialize a DML result and truncate its lineage.
    localCheckpoint is the cheap path (columnar, stays JVM-side); Spark
    4.1's checkpoint re-analysis can hit `AttributeMap: key not found`
    when the plan unions a view that was itself swapped onto a prior
    checkpoint (multi-statement UPDATE→INSERT chains) — the fallback
    rebases the computed RDD onto a fresh LogicalRDD, which always
    carries clean attribute ids."""
    try:
        return df.localCheckpoint(eager=True)
    except Exception:
        return spark.createDataFrame(df.rdd, df.schema).localCheckpoint(
            eager=True
        )



def _count_frame(spark: SparkSession, n: int) -> DataFrame:
    """DuckDB's DML result shape: one BIGINT ``Count`` row."""
    from pyspark.sql import types as T

    return spark.createDataFrame(
        [(n,)], T.StructType([T.StructField("Count", T.LongType())])
    )



def _run_insert(spark: SparkSession, m: re.Match) -> DataFrame:
    """``INSERT [OR REPLACE|IGNORE] INTO t [(cols)] VALUES|SELECT …
    [ON CONFLICT …]`` against a temp view: append by union (or the
    ddl.py three-leg merge for the upsert forms), enforce declared
    constraints, re-materialize, swap the view. Init-phase only (serving
    stays read-only), mirroring the reference's boot-time-writes-then-
    serve model. Returns DuckDB's ``Count`` row."""
    from duckdb_server_spark import ddl

    or_action, name, col_list, by_name, body = m.groups()
    target = name.split(".")[-1]
    state = dialect_state(spark)
    body, returning = ddl.split_returning(body)
    body, conflict = ddl.split_on_conflict(body)
    if or_action:
        if conflict is not None:
            raise ValueError(
                "INSERT: OR REPLACE/IGNORE cannot be combined with "
                "ON CONFLICT"
            )
        conflict = ddl.or_action_conflict(or_action)
    if returning is not None and conflict is not None:
        raise ValueError(
            "INSERT: RETURNING with ON CONFLICT is not supported"
        )
    old = spark.table(target)
    new = ddl.build_insert_source(
        spark, state, target, old, col_list, body, by_name=bool(by_name)
    )
    if conflict is not None:
        return ddl.run_upsert(spark, state, target, old, new, conflict)
    # r17 (VERDICT r16 item 6): DuckDB's Count for a plain INSERT is the
    # number of appended rows — under UNION ALL that is count(new) by
    # construction, so the two full-table counts (old before, merged
    # after) are gone; the tag count rides the constraint-enforcement
    # aggregate, one action total. `new` itself only needs its own
    # materialization under RETURNING (its projection is evaluated
    # after the view swap); otherwise its lineage is evaluated exactly
    # once, inside merged's checkpoint — one fewer driver action per
    # INSERT.
    if returning is not None:
        new = _materialize(spark, new)
    merged = _materialize(
        spark,
        old.withColumn("__dd_tag_ins", F.lit(False)).unionByName(
            new.withColumn("__dd_tag_ins", F.lit(True))
        ),
    )
    counts = ddl.enforce_constraints(
        spark,
        state,
        target,
        merged,
        extras={"n_ins": F.count(F.when(F.col("__dd_tag_ins"), 1))},
    )
    merged.select(*old.columns).createOrReplaceTempView(target)
    if returning is not None:
        return ddl.project_returning(spark, new, returning)
    return _count_frame(spark, counts["n_ins"])



_DELETE_RE = re.compile(
    r"^\s*DELETE\s+FROM\s+([A-Za-z_][\w.]*)(\s+.+?)?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)

_TRUNCATE_RE = re.compile(
    r"^\s*TRUNCATE\s+(?:TABLE\s+)?([A-Za-z_][\w.]*)\s*;?\s*$", re.IGNORECASE
)

_UPDATE_RE = re.compile(
    r"^\s*UPDATE\s+([A-Za-z_][\w.]*)\s+SET\s+(.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)



def _run_delete(
    spark: SparkSession,
    target: str,
    cond: str | None,
    using: str | None = None,
    returning: str | None = None,
) -> DataFrame:
    """``DELETE FROM t [USING rel] [WHERE cond] [RETURNING …]`` /
    ``TRUNCATE t`` — copy-on-write: re-materialize the kept rows and
    swap the view, the same model as INSERT (and the only honest
    mutation over immutable parquet at any scale — Delta/Iceberg
    deletes are this exact rewrite plus a manifest). A NULL condition
    keeps the row, like DuckDB; USING keeps rows through a LEFT ANTI
    join on the predicate (the join shuffles on Catalyst's chosen keys,
    bodies move once). Returns the deleted ``Count`` (or the RETURNING
    projection over the deleted rows)."""
    from duckdb_server_spark import ddl

    name = target.split(".")[-1]
    old = spark.table(name)
    if using:
        if not cond:
            raise ValueError("DELETE USING requires a WHERE predicate")
        keep = _run_sql_late(
            spark,
            f"SELECT {name}.* FROM {name} LEFT ANTI JOIN {using} "
            f"ON ({cond})",
        )
        doomed_sql = (
            f"SELECT {name}.* FROM {name} LEFT SEMI JOIN {using} "
            f"ON ({cond})"
        )
    elif cond:
        # coalesce(cond, false) — NULL predicates delete nothing; the
        # condition text flows through the full dialect rewrite
        keep = _run_sql_late(
            spark,
            f"SELECT * FROM {name} "
            f"WHERE NOT coalesce(CAST((__dd_boolctx({cond})) AS BOOLEAN), false)",
        )
        doomed_sql = (
            f"SELECT * FROM {name} "
            f"WHERE coalesce(CAST((__dd_boolctx({cond})) AS BOOLEAN), false)"
        )
    else:
        keep = old.limit(0)
        doomed_sql = f"SELECT * FROM {name}"
    # r17 (VERDICT r16 item 6): keep/doomed partition the table exactly
    # (the coalesce(cond,false) split, the anti/semi USING pair, and the
    # limit(0)/all pair are each complements), so the deleted Count is
    # ONE count over the doomed predicate — the two full-table counts
    # (total before, kept after) are gone: 3 driver actions → 2. Under
    # RETURNING the count was never used — skipped outright.
    n_deleted = None
    if returning is None:
        n_deleted = _run_sql_late(
            spark, f"SELECT count(*) AS n FROM ({doomed_sql})"
        ).collect()[0][0]
    doomed = (
        _materialize(spark, _run_sql_late(spark, doomed_sql))
        if returning is not None
        else None
    )
    kept = _materialize(spark, keep)
    kept.createOrReplaceTempView(name)
    if returning is not None:
        return ddl.project_returning(spark, doomed, returning)
    return _count_frame(spark, n_deleted)



def _run_update(spark: SparkSession, m: re.Match) -> DataFrame:
    """``UPDATE t SET c = expr, … [FROM rel] [WHERE cond]
    [RETURNING …]`` — copy-on-write CASE projection over every row (the
    Delta/Iceberg update shape): assigned columns become ``CASE WHEN
    cond THEN expr ELSE c END``, the result re-materializes and swaps
    the view. The FROM (join-update) form routes to ddl.run_update_from
    — a row-id keyed join that fails closed on ambiguous multi-matches.
    Returns the matched ``Count`` (or the RETURNING projection over the
    post-update matched rows)."""
    from pyspark.sql import functions as F

    from duckdb_server_spark import ddl

    target = m.group(1).split(".")[-1]
    masked, table = _mask(m.group(2))
    clauses = ddl.split_clauses(masked, ("FROM", "WHERE", "RETURNING"))
    assigns_m = clauses[None]
    cond = (
        _unmask(clauses["WHERE"], table) if clauses.get("WHERE") else None
    )
    returning = (
        _unmask(clauses["RETURNING"], table)
        if clauses.get("RETURNING")
        else None
    )
    if clauses.get("FROM"):
        return ddl.run_update_from(
            spark,
            dialect_state(spark),
            target,
            _unmask(assigns_m, table),
            _unmask(clauses["FROM"], table),
            cond,
            returning,
        )
    old = spark.table(target)
    by_lower = {c.lower(): c for c in old.columns}
    assigns: dict[str, str] = {}
    for item in _split_top_commas(assigns_m):
        am = re.match(r'^\s*"?([A-Za-z_]\w*)"?\s*=\s*(.+)$', item, re.DOTALL)
        if not am:
            raise ValueError("UPDATE expects col = expr assignments")
        col = am.group(1).lower()
        if col not in by_lower:
            raise ValueError(f"UPDATE: unknown column {am.group(1)!r}")
        assigns[col] = _unmask(am.group(2).strip(), table)
    projs = []
    for c in old.columns:
        e = assigns.get(c.lower())
        if e is None:
            projs.append(f"`{c}`")
        elif cond:
            projs.append(
                f"CASE WHEN coalesce(CAST((__dd_boolctx({cond})) AS BOOLEAN), false) "
                f"THEN ({e}) ELSE `{c}` END AS `{c}`"
            )
        else:
            projs.append(f"({e}) AS `{c}`")
    # r17 (VERDICT r16 item 6): the matched Count is only the statement's
    # result when there is no RETURNING clause — skip the count action
    # entirely under RETURNING (the post-image materialization evaluates
    # the same predicate anyway).
    n = None
    if returning is None:
        n = _run_sql_late(
            spark,
            f"SELECT count(*) AS n FROM {target}"
            + (
                f" WHERE coalesce(CAST((__dd_boolctx({cond})) AS BOOLEAN), false)"
                if cond
                else ""
            ),
        ).collect()[0][0]
    meta = dialect_state(spark).tables.get(target.lower())
    if meta is not None:
        for col in assigns:
            if col in meta.generated:
                raise ValueError(
                    f"Binder Error: Cannot update a generated column "
                    f"{col!r}"
                )
    post = None
    if returning is not None:
        # the post-update image of the matched rows, captured pre-swap
        post_projs = [
            f"({assigns[c.lower()]}) AS `{c}`"
            if c.lower() in assigns
            else f"`{c}`"
            for c in old.columns
        ]
        post_sql = f"SELECT {', '.join(post_projs)} FROM {target}"
        if cond:
            post_sql += f" WHERE coalesce(CAST((__dd_boolctx({cond})) AS BOOLEAN), false)"
        post = _materialize(spark, _run_sql_late(spark, post_sql))
    new = _run_sql_late(spark, f"SELECT {', '.join(projs)} FROM {target}")
    new = new.select(
        *[F.col(c).cast(old.schema[c].dataType) for c in old.columns]
    )
    new = _materialize(
        spark,
        ddl.apply_generated(spark, dialect_state(spark), target, new, old),
    )
    new.createOrReplaceTempView(target)
    if returning is not None:
        return ddl.project_returning(spark, post, returning)
    return _count_frame(spark, n)



def _run_copy(spark: SparkSession, m: re.Match) -> None:
    """DuckDB ``COPY <table|(query)> TO 'path' (FORMAT ..., HEADER, ...)``
    → a Spark DataFrame write (the init-phase export path; serving-time
    queries stay read-only — COPY only routes through run_script /
    execute_statement, same as the reference writing only at boot).
    Format from the FORMAT option, else the path suffix; parquet/csv/json
    supported, single-file semantics via coalesce(1) to mirror DuckDB's
    one-file output."""
    src, path_lit, opts = m.groups()
    path = path_lit[1:-1].replace("''", "'")
    opts_l = (opts or "").lower()
    fmt_m = re.search(r"format\s+(\w+)", opts_l)
    fmt = fmt_m.group(1) if fmt_m else path.rsplit(".", 1)[-1].lower()
    if fmt not in ("parquet", "csv", "json"):
        raise ValueError(f"COPY TO: unsupported format {fmt!r}")
    df = (
        _run_sql_late(spark, src[1:-1]) if src.startswith("(") else spark.table(src)
    )
    # PARTITION_BY → hive-layout directory write (dir/col=value/…), byte
    # and layout compatible with DuckDB's own partitioned COPY and with
    # read_parquet(..., hive_partitioning=true) on either engine. This is
    # the 100 TB sink shape: partitioned writes parallelize per partition
    # value, so no coalesce(1) — DuckDB's single-file contract applies
    # only to the unpartitioned form.
    pb = re.search(
        r"partition_by\s*(?:\(([^)]*)\)|([A-Za-z_]\w*))", opts or "",
        re.IGNORECASE,
    )
    if pb:
        cols = [
            c.strip().strip('"')
            for c in (pb.group(1) or pb.group(2)).split(",")
            if c.strip()
        ]
        writer = df.write.mode("overwrite").partitionBy(*cols)
    else:
        writer = df.coalesce(1).write.mode("overwrite")
    cm = re.search(r"compression\s+'?(\w+)'?", opts_l)
    if cm and cm.group(1) != "auto":
        writer = writer.option("compression", cm.group(1))
    if fmt == "csv":
        # DuckDB COPY TO csv writes a header unless HEADER false.
        header = "header false" not in opts_l and "header 0" not in opts_l
        writer = writer.option("header", "true" if header else "false")
        dm = re.search(r"(?:delimiter|delim|sep)\s+'([^']*)'", opts or "",
                       re.IGNORECASE)
        if dm:
            writer = writer.option("sep", dm.group(1))
    if pb:
        getattr(writer, fmt)(path)
        return
    # round 15 (hunt H wave 5): DuckDB's unpartitioned COPY TO writes a
    # single plain FILE at the path — Spark's coalesce(1) still leaves
    # a directory with one part file, which breaks any downstream tool
    # (DuckDB included) that opens the path as a file. Write to a side
    # directory and move the part file into place (local-path,
    # init-phase export only — the serving path never writes).
    import glob as _glob
    import os as _os
    import shutil as _shutil

    # r16 (ADVICE r15 item 5): tmp dir is removed on EVERY exit path
    # (the zero-part-file assertion previously leaked it), and a
    # pre-existing DIRECTORY at the target is only replaced when it is
    # recognizably a previous engine/Spark write (part files or a
    # _SUCCESS marker) — DuckDB errors writing a file over a foreign
    # directory, so we refuse rather than rmtree user data.
    tmp_dir = path + ".__dd_copy_tmp__"
    try:
        getattr(writer, fmt)(tmp_dir)
        parts = sorted(_glob.glob(_os.path.join(tmp_dir, "part-*")))
        if len(parts) != 1:
            raise ValueError(
                f"COPY TO: expected one part file, found {len(parts)}"
            )
        if _os.path.isdir(path):
            spark_written = _os.path.exists(
                _os.path.join(path, "_SUCCESS")
            ) or _glob.glob(_os.path.join(path, "part-*"))
            if not spark_written and _os.listdir(path):
                raise ValueError(
                    f"COPY TO: {path!r} is an existing directory not "
                    "written by this engine — refusing to overwrite"
                )
            _shutil.rmtree(path)
        _os.replace(parts[0], path)
    finally:
        _shutil.rmtree(tmp_dir, ignore_errors=True)



def _strip_quotes(v: str) -> str:
    v = v.strip()
    if len(v) >= 2 and v[0] == v[-1] and v[0] in "'\"":
        return v[1:-1].replace(v[0] * 2, v[0])
    return v


def _apply_setting(state: DialectState, name: str, value: str) -> None:
    """Route one engine-setting assignment (SET or PRAGMA-assignment
    form). r16 (ADVICE r15 item 3): ``duckdb_version_semantics`` is
    validated HERE — the SET statement itself errors on a non-version
    value, like DuckDB's typed settings, instead of deferring the
    DialectError to whatever query happens to run next."""
    if name == "duckdb_version_semantics":
        try:
            tuple(int(x) for x in value.split(".")[:2])
        except ValueError:
            raise ValueError(
                f"SET duckdb_version_semantics: {value!r} is not a "
                "DuckDB version (expected e.g. '1.0' or '1.4')"
            ) from None
    state.settings[name] = value



def _apply_secret(spark: SparkSession, state: DialectState, stmt: str, name: str | None) -> None:
    open_idx = stmt.index("(")
    close = _matching_paren(stmt, open_idx)
    kv: dict[str, str] = {}
    for item in _split_top_commas(stmt[open_idx + 1 : close]):
        km = re.match(r"^([A-Za-z_]\w*)\s+(.+)$", item.strip(), re.DOTALL)
        if km:
            kv[km.group(1).lower()] = _strip_quotes(km.group(2))
    # Unnamed secrets key on their content so re-running an init script is
    # idempotent (DuckDB's CREATE PERSISTENT SECRET re-run is too).
    key = name or "__secret_" + "%08x" % (hash(tuple(sorted(kv.items()))) & 0xFFFFFFFF)
    state.secrets[key] = kv
    if kv.get("type", "").lower() == "s3":
        # The reference's S3 secret wires httpfs (k8s/main.yaml:110-125);
        # the Spark analog is hadoop-s3a conf on the live session.
        hconf = spark.sparkContext._jsc.hadoopConfiguration()
        if "key_id" in kv:
            hconf.set("fs.s3a.access.key", kv["key_id"])
        if "secret" in kv:
            hconf.set("fs.s3a.secret.key", kv["secret"])
        if "endpoint" in kv:
            hconf.set("fs.s3a.endpoint", kv["endpoint"])
        if kv.get("use_ssl", "").lower() in ("false", "0"):
            hconf.set("fs.s3a.connection.ssl.enabled", "false")
        if kv.get("url_style", "").lower() == "path":
            hconf.set("fs.s3a.path.style.access", "true")



def _txn_record(spark: SparkSession, state: DialectState, name: str) -> None:
    """First-touch snapshot of a relation inside an open transaction.
    Dataset creation analyzes eagerly, so the captured DataFrame pins the
    relation's CURRENT plan — later view swaps cannot retarget it."""
    if state.txn_undo is None:
        return
    key = name.split(".")[-1]
    if key in state.txn_undo:
        return
    try:
        prior = spark.table(key) if spark.catalog.tableExists(key) else None
    except Exception:
        prior = None
    state.txn_undo[key] = prior



_BEGIN_RE = re.compile(r"^\s*BEGIN(\s+TRANSACTION)?\s*;?\s*$", re.IGNORECASE)

_COMMIT_RE = re.compile(
    r"^\s*(?:COMMIT|END)(\s+TRANSACTION)?\s*;?\s*$", re.IGNORECASE
)

_ROLLBACK_RE = re.compile(
    r"^\s*(?:ROLLBACK|ABORT)(\s+TRANSACTION)?\s*;?\s*$", re.IGNORECASE
)

_CREATE_INDEX_RE = re.compile(
    r"^\s*CREATE\s+(?:UNIQUE\s+)?INDEX\s+(?:IF\s+NOT\s+EXISTS\s+)?"
    r"([A-Za-z_]\w*)\s+ON\s+([A-Za-z_][\w.]*)",
    re.IGNORECASE,
)

_DROP_INDEX_RE = re.compile(
    r"^\s*DROP\s+INDEX\s+(?:IF\s+EXISTS\s+)?([A-Za-z_]\w*)\s*;?\s*$",
    re.IGNORECASE,
)

_VACUUM_RE = re.compile(
    r"^\s*(?:VACUUM|ANALYZE)(?:\s+[A-Za-z_][\w.]*)?\s*;?\s*$", re.IGNORECASE
)

_COMMENT_RE = re.compile(
    r"^\s*COMMENT\s+ON\s+(TABLE|VIEW|COLUMN)\s+([A-Za-z_][\w.]*)\s+IS\s+"
    r"('(?:[^']|'')*'|NULL)\s*;?\s*$",
    re.IGNORECASE,
)

_ALTER_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(IF\s+EXISTS\s+)?([A-Za-z_][\w.]*)\s+(.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)

_EXPORT_DB_RE = re.compile(
    r"^\s*EXPORT\s+DATABASE\s+'([^']+)'\s*(?:\([^)]*\))?\s*;?\s*$",
    re.IGNORECASE,
)

_IMPORT_DB_RE = re.compile(
    r"^\s*IMPORT\s+DATABASE\s+'([^']+)'\s*;?\s*$", re.IGNORECASE
)


def _run_alter(spark: SparkSession, state: DialectState, m: re.Match) -> None:
    """``ALTER TABLE t RENAME TO | RENAME COLUMN | ADD COLUMN | DROP
    COLUMN | ALTER COLUMN … TYPE`` over the temp-view warehouse: each
    form swaps the view onto a LAZY projection of the current relation
    (Catalyst collapses stacked projections, so repeated ALTERs cost one
    projection at scan time — never a rewrite of the data)."""
    from pyspark.sql import functions as F

    if_exists, target, action = m.groups()
    name = target.split(".")[-1]
    if not spark.catalog.tableExists(name):
        if if_exists:
            return
        raise ValueError(f"ALTER TABLE: relation {target!r} does not exist")
    _txn_record(spark, state, name)
    df = spark.table(name)
    by_lower = {c.lower(): c for c in df.columns}
    act = action.strip()
    if rt := re.match(r'(?i)^RENAME\s+TO\s+"?([A-Za-z_]\w*)"?$', act):
        newname = rt.group(1)
        _txn_record(spark, state, newname)
        df.createOrReplaceTempView(newname)
        spark.catalog.dropTempView(name)
        return
    if rc := re.match(
        r'(?i)^RENAME\s+(?:COLUMN\s+)?"?([A-Za-z_]\w*)"?\s+TO\s+"?([A-Za-z_]\w*)"?$',
        act,
    ):
        old_c, new_c = rc.groups()
        if old_c.lower() not in by_lower:
            raise ValueError(f"ALTER TABLE: unknown column {old_c!r}")
        df.withColumnRenamed(by_lower[old_c.lower()], new_c).createOrReplaceTempView(name)
        return
    if ac := re.match(
        r'(?i)^ADD\s+(?:COLUMN\s+)?(IF\s+NOT\s+EXISTS\s+)?"?([A-Za-z_]\w*)"?\s+'
        r"([A-Za-z_]\w*(?:\s*\(\s*\d+\s*(?:,\s*\d+\s*)?\))?)"
        r"(?:\s+DEFAULT\s+(.+))?$",
        act,
        re.DOTALL,
    ):
        if_nx, col, typ, dflt = ac.groups()
        if col.lower() in by_lower:
            if if_nx:
                return
            raise ValueError(f"ALTER TABLE: column {col!r} already exists")
        # DuckDB fills existing rows with the DEFAULT (NULL without one)
        expr = F.expr(f"CAST({dflt or 'NULL'} AS {spark_type(typ) or typ})")
        df.withColumn(col, expr).createOrReplaceTempView(name)
        return
    if dc := re.match(
        r'(?i)^DROP\s+(?:COLUMN\s+)?(IF\s+EXISTS\s+)?"?([A-Za-z_]\w*)"?$', act
    ):
        if_ex, col = dc.groups()
        if col.lower() not in by_lower:
            if if_ex:
                return
            raise ValueError(f"ALTER TABLE: unknown column {col!r}")
        df.drop(by_lower[col.lower()]).createOrReplaceTempView(name)
        return
    if at := re.match(
        r'(?i)^ALTER\s+(?:COLUMN\s+)?"?([A-Za-z_]\w*)"?\s+'
        r"(?:SET\s+DATA\s+)?TYPE\s+(.+)$",
        act,
        re.DOTALL,
    ):
        col, typ = at.groups()
        if col.lower() not in by_lower:
            raise ValueError(f"ALTER TABLE: unknown column {col!r}")
        real = by_lower[col.lower()]
        df.withColumn(real, F.col(real).cast(spark_type(typ) or typ)).createOrReplaceTempView(name)
        return
    raise ValueError(f"unsupported ALTER TABLE action: {act!r}")



def _run_export_db(spark: SparkSession, target_dir: str) -> None:
    """``EXPORT DATABASE 'dir'`` — every user relation written as a
    parquet directory (parallel writers, Spark's own split layout — no
    single-file coalesce) plus a ``load.sql`` of CREATE OR REPLACE TABLE
    … read_parquet() statements. The glob-spelled load script runs back
    through THIS engine's IMPORT DATABASE **and** verbatim in DuckDB, so
    the export is a cross-engine backup."""
    import os

    os.makedirs(target_dir, exist_ok=True)
    names = [r.name for r in show_tables_frame(spark).collect()]
    lines = []
    for nm in names:
        out = os.path.join(target_dir, f"{nm}.parquet")
        spark.table(nm).write.mode("overwrite").parquet(out)
        lines.append(
            f"CREATE OR REPLACE TABLE {nm} AS "
            f"SELECT * FROM read_parquet('{out}/*.parquet');"
        )
    with open(os.path.join(target_dir, "load.sql"), "w") as f:
        f.write("\n".join(lines) + "\n")



def _run_import_db(spark: SparkSession, source_dir: str) -> None:
    import os

    path = os.path.join(source_dir, "load.sql")
    if not os.path.exists(path):
        raise ValueError(f"IMPORT DATABASE: no load.sql under {source_dir!r}")
    with open(path) as f:
        run_script(spark, f.read())



def execute_statement(spark: SparkSession, stmt: str) -> DataFrame | None:
    """Route one DuckDB statement. Management statements (SET / INSTALL /
    LOAD / CREATE SECRET) map to engine state and return None; queries and
    views go through :func:`run_sql` / temp-view creation."""
    state = dialect_state(spark)
    if _BEGIN_RE.match(stmt):
        if state.txn_undo is not None:
            raise ValueError("cannot start a transaction within a transaction")
        import copy

        state.txn_undo = {}
        # plain-data registries (no DataFrames) — deep-copied so in-place
        # mutation (ALTER, nextval) can't reach into the snapshot
        state.txn_ddl_undo = copy.deepcopy(
            {
                "tables": state.tables,
                "sequences": state.sequences,
                "enums": state.enums,
                "enum_columns": state.enum_columns,
                "schemas": state.schemas,
                "indexes": state.indexes,
                "comments": state.comments,
            }
        )
        return None
    if _COMMIT_RE.match(stmt):
        if state.txn_undo is None:
            raise ValueError("no transaction is active")
        state.txn_undo = None
        state.txn_ddl_undo = None
        return None
    if _ROLLBACK_RE.match(stmt):
        if state.txn_undo is None:
            raise ValueError("no transaction is active")
        for nm, prior in state.txn_undo.items():
            if prior is None:
                spark.catalog.dropTempView(nm)
            else:
                prior.createOrReplaceTempView(nm)
        if state.txn_ddl_undo is not None:
            state.tables = state.txn_ddl_undo["tables"]
            # sequence EXISTENCE is transactional but the counter is not
            # (DuckDB/Postgres: nextval advancement survives ROLLBACK) —
            # restore the snapshot's catalog, keep live counters
            restored = state.txn_ddl_undo["sequences"]
            for nm, seq in restored.items():
                live = state.sequences.get(nm)
                if live is not None:
                    seq.current = live.current
            state.sequences = restored
            state.enums = state.txn_ddl_undo["enums"]
            state.enum_columns = state.txn_ddl_undo["enum_columns"]
            state.schemas = state.txn_ddl_undo["schemas"]
            state.indexes = state.txn_ddl_undo["indexes"]
            state.comments = state.txn_ddl_undo["comments"]
        state.txn_undo = None
        state.txn_ddl_undo = None
        return None
    if m := _SET_RE.match(stmt):
        _apply_setting(state, m.group(1).lower(), _strip_quotes(m.group(2)))
        return None
    if m := _PRAGMA_RE.match(stmt):
        return _run_pragma(
            spark, state, m.group(1).lower(), m.group(2), m.group(3)
        )
    if _CHECKPOINT_RE.match(stmt):
        return None  # durability is the parquet warehouse's concern
    if m := _ATTACH_RE.match(stmt):
        path, alias, opts = m.groups()
        if alias is None:
            import os as _os

            alias = _os.path.splitext(_os.path.basename(path))[0]
        opts_l = (opts or "").lower()
        if "type airport" in opts_l:
            # the k8s sidecar topology: remote catalog over Flight
            from duckdb_server_spark.sources.remote import (
                attach_flight_catalog,
            )

            lm = re.search(r"location\s+'([^']+)'", opts or "", re.IGNORECASE)
            if not lm:
                raise ValueError("ATTACH (TYPE AIRPORT) needs a location")
            attach_flight_catalog(spark, lm.group(1), prefix=f"{alias}_")
            return None
        from duckdb_server_spark.engine import attach_warehouse

        attach_warehouse(spark, path, alias)
        return None
    if m := _DETACH_RE.match(stmt):
        spark.sql(f"DROP DATABASE IF EXISTS {m.group(1)} CASCADE")
        return None
    if m := _INSTALL_RE.match(stmt):
        if m.group(1).lower() not in state.installed:
            state.installed.append(m.group(1).lower())
        return None
    if m := _LOAD_RE.match(stmt):
        ext = m.group(1).lower()
        if ext not in state.installed:
            state.installed.append(ext)
        if ext not in state.loaded:
            state.loaded.append(ext)
        return None
    if m := _SECRET_RE.match(stmt):
        _apply_secret(spark, state, stmt, m.group(1))
        return None
    if m := _COPY_RE.match(stmt):
        _run_copy(spark, m)
        return None
    if m := _COPY_FROM_RE.match(stmt):
        _txn_record(spark, state, m.group(1))
        _run_copy_from(spark, m)
        return None
    if (m := _MACRO_RE.match(stmt)) and _register_macro(state, stmt, m):
        return None
    if m := _DROP_MACRO_RE.match(stmt):
        name = m.group(2).lower()
        mac = state.macros.get(name)
        if mac is not None and bool(m.group(1)) != bool(mac.is_table):
            raise ValueError(
                f"DROP MACRO: {name} is a "
                f"{'TABLE' if mac.is_table else 'scalar'} macro — "
                f"{'add' if mac.is_table else 'drop'} the TABLE keyword"
            )
        state.macros.pop(name, None)
        return None
    if m := _DROP_RELATION_RE.match(stmt):
        _txn_record(spark, state, m.group(2))
        dropped = spark.catalog.dropTempView(m.group(2).split(".")[-1])
        if not dropped and not m.group(1):
            raise ValueError(f"DROP: relation {m.group(2)!r} does not exist")
        from duckdb_server_spark import ddl

        ddl.forget_table(state, m.group(2))
        return None
    if m := _INSERT_RE.match(stmt):
        _txn_record(spark, state, m.group(2))
        df = _run_insert(spark, m)
        return df
    if m := _CREATE_SEQ_RE.match(stmt):
        from duckdb_server_spark import ddl

        name = m.group(3).split(".")[-1].lower()
        if name in state.sequences and m.group(2) and not m.group(1):
            return None  # IF NOT EXISTS
        state.sequences[name] = ddl.parse_create_sequence(m.group(4))
        return None
    if m := _DROP_SEQ_RE.match(stmt):
        name = m.group(2).split(".")[-1].lower()
        if name not in state.sequences and not m.group(1):
            raise ValueError(
                f"Catalog Error: Sequence with name {name} does not exist!"
            )
        state.sequences.pop(name, None)
        return None
    if m := _CREATE_TYPE_RE.match(stmt):
        members = []
        masked, table = _mask(m.group(2))
        for item in _split_top_commas(masked):
            tok = re.fullmatch(r"\x00(\d+)\x00", item.strip())
            lit = _literal_value(table[int(tok.group(1))]) if tok else None
            if lit is None:
                raise ValueError("CREATE TYPE: enum members must be strings")
            members.append(lit)
        state.enums[m.group(1).split(".")[-1].lower()] = members
        return None
    if m := _CREATE_SCHEMA_RE.match(stmt):
        state.schemas.add(m.group(2).lower())
        return None
    if m := _DROP_SCHEMA_RE.match(stmt):
        name = m.group(2).lower()
        if name not in state.schemas and not m.group(1):
            raise ValueError(
                f"Catalog Error: Schema with name {name} does not exist!"
            )
        state.schemas.discard(name)
        return None
    if m := _USE_RE.match(stmt):
        name = m.group(1).split(".")[-1].lower()
        if name not in state.schemas and name not in ("main", "memory"):
            raise ValueError(
                f"Catalog Error: SET schema: No catalog + schema named "
                f'"{m.group(1)}" found.'
            )
        return None
    if m := _DROP_TYPE_RE.match(stmt):
        name = m.group(2).split(".")[-1].lower()
        if name not in state.enums and not m.group(1):
            raise ValueError(
                f"Catalog Error: Type with name {name} does not exist!"
            )
        state.enums.pop(name, None)
        return None
    if m := _DELETE_RE.match(stmt):
        from duckdb_server_spark import ddl

        _txn_record(spark, state, m.group(1))
        masked, tbl = _mask(m.group(2) or "")
        clauses = ddl.split_clauses(masked, ("USING", "WHERE", "RETURNING"))
        if clauses[None].strip():
            raise ValueError(
                f"DELETE: unsupported clause {_unmask(clauses[None], tbl)!r}"
            )
        df = _run_delete(
            spark,
            m.group(1),
            _unmask(clauses["WHERE"], tbl) if clauses.get("WHERE") else None,
            _unmask(clauses["USING"], tbl) if clauses.get("USING") else None,
            _unmask(clauses["RETURNING"], tbl)
            if clauses.get("RETURNING")
            else None,
        )
        return df
    if m := _TRUNCATE_RE.match(stmt):
        _txn_record(spark, state, m.group(1))
        df = _run_delete(spark, m.group(1), None)
        return df
    if m := _UPDATE_RE.match(stmt):
        _txn_record(spark, state, m.group(1))
        df = _run_update(spark, m)
        return df
    if m := _ALTER_RE.match(stmt):
        _run_alter(spark, state, m)
        return None
    if m := _CREATE_INDEX_RE.match(stmt):
        # an index is a performance hint here — results never depend on
        # it; recorded so clients' CREATE/DROP INDEX round-trips succeed
        state.indexes[m.group(1).lower()] = m.group(2).split(".")[-1].lower()
        return None
    if m := _DROP_INDEX_RE.match(stmt):
        state.indexes.pop(m.group(1).lower(), None)
        return None
    if _VACUUM_RE.match(stmt):
        return None  # storage upkeep is the parquet warehouse's concern
    if m := _COMMENT_RE.match(stmt):
        val = m.group(3)
        key = f"{m.group(1).lower()}:{m.group(2).split('.')[-1].lower()}"
        state.comments[key] = (
            None if val.upper() == "NULL" else _strip_quotes(val)
        )
        return None
    if m := _EXPORT_DB_RE.match(stmt):
        _run_export_db(spark, m.group(1))
        return None
    if m := _IMPORT_DB_RE.match(stmt):
        _run_import_db(spark, m.group(1))
        return None
    if m := _PREPARE_RE.match(stmt):
        state.prepared[m.group(1).lower()] = m.group(2)
        return None
    if m := _DEALLOCATE_RE.match(stmt):
        state.prepared.pop(m.group(1).lower(), None)
        return None
    if m := _EXECUTE_RE.match(stmt):
        return _run_execute(spark, m)
    if m := _VIEW_RE.match(stmt):
        # Persistent CREATE VIEW would need a metastore and cannot
        # reference the temp-view warehouse; serve it as a temp view —
        # equivalent within one engine lifetime (the reference recreates
        # its views from the init script on every boot anyway).
        name, body = m.group(1), m.group(2)
        _txn_record(spark, state, name)
        df = _run_sql_late(spark, body)
        df.createOrReplaceTempView(name.split(".")[-1])
        return None
    if m := _TABLE_DDL_RE.match(stmt):
        from duckdb_server_spark import ddl

        _txn_record(spark, state, m.group(3))
        ddl.run_create_table(
            spark,
            state,
            m.group(3),
            m.group(4),
            or_replace=bool(m.group(1)),
            if_not_exists=bool(m.group(2)),
        )
        return None
    if m := _TABLE_AS_RE.match(stmt):
        # CREATE TABLE AS during init: materialize the query once
        # (localCheckpoint — table semantics, not a re-executing view)
        # and serve it under the name. Durable managed-table storage is
        # Engine.create_table; init scripts only need the name to exist
        # for the serving lifetime, like the reference's boot-time
        # duckdb.db writes.
        name, body = m.group(1), m.group(2)
        _txn_record(spark, state, name)
        df = _materialize(spark, _run_sql_late(spark, body))
        df.createOrReplaceTempView(name.split(".")[-1])
        return None
    return _run_sql_late(spark, stmt)



def run_script(spark: SparkSession, script: str) -> list[DataFrame | None]:
    """Execute a DuckDB init script verbatim (k8s/main.yaml:100-135)."""
    return [execute_statement(spark, s) for s in split_statements(script)]



# ---------------------------------------------------------------------------
# file-reading table functions (read_parquet / read_csv / FROM 'x.parquet')
# ---------------------------------------------------------------------------
#
# DuckDB's headline idiom — and therefore the reference's, since every
# ticket is verbatim DuckDB SQL (main.go:199) — is querying files in
# place: ``SELECT * FROM read_parquet('s3://bucket/*.parquet')`` or the
# bare-path shorthand ``FROM 'data.parquet'``. Spark has no table-function
# spelling for this, so each call site is resolved to a cached temp view
# backed by the matching ``spark.read`` source (the scan stays a native
# DataSource v2 scan: pushdown/pruning apply untouched; a glob fans out to
# a multi-file scan partitioned by Spark's own split planning).

_READ_FNS = {
    "read_parquet": "parquet",
    "parquet_scan": "parquet",
    "read_csv_auto": "csv",
    "read_csv": "csv",
    "read_json_auto": "json",
    "read_json": "json",
    "read_ndjson_auto": "json",
    "read_ndjson": "json",
}

_READ_FN_RE = re.compile(
    r"\b(" + "|".join(_READ_FNS) + r")\s*\(", re.IGNORECASE
)

# Cheap pre-check on the raw SQL so native queries never pay for masking.
_FILE_READ_HINT_RE = re.compile(
    r"\bread_\w+\s*\(|\bparquet_scan\s*\(|\b(?:FROM|JOIN)\s+glob\s*\("
    r"|'[^']*\.(?:parquet|pq|csv|tsv|json|jsonl|ndjson)(?:\.(?:gz|zst))?'",
    re.IGNORECASE,
)

_FILE_SUFFIX_FMT = {
    "parquet": "parquet", "pq": "parquet",
    "csv": "csv", "tsv": "csv",
    "json": "json", "jsonl": "json", "ndjson": "json",
}

_BARE_PATH_RE = re.compile(r"\b(FROM|JOIN)\s+(\x00\d+\x00)", re.IGNORECASE)



def _truthy(v: str | None, default: bool = False) -> bool:
    if v is None:
        return default
    return v.strip().lower() in ("true", "1", "yes", "on")



def _path_format(path: str) -> str | None:
    base = re.sub(r"\.(gz|zst)$", "", path.strip().lower())
    ext = base.rsplit(".", 1)[-1] if "." in base else ""
    return _FILE_SUFFIX_FMT.get(ext)



def _sniff_csv(paths: list[str]) -> tuple[str, bool]:
    """Dialect sniffing over the first matching file's head (≤16 KB,
    ≤20 lines), DuckDB-style: the delimiter is the candidate
    (, ; tab |) with a consistent nonzero per-line count — highest count
    wins ties — and the file has a header when no first-line field
    parses as a number. Deliberately ONE-sided: DuckDB 1.0's sniffer also
    promotes the first row of an all-VARCHAR file to a header (its
    header check is "does the first row cast to the body's types" —
    everything casts to VARCHAR), so requiring a numeric body line would
    diverge (pinned differentially in tests/test_r9_advice.py). Explicit
    options always override the sniff."""
    import glob as _glob
    import os as _os

    f = None
    for p in paths:
        hits = sorted(_glob.glob(p)) or (
            [p] if _os.path.exists(p) else []
        )
        if hits:
            f = hits[0]
            break
    if f is None or _os.path.isdir(f):
        return ",", True
    try:
        with open(f, "r", errors="replace") as fh:
            lines = [ln for ln in fh.read(16384).splitlines() if ln][:20]
    except OSError:
        return ",", True
    if not lines:
        return ",", True
    best, best_count = ",", 0
    for cand in (",", ";", "\t", "|"):
        counts = [ln.count(cand) for ln in lines]
        if counts[0] > 0 and all(c == counts[0] for c in counts):
            if counts[0] > best_count:
                best, best_count = cand, counts[0]

    def _is_num(tok: str) -> bool:
        try:
            float(tok.strip().strip('"'))
            return True
        except ValueError:
            return False

    first = lines[0].split(best)
    header = not any(_is_num(t) for t in first if t.strip())
    return best, header



def _file_read_view(
    spark: SparkSession, fmt: str, paths: tuple[str, ...], opts: dict[str, str]
) -> str:
    """Register (once) and return a temp view over ``spark.read`` for the
    given files. The view name is a digest of (format, paths, options), so
    repeated queries against the same files reuse the registration — for
    csv that also amortizes the one-time inferSchema sampling pass."""
    import hashlib

    from pyspark.sql import functions as F

    key = hashlib.md5(
        repr((fmt, paths, tuple(sorted(opts.items())))).encode()
    ).hexdigest()[:12]
    name = f"__dd_read_{key}"
    if spark.catalog.tableExists(name):
        _track_temp_view(spark, name)
        return name
    if any(p.startswith("s3://") for p in paths):
        # httpfs analog (S8): resolve through the CREATE SECRET store —
        # signed GETs spool into a local ETag-keyed cache; on a real
        # cluster with hadoop-aws jars the s3a conf path scans directly
        from duckdb_server_spark.sources.s3 import resolve_s3_paths

        paths = resolve_s3_paths(paths, dialect_state(spark).secrets)
    path_list = list(paths)

    def _hive_base(reader):
        # hive_partitioning=true: Spark infers dt=… directory columns
        # only under an explicit basePath when the paths are globs — use
        # the longest non-glob directory prefix
        if not _truthy(opts.get("hive_partitioning")):
            return reader
        import os as _os

        base = path_list[0]
        gm = re.search(r"[*?\[]", base)
        if gm:
            base = base[: gm.start()]
        if not base.endswith("/"):
            base = _os.path.dirname(base)
        return reader.option("basePath", base)

    if fmt == "parquet":
        reader = _hive_base(spark.read)
        if _truthy(opts.get("union_by_name")):
            reader = reader.option("mergeSchema", "true")
        df = reader.parquet(*path_list)
    elif fmt == "csv":
        sep = opts.get("delim") or opts.get("sep") or opts.get("delimiter")
        header_opt = opts.get("header")
        if sep is None or header_opt is None:
            # DuckDB's read_csv(_auto) SNIFFS the dialect; defaulting to
            # comma+header silently mis-parses ';'/tab files and eats
            # the first row of headerless data
            sniff_sep, sniff_header = _sniff_csv(path_list)
            sep = sep or sniff_sep
        header = (
            _truthy(header_opt, default=True)
            if header_opt is not None
            else sniff_header
        )
        reader = (
            spark.read.option("header", header)
            .option("sep", sep)
        )
        # pass-through option spellings with a direct Spark equivalent
        for duck_key, spark_key in (
            ("quote", "quote"), ("escape", "escape"),
            ("nullstr", "nullValue"), ("null_padding", None),
            ("dateformat", "dateFormat"),
            ("timestampformat", "timestampFormat"),
        ):
            if spark_key and duck_key in opts:
                reader = reader.option(spark_key, opts[duck_key])
        if _truthy(opts.get("ignore_errors")):
            reader = reader.option("mode", "DROPMALFORMED")
        if "columns" in opts:
            # columns={'name': 'TYPE', …} → explicit schema (DuckDB type
            # spellings translated); disables inference entirely
            spec = opts["columns"].strip()
            if not (spec.startswith("{") and spec.endswith("}")):
                raise ValueError("read_csv(columns=...) expects {'c': 'TYPE'}")
            fields = []
            for item in _split_top_commas(spec[1:-1]):
                km = re.match(
                    r"^\s*'([^']+)'\s*:\s*'([^']+)'\s*$", item
                )
                if not km:
                    raise ValueError(
                        f"read_csv(columns=...): bad entry {item.strip()!r}"
                    )
                fields.append(
                    f"`{km.group(1)}` {spark_type(km.group(2)) or km.group(2)}"
                )
            reader = _hive_base(reader.schema(", ".join(fields)))
            df = reader.csv(path_list)
        else:
            reader = _hive_base(
                reader.option(
                    "inferSchema", not _truthy(opts.get("all_varchar"))
                )
            )
            df = reader.csv(path_list)
        if not header and "columns" not in opts:
            # DuckDB's headerless column names are column0..columnN
            # (Spark's are _c0.._cN)
            df = df.toDF(*[f"column{i}" for i in range(len(df.columns))])
        if "names" in opts:
            spec = opts["names"].strip()
            if not (spec.startswith("[") and spec.endswith("]")):
                raise ValueError("read_csv(names=...) expects ['a', 'b', …]")
            names_list = [
                _strip_quotes(x.strip())
                for x in _split_top_commas(spec[1:-1])
            ]
            if len(names_list) > len(df.columns):
                raise ValueError("read_csv(names=...): more names than columns")
            df = df.toDF(*names_list, *df.columns[len(names_list):])
    elif fmt == "json":
        df = _hive_base(spark.read).json(path_list)
        if df.columns in ([], ["_corrupt_record"]):
            # DuckDB read_json auto-detects top-level arrays; Spark needs
            # multiLine for the non-NDJSON layout.
            df = spark.read.option("multiLine", "true").json(path_list)
    else:  # pragma: no cover - guarded by callers
        raise ValueError(f"unsupported file format {fmt!r}")
    if _truthy(opts.get("filename")):
        df = df.select("*", F.input_file_name().alias("filename"))
    df.createOrReplaceTempView(name)
    _track_temp_view(spark, name)
    return name



def _parse_read_args(args: list[str]) -> tuple[tuple[str, ...], dict[str, str]]:
    """First arg: one quoted path or a ``[...]`` list of them (already
    unmasked). Remaining args: DuckDB named parameters ``key = value``."""
    first = args[0].strip()
    if first.startswith("[") and first.endswith("]"):
        paths = tuple(_strip_quotes(p) for p in _split_top_commas(first[1:-1]))
    else:
        paths = (_strip_quotes(first),)
    opts: dict[str, str] = {}
    for arg in args[1:]:
        m = re.match(r"^([A-Za-z_]\w*)\s*:?=\s*(.+)$", arg.strip(), re.DOTALL)
        if not m:
            raise ValueError(f"unsupported read option: {arg.strip()!r}")
        key = m.group(1).lower()
        if key in ("skip", "skip_rows"):
            # Spark's CSV source has no skip-N-preamble-lines option; a
            # silent ignore would return the unskipped rows
            raise ValueError("read_csv(skip=...) is not supported")
        opts[key] = (
            m.group(2).strip()
            if key in ("columns", "names")
            else _strip_quotes(m.group(2))
        )
    return paths, opts



def _resolve_file_reads(spark: SparkSession, sql: str) -> str:
    """Replace every ``read_*('path', ...)`` call and bare ``FROM 'path'``
    table reference with a registered temp view over the same files."""
    masked, table = _mask(sql)
    while m := re.search(
        r"(\bFROM\s+|\bJOIN\s+)glob\s*\(", masked, re.IGNORECASE
    ):
        # glob('pattern') table function: one `file` row per match —
        # a driver-side listing, exactly DuckDB's own implementation
        open_idx = masked.index("(", m.end() - 1)
        close = _matching_paren(masked, open_idx)
        pat = _strip_quotes(
            _unmask(masked[open_idx + 1 : close], table).strip()
        )
        import glob as _glob
        import hashlib as _hashlib

        from pyspark.sql import types as T

        files = sorted(_glob.glob(pat))
        name = "__dd_glob_" + _hashlib.md5(pat.encode()).hexdigest()[:12]
        spark.createDataFrame(
            [(f,) for f in files],
            T.StructType([T.StructField("file", T.StringType(), True)]),
        ).createOrReplaceTempView(name)
        _track_temp_view(spark, name)
        masked = masked[: m.start()] + m.group(1) + name + masked[close + 1 :]
    while m := _READ_FN_RE.search(masked):
        fmt = _READ_FNS[m.group(1).lower()]
        open_idx = m.end() - 1
        close = _matching_paren(masked, open_idx)
        args = [
            _unmask(a, table)
            for a in _split_top_commas(masked[open_idx + 1 : close])
        ]
        paths, opts = _parse_read_args(args)
        view = _file_read_view(spark, fmt, paths, opts)
        masked = masked[: m.start()] + view + masked[close + 1 :]

    def bare_path(m: re.Match) -> str:
        lit = _literal_value(_unmask(m.group(2), table))
        fmt = _path_format(lit) if lit is not None else None
        if fmt is None:  # not a recognized file reference: leave untouched
            return m.group(0)
        return m.group(1) + " " + _file_read_view(spark, fmt, (lit,), {})

    masked = _BARE_PATH_RE.sub(bare_path, masked)
    return _unmask(masked, table)



# ---------------------------------------------------------------------------
# prepared-statement parameter binding (? / $N placeholders)
# ---------------------------------------------------------------------------
#
# ADBC/JDBC FlightSQL clients bind parameters as an Arrow record batch via
# DoPut against the prepared-statement handle. The server substitutes the
# values textually before analysis — masked first, so a '?' inside a
# string literal is never a placeholder — which keeps the executed plan an
# ordinary Catalyst query (constant-folded literals, pushdown-eligible).

_DOLLAR_PARAM_RE = re.compile(r"\$(\d+)")



class _RawSQL(str):
    """An EXECUTE argument carried as SQL text (round-14 hunt G):
    DuckDB accepts list literals, typed literals, and expressions as
    bind arguments (``EXECUTE q([1, 2, 3])``, ``EXECUTE
    q(TIMESTAMP '…')``). DuckDB binds the evaluated VALUE of the
    argument, not its text — so the splice is parenthesized
    (render_sql_literal) to preserve value semantics under operator
    precedence at the substitution site."""


def _self_delimiting(tok: str) -> bool:
    """True when a _RawSQL EXECUTE argument is a single atom whose
    precedence cannot interact with the substitution site: a complete
    bracket/paren group, a typed literal (``TIMESTAMP '…'``), or a
    bare identifier/number token. Such atoms splice without the
    value-semantics parens (r15 ADVICE)."""
    tok = tok.strip()
    if not tok:
        return False
    if re.fullmatch(r"[A-Za-z_]\w*(\s+'[^']*')?", tok):
        return True  # bare word or typed literal
    if re.fullmatch(r"(?i)INTERVAL\s+('[^']*'|\d+)(\s+[A-Za-z]+)?", tok):
        # interval literal: a primary; wrapping it in parens would hide
        # it from the date-arithmetic rewrites (DATE + INTERVAL must
        # yield TIMESTAMP — hunt H r15 found the paren broke that)
        return True
    if re.fullmatch(r"[\w.]+", tok):
        return True  # number-ish token (no operators)
    if tok[0] in "[(" and tok[-1] in "])":
        # complete single group: the opener's match is the last char
        depth = 0
        for i, ch in enumerate(tok):
            if ch in "[(":
                depth += 1
            elif ch in "])":
                depth -= 1
                if depth == 0:
                    return i == len(tok) - 1
    return False


def render_sql_literal(v) -> str:
    """One Python value → a SQL literal both Spark and DuckDB parse to the
    same typed constant."""
    import datetime
    import decimal

    if isinstance(v, _RawSQL):
        # r15 ADVICE: parenthesize the spliced text. DuckDB binds the
        # EVALUATED argument value, so `EXECUTE q(1+1)` against
        # `SELECT $1 * 2` is 4 — a bare textual splice gives `1+1*2`=3.
        # Self-delimiting atoms (a complete [list]/(group), a typed
        # literal, a bare word) splice unwrapped so literal-shape
        # rewrites (e.g. len([…])→size) still see them; anything with
        # top-level structure gets parens. A multi-occurrence param
        # still re-evaluates the expression once per site (volatile
        # expressions could differ; literals cannot).
        return str(v) if _self_delimiting(str(v)) else f"({v})"
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if v != v:
            return "CAST('NaN' AS DOUBLE)"
        if v in (float("inf"), float("-inf")):
            return f"CAST('{'-' if v < 0 else ''}Infinity' AS DOUBLE)"
        return f"CAST({v!r} AS DOUBLE)"
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, datetime.datetime):
        return "TIMESTAMP '" + v.isoformat(sep=" ") + "'"
    if isinstance(v, datetime.date):
        return "DATE '" + v.isoformat() + "'"
    if isinstance(v, (bytes, bytearray)):
        return "X'" + bytes(v).hex() + "'"
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    if isinstance(v, (list, tuple)):
        return "ARRAY(" + ", ".join(render_sql_literal(x) for x in v) + ")"
    raise ValueError(f"cannot render {type(v).__name__} as a SQL literal")



def bind_named_parameters(sql: str, named: dict) -> str:
    """Substitute DuckDB named ``$param`` placeholders (EXECUTE
    q(param := value))."""
    masked, table = _mask(sql)

    def sub(m: re.Match) -> str:
        key = m.group(1).lower()
        if key not in named:
            raise ValueError(f"EXECUTE: no value for parameter ${key}")
        return render_sql_literal(named[key])

    replaced = re.sub(r"\$([A-Za-z_]\w*)", sub, masked)
    if replaced == masked and named:
        raise ValueError("statement has no named parameter placeholders")
    return _unmask(replaced, table)



def bind_parameters(sql: str, values) -> str:
    """Substitute positional ``?`` (JDBC style) or ``$1``-indexed (DuckDB
    style) placeholders with rendered literals."""
    lits = [render_sql_literal(v) for v in values]
    masked, table = _mask(sql)
    if "?" in masked:
        parts = masked.split("?")
        if len(parts) - 1 != len(lits):
            raise ValueError(
                f"query has {len(parts) - 1} '?' placeholders, "
                f"{len(lits)} values bound"
            )
        masked = parts[0] + "".join(
            lit + rest for lit, rest in zip(lits, parts[1:])
        )
    else:
        def sub(m: re.Match) -> str:
            i = int(m.group(1))
            if not 1 <= i <= len(lits):
                raise ValueError(f"parameter ${i} out of range (have {len(lits)})")
            return lits[i - 1]

        replaced = _DOLLAR_PARAM_RE.sub(sub, masked)
        if replaced == masked and lits:
            raise ValueError("statement has no parameter placeholders")
        masked = replaced
    return _unmask(masked, table)



_PRAGMA_RE = re.compile(
    r"^\s*PRAGMA\s+(\w+)\s*(?:\(\s*(.*?)\s*\)|\s*=\s*(.+?))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)

_CHECKPOINT_RE = re.compile(r"^\s*(?:FORCE\s+)?CHECKPOINT\s*;?\s*$", re.IGNORECASE)



def _run_pragma(spark: SparkSession, state, name: str, call_arg, assign_arg):
    """DuckDB PRAGMA surface that wire clients actually send (DBeaver /
    drivers): version, database_list, show_tables, table_info; the
    assignment form (PRAGMA memory_limit='2GB') routes like SET."""
    from pyspark.sql import types as T

    if name == "version":
        schema = T.StructType([
            T.StructField("library_version", T.StringType(), True),
            T.StructField("source_id", T.StringType(), True),
        ])
        return spark.createDataFrame([("v1.0.0", "spark-analog")], schema)
    if name == "database_list":
        schema = T.StructType([
            T.StructField("seq", T.IntegerType(), True),
            T.StructField("name", T.StringType(), True),
            T.StructField("file", T.StringType(), True),
        ])
        return spark.createDataFrame([(0, "memory", None)], schema)
    if name in ("show_tables", "show_tables_expanded"):
        return show_tables_frame(spark)
    if name == "table_info" and call_arg:
        return table_info_frame(spark, call_arg.strip().strip("'\""))
    if name == "show_databases":
        schema = T.StructType([T.StructField("name", T.StringType(), True)])
        return spark.createDataFrame([("memory",)], schema)
    if assign_arg is not None:
        # assignment form — engine setting, routed like SET
        _apply_setting(state, name, _strip_quotes(assign_arg.strip()))
        return None
    if call_arg is None:
        # bare flag PRAGMAs (DuckDB's enable_/disable_ pairs) toggle the
        # matching engine setting; unknown names still fail closed below
        fm = re.fullmatch(r"(enable|disable)_(\w+)", name)
        if fm and fm.group(2) in (
            "progress_bar",
            "profiling",
            "profile",
            "verification",
            "object_cache",
            "optimizer",
            "checkpoint_on_shutdown",
            "print_progress_bar",
        ):
            state.settings[fm.group(2)] = (
                "true" if fm.group(1) == "enable" else "false"
            )
            return None
    raise ValueError(f"unsupported PRAGMA {name!r}")



def table_info_frame(spark: SparkSession, name: str) -> DataFrame:
    """``PRAGMA table_info('t')`` / ``pragma_table_info('t')`` output
    shape: (cid, name, type, notnull, dflt_value, pk) — what GUI clients
    (DBeaver et al.) issue to introspect columns."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("cid", T.IntegerType(), True),
            T.StructField("name", T.StringType(), True),
            T.StructField("type", T.StringType(), True),
            T.StructField("notnull", T.BooleanType(), True),
            T.StructField("dflt_value", T.StringType(), True),
            T.StructField("pk", T.BooleanType(), True),
        ]
    )
    rows = [
        (i, f.name, _duck_type_name(f.dataType), not f.nullable, None, False)
        for i, f in enumerate(spark.table(name).schema.fields)
    ]
    return spark.createDataFrame(rows, schema)



def _catalog_tables(spark: SparkSession) -> list:
    return sorted(
        (t for t in spark.catalog.listTables()
         if t.isTemporary and not t.name.startswith("__dd_")),
        key=lambda t: t.name,
    )



def show_tables_frame(spark: SparkSession) -> DataFrame:
    from pyspark.sql import types as T

    return spark.createDataFrame(
        [(t.name,) for t in _catalog_tables(spark)],
        T.StructType([T.StructField("name", T.StringType(), True)]),
    )


def _duck_type_name(dt) -> str:
    from pyspark.sql import types as T

    if isinstance(dt, T.ArrayType):
        return _duck_type_name(dt.elementType) + "[]"
    if isinstance(dt, T.MapType):
        return (
            f"MAP({_duck_type_name(dt.keyType)}, "
            f"{_duck_type_name(dt.valueType)})"
        )
    if isinstance(dt, T.StructType):
        inner = ", ".join(
            f"{f.name} {_duck_type_name(f.dataType)}" for f in dt.fields
        )
        return f"STRUCT({inner})"
    if isinstance(dt, T.DecimalType):
        return f"DECIMAL({dt.precision},{dt.scale})"
    name = dt.simpleString()
    if name not in _DUCK_TYPE_NAMES:
        raise ValueError(f"DESCRIBE: no DuckDB spelling for type {name!r}")
    return _DUCK_TYPE_NAMES[name]

_PIVOT_RE = re.compile(
    r"^\s*PIVOT\s+(\(.*\)|[A-Za-z_][\w.]*)\s+ON\s+([A-Za-z_]\w*)\s*"
    r"(?:IN\s*\(([^)]*)\)\s*)?\s+"
    r"USING\s+(\w+)\s*\(\s*(\*|[A-Za-z_]\w*)\s*\)"
    r"(?:\s+GROUP\s+BY\s+(.+?))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)



def _run_pivot(spark: SparkSession, m: re.Match) -> DataFrame:
    """DuckDB ``PIVOT t ON col USING agg(x) [GROUP BY g]``: dynamic pivot
    — output columns discovered from the data. Spark equivalent is
    ``groupBy(g).pivot(col)`` with no value list, which runs one eager
    distinct job over the (low-NDV, dictionary-encoded) pivot column;
    that extra scan is dynamic pivoting's documented scale cost in ANY
    engine. Without GROUP BY, DuckDB groups by all remaining columns —
    mirrored here."""
    from pyspark.sql import functions as F

    tbl, on_col, in_list, fn, arg, group_by = m.groups()
    df = (
        _run_sql_late(spark, tbl[1:-1]) if tbl.startswith("(") else spark.table(tbl)
    )
    fn = fn.lower()
    if fn not in ("sum", "avg", "min", "max", "count"):
        raise ValueError(f"PIVOT USING {fn}(): unsupported aggregate")
    agg = (
        F.count(F.lit(1))
        if (fn == "count" and arg == "*")
        else getattr(F, fn)(arg)
    )
    if group_by:
        groups = [c.strip() for c in group_by.split(",")]
    else:
        groups = [c for c in df.columns if c != on_col and c != arg]
    if in_list:
        # explicit value list: no distinct-discovery job — the static
        # form a production pipeline prefers (plan known at submit time)
        values = [
            _strip_quotes(v.strip()) for v in in_list.split(",") if v.strip()
        ]
        out = df.groupBy(*groups).pivot(on_col, values).agg(agg)
    else:
        out = df.groupBy(*groups).pivot(on_col).agg(agg)
    if fn == "count":
        # DuckDB's count() pivot cells are 0 where no rows matched —
        # Spark's pivot leaves NULL (a silent divergence, battery 32)
        out = out.fillna(0, subset=[c for c in out.columns
                                    if c not in groups])
    return out

