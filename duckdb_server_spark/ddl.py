"""DuckDB DDL + constraint-aware DML over the temp-view warehouse.

The reference serves verbatim DuckDB SQL (main.go:199,229), so client
init scripts carry the full DuckDB DDL surface: plain ``CREATE TABLE``
with column constraints (PRIMARY KEY / UNIQUE / NOT NULL / DEFAULT /
CHECK), the upsert family (``INSERT OR REPLACE`` / ``OR IGNORE`` /
``ON CONFLICT DO NOTHING | DO UPDATE SET``), session ``SEQUENCE``\\ s
with ``nextval``/``currval``, and ``CREATE TYPE … AS ENUM``. This
module re-expresses that surface over the engine's copy-on-write
temp-view warehouse (dialect.py's DML model): every mutation is a
re-materialized view swap, constraints are enforced as bounded
DataFrame actions at write time (init-phase only, like the reference's
boot-time writes), and the merge itself is three set-algebra legs —
kept ⟂ updated ⟂ inserted — joined on the declared key columns.

Scale notes: the upsert joins shuffle on the (8-byte-ish) key columns
only after Catalyst prunes; constraint checks are `limit(1)` probes or
key-grouped counts, never full collects. Sequences are inherently
serial state — nextval is served through one `row_number()` window,
which is the honest cost of a global counter on any engine (DuckDB
serializes it behind a latch for the same reason); they are an
init-phase ID-generation tool, not a 100 TB-scan construct.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import itertools

from duckdb_server_spark.dialect_rewrites.core import STORAGE_TYPES, spark_type

# unique suffixes for per-statement scratch views: concurrent DML in one
# session must never share a name (the LRU tracker bounds their count)
_SCRATCH_IDS = itertools.count()

# ---------------------------------------------------------------------------
# session-state records (stored on dialect.DialectState)
# ---------------------------------------------------------------------------


@dataclass
class TableMeta:
    """Declared constraints of one CREATE TABLE, keyed lowercase."""

    pk: list[str] = field(default_factory=list)
    uniques: list[list[str]] = field(default_factory=list)
    not_null: list[str] = field(default_factory=list)
    defaults: dict[str, str] = field(default_factory=dict)  # col -> SQL expr
    checks: list[str] = field(default_factory=list)  # SQL expr texts
    # generated (VIRTUAL) columns in declaration order: col -> SQL expr;
    # recomputed on every mutation (the copy-on-write analog of DuckDB's
    # compute-on-read)
    generated: dict[str, str] = field(default_factory=dict)

    def keysets(self) -> list[list[str]]:
        return ([self.pk] if self.pk else []) + self.uniques


@dataclass
class Sequence:
    """CREATE SEQUENCE state: DuckDB semantics (nextval per evaluation)."""

    start: int = 1
    inc: int = 1
    minv: int | None = None
    maxv: int | None = None
    cycle: bool = False
    current: int | None = None  # last value handed out; None = untouched


# ---------------------------------------------------------------------------
# type mapping: DuckDB column types -> Spark SQL types
# ---------------------------------------------------------------------------

def duck_type_to_spark(t: str, state) -> tuple[str, str | None]:
    """DuckDB column type -> (Spark type text, enum-type-name | None),
    through the storage spelling of the shared type map; a declared ENUM
    serves as a validated string. Fails closed (ValueError) on types with
    no honest Spark analog."""
    enums = state.enums if state is not None else {}
    spark = spark_type(
        t, {**{e.upper(): "STRING" for e in enums}, **STORAGE_TYPES}
    )
    if spark is None:
        raise ValueError(f"CREATE TABLE: unsupported type {t!r}")
    low = t.strip().lower()
    return spark, (low if low in enums and low.upper() not in STORAGE_TYPES
                   else None)


# ---------------------------------------------------------------------------
# CREATE TABLE (column definitions)
# ---------------------------------------------------------------------------

_CONSTRAINT_KW_RE = re.compile(
    r"\b(PRIMARY\s+KEY|UNIQUE|NOT\s+NULL|NULL|DEFAULT|CHECK|REFERENCES"
    r"|COLLATE|GENERATED\s+ALWAYS\s+AS|AS)\b",
    re.IGNORECASE,
)
_TABLE_CONSTRAINT_RE = re.compile(
    r"^\s*(?:CONSTRAINT\s+\w+\s+)?"
    r"(PRIMARY\s+KEY|UNIQUE|CHECK|FOREIGN\s+KEY)\b",
    re.IGNORECASE,
)


def _depth0_find(masked: str, pattern: re.Pattern, start: int = 0):
    """First match of ``pattern`` at paren depth 0, else None."""
    from duckdb_server_spark.dialect import _depth_at

    for m in pattern.finditer(masked, start):
        if _depth_at(masked, m.start()) == 0:
            return m
    return None


def _parse_column_def(item: str, table: list[str], state):
    """One ``name TYPE [constraints]`` item (masked text) ->
    (name, spark_type, enum_name, colmeta-dict)."""
    from duckdb_server_spark.dialect import _matching_paren, _unmask

    cm = re.match(r"^\s*(\x00\d+\x00|[A-Za-z_]\w*)\s+(.*)$", item, re.DOTALL)
    if not cm:
        raise ValueError(f"CREATE TABLE: bad column definition {item!r}")
    raw_name, rest = cm.groups()
    name = _unmask(raw_name, table).strip('`"')
    # the type runs until the first constraint keyword at depth 0
    km = _depth0_find(rest, _CONSTRAINT_KW_RE)
    type_text = (rest[: km.start()] if km else rest).strip()
    tail = rest[km.start() :] if km else ""
    if type_text:
        spark_type, enum_name = duck_type_to_spark(
            _unmask(type_text, table).strip(), state
        )
    else:
        # bare generated column: ``y AS (expr)`` — type inferred
        spark_type, enum_name = None, None
    meta = {"pk": False, "unique": False, "not_null": False,
            "default": None, "checks": [], "generated": None}
    i = 0
    while i < len(tail):
        m = _CONSTRAINT_KW_RE.match(tail, i)
        if not m:
            if tail[i].isspace():
                i += 1
                continue
            raise ValueError(
                f"CREATE TABLE: unsupported column constraint at {tail[i:]!r}"
            )
        kw = re.sub(r"\s+", " ", m.group(1).upper())
        i = m.end()
        if kw == "PRIMARY KEY":
            meta["pk"] = True
        elif kw == "UNIQUE":
            meta["unique"] = True
        elif kw == "NOT NULL":
            meta["not_null"] = True
        elif kw == "NULL":
            pass
        elif kw == "COLLATE":
            nm = re.match(r"\s*\w+", tail[i:])
            i += nm.end() if nm else 0
        elif kw == "REFERENCES":
            nm = re.match(r"\s*[\w.]+\s*(\([^)]*\))?", tail[i:])
            i += nm.end() if nm else 0
        elif kw == "CHECK":
            op = tail.index("(", i)
            close = _matching_paren(tail, op)
            meta["checks"].append(_unmask(tail[op + 1 : close], table))
            i = close + 1
        elif kw in ("AS", "GENERATED ALWAYS AS"):
            op = tail.index("(", i)
            close = _matching_paren(tail, op)
            meta["generated"] = _unmask(tail[op + 1 : close], table)
            i = close + 1
            vm = re.match(r"\s*(VIRTUAL|STORED)\b", tail[i:], re.IGNORECASE)
            if vm:
                i += vm.end()
        elif kw == "DEFAULT":
            nxt = _depth0_find(tail, _CONSTRAINT_KW_RE, i)
            end = nxt.start() if nxt else len(tail)
            meta["default"] = _unmask(tail[i:end], table).strip()
            i = end
    return name, spark_type, enum_name, meta


def run_create_table(spark: SparkSession, state, name: str,
                     body: str, *, or_replace: bool,
                     if_not_exists: bool) -> None:
    """``CREATE TABLE t (col defs…)`` -> empty typed temp view + recorded
    constraint metadata. The warehouse model is the same copy-on-write
    temp view every other DML route swaps."""
    from duckdb_server_spark.dialect import _mask, _split_top_commas, _unmask

    target = name.split(".")[-1]
    if spark.catalog.tableExists(target) and not or_replace:
        if if_not_exists:
            return
        raise ValueError(f'CREATE TABLE: table "{target}" already exists')
    masked, table = _mask(body)
    meta = TableMeta()
    cols: list[tuple[str, str]] = []  # (name, spark type)
    enum_cols: dict[str, str] = {}
    for item in _split_top_commas(masked):
        if not item.strip():
            continue
        tc = _TABLE_CONSTRAINT_RE.match(item)
        if tc:
            kind = re.sub(r"\s+", " ", tc.group(1).upper())
            if kind == "FOREIGN KEY":
                continue  # referential hints: results never depend on them
            op = item.index("(", tc.end())
            from duckdb_server_spark.dialect import _matching_paren

            close = _matching_paren(item, op)
            inner = _unmask(item[op + 1 : close], table)
            if kind == "CHECK":
                meta.checks.append(inner)
            else:
                names = [c.strip().strip('`"').lower()
                         for c in inner.split(",")]
                if kind == "PRIMARY KEY":
                    meta.pk = names
                    meta.not_null.extend(names)
                else:
                    meta.uniques.append(names)
            continue
        cname, stype, ename, cmeta = _parse_column_def(item, table, state)
        cols.append((cname, stype))
        low = cname.lower()
        if ename:
            enum_cols[low] = ename
        if cmeta["pk"]:
            meta.pk = [low]
            meta.not_null.append(low)
        if cmeta["unique"]:
            meta.uniques.append([low])
        if cmeta["not_null"] and low not in meta.not_null:
            meta.not_null.append(low)
        if cmeta["default"] is not None:
            meta.defaults[low] = cmeta["default"]
        if cmeta["generated"] is not None:
            meta.generated[low] = cmeta["generated"]
        elif stype is None:
            raise ValueError(
                f"CREATE TABLE: column {cname!r} has no type"
            )
        meta.checks.extend(cmeta["checks"])
    if not cols:
        raise ValueError("CREATE TABLE: no columns")
    empty = spark.sql(
        "SELECT "
        + ", ".join(
            f"CAST(NULL AS {t}) AS `{c}`"
            for c, t in cols
            if c.lower() not in meta.generated
        )
        + " LIMIT 0"
    )
    for c, t in cols:
        if c.lower() in meta.generated:
            e = _duck_expr(spark, meta.generated[c.lower()])
            empty = empty.withColumn(c, e.cast(t) if t else e)
    empty = empty.select(*[F.col(c) for c, _ in cols])
    empty.createOrReplaceTempView(target)
    state.tables[target.lower()] = meta
    if enum_cols:
        state.enum_columns[target.lower()] = enum_cols
    else:
        state.enum_columns.pop(target.lower(), None)


def forget_table(state, name: str) -> None:
    """DROP TABLE housekeeping for the constraint/enum registries."""
    low = name.split(".")[-1].lower()
    state.tables.pop(low, None)
    state.enum_columns.pop(low, None)


# ---------------------------------------------------------------------------
# constraint enforcement (write-time, bounded actions)
# ---------------------------------------------------------------------------


def _duck_expr(spark: SparkSession, text: str):
    """A DuckDB expression -> Spark Column (through the full dialect
    rewrite, so defaults/checks may use any served function)."""
    from duckdb_server_spark.dialect import rewrite

    try:
        return F.expr(rewrite(text, spark, duckdb_first=True))
    except Exception:
        return F.expr(text)


def enforce_constraints(spark: SparkSession, state, target: str,
                        df: DataFrame,
                        extras: dict | None = None) -> dict:
    """NOT NULL / CHECK / PRIMARY KEY-UNIQUE / enum-membership checks on
    a candidate table state, with DuckDB's error spellings.

    r17 (VERDICT r16 item 6 — batch the script DML's driver-side jobs):
    the happy path is ONE aggregate action computing every violation
    count at once (plus any caller-supplied ``extras`` aggregate
    columns, returned by name — DML statements piggyback their Count
    bookkeeping on the same job). The per-key duplicate flag is
    conservative (count vs count-distinct over the non-null key domain,
    plus a ≥2-null-key-rows flag); when ANY flag fires, the original
    sequential limit(1)/grouped probes below re-run verbatim, so error
    ORDER, messages, and exemplar values are byte-identical to the
    per-probe implementation. Returns the extras dict (empty if none
    requested)."""
    meta = state.tables.get(target.lower())
    enum_cols = state.enum_columns.get(target.lower(), {})
    by_lower = {c.lower(): c for c in df.columns}
    aggs: list = []
    n_flags = 0
    if meta is not None:
        for c in meta.not_null:
            col = by_lower.get(c)
            if col:
                aggs.append(F.count(F.when(F.col(col).isNull(), 1)))
        for check in meta.checks:
            aggs.append(
                F.count(
                    F.when(
                        ~F.coalesce(
                            _duck_expr(spark, check).cast("boolean"),
                            F.lit(True),
                        ),
                        1,
                    )
                )
            )
        for keys in meta.keysets():
            cols = [by_lower[k] for k in keys if k in by_lower]
            if len(cols) != len(keys):
                continue
            nn = F.lit(True)
            for c in cols:
                nn = nn & F.col(c).isNotNull()
            total_nn = F.count(F.when(nn, 1))
            distinct_nn = F.count_distinct(*[F.col(c) for c in cols])
            null_rows = F.count(F.when(~nn, 1))
            # dup among non-null keys is exact; for the PK (whose probe
            # groups null keys too) ≥2 null-key rows only MIGHT collide
            # — the re-probe decides
            dup_flag = total_nn - distinct_nn
            if keys == meta.pk:
                dup_flag = dup_flag + F.when(null_rows >= 2, 1).otherwise(0)
            aggs.append(dup_flag)
    for c, ename in enum_cols.items():
        col = by_lower.get(c)
        members = state.enums.get(ename)
        if not col or not members:
            continue
        aggs.append(
            F.count(
                F.when(
                    F.col(col).isNotNull()
                    & ~F.col(col).isin(list(members)),
                    1,
                )
            )
        )
    n_flags = len(aggs)
    extra_names = list(extras or {})
    aggs.extend((extras or {}).values())
    if not aggs:
        return {}
    row = df.agg(*aggs).collect()[0]
    out = {name: row[n_flags + i] for i, name in enumerate(extra_names)}
    if not any(bool(row[i]) for i in range(n_flags)):
        return out
    _enforce_constraints_probes(spark, state, target, df)
    return out


def _enforce_constraints_probes(spark: SparkSession, state, target: str,
                                df: DataFrame) -> None:
    """The original sequential probe implementation — the error path
    (and the source of the exact error order/messages/exemplars)."""
    meta = state.tables.get(target.lower())
    enum_cols = state.enum_columns.get(target.lower(), {})
    by_lower = {c.lower(): c for c in df.columns}
    if meta is not None:
        for c in meta.not_null:
            col = by_lower.get(c)
            if col and df.where(F.col(col).isNull()).limit(1).count():
                raise ValueError(
                    f"Constraint Error: NOT NULL constraint failed: "
                    f"{target}.{col}"
                )
        for check in meta.checks:
            bad = df.where(
                ~F.coalesce(
                    _duck_expr(spark, check).cast("boolean"), F.lit(True)
                )
            )
            if bad.limit(1).count():
                raise ValueError(
                    f"Constraint Error: CHECK constraint failed: {target}"
                )
        for keys in meta.keysets():
            cols = [by_lower[k] for k in keys if k in by_lower]
            if len(cols) != len(keys):
                continue
            probe = df
            if keys != meta.pk:
                # SQL/DuckDB UNIQUE treats NULLs as distinct: a row with
                # a NULL key column never conflicts with anything.
                for c in cols:
                    probe = probe.where(F.col(c).isNotNull())
            dup = (
                probe.groupBy(*[F.col(c) for c in cols])
                .count()
                .where(F.col("count") > 1)
                .limit(1)
                .collect()
            )
            if dup:
                keyrep = ", ".join(
                    f"{c}: {dup[0][c]}" for c in cols
                )
                raise ValueError(
                    f'Constraint Error: Duplicate key "{keyrep}" violates '
                    f"{'primary key' if keys == meta.pk else 'unique'} "
                    f"constraint"
                )
    for c, ename in enum_cols.items():
        col = by_lower.get(c)
        members = state.enums.get(ename)
        if not col or not members:
            continue
        bad = df.where(
            F.col(col).isNotNull() & ~F.col(col).isin(list(members))
        )
        row = bad.select(col).limit(1).collect()
        if row:
            raise ValueError(
                f"Conversion Error: Could not convert string '{row[0][0]}' "
                f"to {ename}"
            )


# ---------------------------------------------------------------------------
# INSERT source construction (defaults, DEFAULT keyword, column lists)
# ---------------------------------------------------------------------------


def _sub_default_keywords(spark: SparkSession, state, target: str,
                          body: str, cols: list[str]) -> str:
    """Replace bare DEFAULT tokens in a VALUES body with the column's
    declared default (or NULL), positionally."""
    from duckdb_server_spark.dialect import (
        _mask,
        _matching_paren,
        _split_top_commas,
        _unmask,
    )

    masked, table = _mask(body)
    if not re.search(r"\bDEFAULT\b", masked, re.IGNORECASE):
        return body
    meta = state.tables.get(target.lower())
    defaults = meta.defaults if meta else {}
    vm = re.match(r"^\s*VALUES\b", masked, re.IGNORECASE)
    out, i = masked[: vm.end()], vm.end()
    while i < len(masked):
        if masked[i] == "(":
            close = _matching_paren(masked, i)
            items = _split_top_commas(masked[i + 1 : close])
            fixed = []
            for j, tok in enumerate(items):
                if tok.strip().upper() == "DEFAULT" and j < len(cols):
                    fixed.append(defaults.get(cols[j].lower(), "NULL"))
                else:
                    fixed.append(tok)
            out += "(" + ", ".join(fixed) + ")"
            i = close + 1
        else:
            out += masked[i]
            i += 1
    return _unmask(out, table)


def apply_generated(spark: SparkSession, state, target: str,
                    df: DataFrame, schema_of: DataFrame) -> DataFrame:
    """Recompute VIRTUAL generated columns (declaration order) — the
    copy-on-write analog of DuckDB's compute-on-read."""
    meta = state.tables.get(target.lower())
    if meta is None or not meta.generated:
        return df
    by_lower = {c.lower(): c for c in schema_of.columns}
    for low, expr in meta.generated.items():
        col = by_lower.get(low)
        if col is None:
            continue
        df = df.withColumn(
            col,
            _duck_expr(spark, expr).cast(schema_of.schema[col].dataType),
        )
    # internal bookkeeping tags (__dd_tag_*) ride through — r17's DML
    # Count piggybacking needs them downstream of the recompute
    tags = [c for c in df.columns if c.startswith("__dd_tag_")]
    return df.select(*schema_of.columns, *tags)


def build_insert_source(spark: SparkSession, state, target: str,
                        old: DataFrame, col_list: str | None,
                        body: str, by_name: bool = False) -> DataFrame:
    """The rows an INSERT contributes, aligned to the target's schema
    with declared DEFAULTs filled for omitted columns. ``by_name``
    (INSERT INTO t BY NAME SELECT …) aligns the source by its column
    NAMES instead of position. Generated columns never take writes:
    positional alignment skips them, naming one fails closed, and their
    values recompute from the declared expression."""
    from duckdb_server_spark.dialect import run_sql

    gen = (
        state.tables[target.lower()].generated
        if target.lower() in state.tables
        else {}
    )
    if col_list:
        cols = [c.strip().strip('"`') for c in col_list[1:-1].split(",")]
        bad = [c for c in cols if c.lower() in gen]
        if bad:
            raise ValueError(
                f"Binder Error: Cannot insert into a generated column "
                f"{bad[0]!r}"
            )
    else:
        cols = [c for c in old.columns if c.lower() not in gen]
    if body.lstrip()[:6].upper() == "VALUES":
        body = _sub_default_keywords(spark, state, target, body, cols)
        if re.search(r"\b(?:nextval|currval)\s*\(", body, re.IGNORECASE):
            # a sequence call becomes a window expression, which cannot
            # live inside VALUES: lift it into a projection over the rows
            new = run_sql(spark, _values_with_sequences(body))
        else:
            new = run_sql(spark, f"SELECT * FROM ( {body} )")
    else:
        new = run_sql(spark, body)
    meta = state.tables.get(target.lower())
    defaults = meta.defaults if meta else {}
    if by_name:
        tgt_lower = {c.lower() for c in old.columns}
        extra = [c for c in new.columns if c.lower() not in tgt_lower]
        if extra:
            raise ValueError(
                f"Binder Error: Column {extra[0]!r} does not exist in "
                f"table {target!r}"
            )
        bad = [c for c in new.columns if c.lower() in gen]
        if bad:
            raise ValueError(
                f"Binder Error: Cannot insert into a generated column "
                f"{bad[0]!r}"
            )
        src_lower = {c.lower(): c for c in new.columns}
        new = new.select(
            *[
                F.col(src_lower[c.lower()]).alias(c)
                if c.lower() in src_lower
                else (
                    _duck_expr(spark, defaults[c.lower()])
                    if c.lower() in defaults
                    else F.lit(None)
                ).alias(c)
                for c in old.columns
            ]
        )
    else:
        new = new.toDF(*cols)
        have = {c.lower() for c in cols}
        for c in old.columns:
            if c.lower() not in have:
                d = defaults.get(c.lower())
                new = new.withColumn(
                    c,
                    _duck_expr(spark, d) if d is not None else F.lit(None),
                )
    new = new.select(
        *[F.col(c).cast(old.schema[c].dataType) for c in old.columns]
    )
    return apply_generated(spark, state, target, new, old)


def _values_with_sequences(body: str) -> str:
    """``VALUES (nextval('s'), 'x'), (nextval('s'), 'y')`` -> a SELECT
    whose projection carries the sequence expressions over a literal
    VALUES subquery, so the nextval rewrite's row_number() window has a
    legal home. Fails closed unless every tuple spells the sequence
    expression identically at the same position (the canonical ID-column
    shape)."""
    from duckdb_server_spark.dialect import (
        _mask,
        _matching_paren,
        _split_top_commas,
        _unmask,
    )

    masked, table = _mask(body)
    vm = re.match(r"^\s*VALUES\b", masked, re.IGNORECASE)
    tuples: list[list[str]] = []
    i = vm.end()
    while i < len(masked):
        if masked[i] == "(":
            close = _matching_paren(masked, i)
            tuples.append(_split_top_commas(masked[i + 1 : close]))
            i = close + 1
        elif masked[i].isspace() or masked[i] == ",":
            i += 1
        else:
            raise ValueError(f"INSERT: bad VALUES body at {masked[i:]!r}")
    if not tuples or any(len(t) != len(tuples[0]) for t in tuples):
        raise ValueError("INSERT: VALUES tuples have differing arity")
    seq_re = re.compile(r"\b(?:nextval|currval)\s*\(", re.IGNORECASE)
    projs, names = [], []
    for p in range(len(tuples[0])):
        col_texts = [t[p] for t in tuples]
        if any(seq_re.search(t) for t in col_texts):
            norm = {" ".join(_unmask(t, table).split()) for t in col_texts}
            if len(norm) != 1:
                raise ValueError(
                    "INSERT: sequence expressions in VALUES must be "
                    "identical across tuples"
                )
            projs.append(col_texts[0])
            for t in tuples:
                t[p] = "NULL"
        else:
            projs.append(f"__dd_v{p}")
        names.append(f"__dd_v{p}")
    rows = ", ".join("(" + ", ".join(t) + ")" for t in tuples)
    return _unmask(
        f"SELECT {', '.join(projs)} FROM (VALUES {rows}) "
        f"AS __dd_v({', '.join(names)})",
        table,
    )


# ---------------------------------------------------------------------------
# upsert: INSERT … ON CONFLICT / INSERT OR REPLACE / OR IGNORE
# ---------------------------------------------------------------------------


@dataclass
class Conflict:
    """A parsed ON CONFLICT clause (or the OR REPLACE/IGNORE shorthand:
    target_cols=None means 'the declared PK/unique key')."""

    action: str  # 'nothing' | 'update' | 'replace'
    target_cols: list[str] | None = None
    assigns: str | None = None  # raw SET text (update only)
    where: str | None = None  # raw guard text (update only)


_ON_CONFLICT_RE = re.compile(r"\bON\s+CONFLICT\b", re.IGNORECASE)


def split_on_conflict(body: str) -> tuple[str, Conflict | None]:
    """Split a trailing ON CONFLICT clause off an INSERT body."""
    from duckdb_server_spark.dialect import (
        _depth_at,
        _mask,
        _matching_paren,
        _unmask,
    )

    masked, table = _mask(body)
    m = None
    for cand in _ON_CONFLICT_RE.finditer(masked):
        if _depth_at(masked, cand.start()) == 0:
            m = cand
            break
    if m is None:
        return body, None
    head = _unmask(masked[: m.start()], table).rstrip()
    tail = masked[m.end() :].strip()
    target_cols = None
    if tail.startswith("("):
        close = _matching_paren(tail, 0)
        target_cols = [
            _unmask(c, table).strip().strip('`"')
            for c in tail[1:close].split(",")
        ]
        tail = tail[close + 1 :].strip()
    dm = re.match(
        r"^DO\s+(NOTHING|UPDATE\s+SET)\b(.*)$", tail,
        re.IGNORECASE | re.DOTALL,
    )
    if not dm:
        raise ValueError(f"INSERT: unsupported ON CONFLICT clause {tail!r}")
    if dm.group(1).upper() == "NOTHING":
        if dm.group(2).strip().strip(";"):
            raise ValueError("INSERT: trailing text after DO NOTHING")
        return head, Conflict("nothing", target_cols)
    rest = dm.group(2)
    where = None
    wm = None
    for cand in re.finditer(r"\bWHERE\b", rest, re.IGNORECASE):
        if _depth_at(rest, cand.start()) == 0:
            wm = cand
            break
    if wm is not None:
        where = _unmask(rest[wm.end() :], table).strip().rstrip(";")
        rest = rest[: wm.start()]
    assigns = _unmask(rest, table).strip().rstrip(";")
    return head, Conflict("update", target_cols, assigns, where)


def _resolve_keys(state, target: str, conflict: Conflict,
                  columns: list[str]) -> list[str]:
    meta = state.tables.get(target.lower())
    keysets = meta.keysets() if meta else []
    if not keysets:
        raise ValueError(
            "Binder Error: There are no UNIQUE/PRIMARY KEY Indexes that "
            "refer to this table, ON CONFLICT is a no-op"
        )
    if conflict.target_cols:
        want = {c.lower() for c in conflict.target_cols}
        for ks in keysets:
            if set(ks) == want:
                return ks
        raise ValueError(
            "Binder Error: The specified columns as conflict target are "
            "not referenced by a UNIQUE/PRIMARY KEY constraint"
        )
    return keysets[0]


def _qualify_upsert_expr(text: str, target: str, columns: list[str]) -> str:
    """Rewrite excluded.<col> -> the prefixed source columns and
    <table>.<col> -> the t alias, on masked text."""
    from duckdb_server_spark.dialect import _mask, _unmask

    masked, table = _mask(text)
    masked = re.sub(
        r"\bexcluded\s*\.\s*([A-Za-z_]\w*)",
        lambda m: f"s.`__dd_e_{m.group(1).lower()}`",
        masked,
        flags=re.IGNORECASE,
    )
    masked = re.sub(
        rf"\b{re.escape(target)}\s*\.\s*([A-Za-z_]\w*)",
        lambda m: f"t.`{m.group(1)}`",
        masked,
        flags=re.IGNORECASE,
    )
    return _unmask(masked, table)


def run_upsert(spark: SparkSession, state, target: str, old: DataFrame,
               src: DataFrame, conflict: Conflict) -> DataFrame:
    """Three-leg merge on the declared key: untouched rows (anti join),
    conflicting rows (inner join, assignments applied under the optional
    guard), new rows (anti join from the source side). Count = rows
    inserted + rows actually updated, exactly DuckDB's Count."""
    from duckdb_server_spark.dialect import (
        _count_frame,
        _materialize,
        _split_top_commas,
        _track_temp_view,
        run_sql,
    )

    keys = _resolve_keys(state, target, conflict, old.columns)
    meta = state.tables.get(target.lower())
    is_pk = bool(meta and meta.pk and keys == meta.pk)
    by_lower = {c.lower(): c for c in old.columns}
    key_cols = [by_lower[k] for k in keys]
    src = _materialize(spark, src)
    probe = src
    if not is_pk:
        # UNIQUE NULLs are distinct — null-keyed source rows never
        # conflict (with the table or with each other), they just insert.
        for c in key_cols:
            probe = probe.where(F.col(c).isNotNull())
    if (
        probe.groupBy(*[F.col(c) for c in key_cols])
        .count()
        .where(F.col("count") > 1)
        .limit(1)
        .count()
    ):
        raise ValueError(
            "Constraint Error: PRIMARY KEY or UNIQUE constraint violated: "
            "duplicate key"
        )
    pref = src.select(
        *[F.col(c).alias(f"__dd_e_{c.lower()}") for c in src.columns]
    )
    src_view = f"__dd_upsert_src_{next(_SCRATCH_IDS)}"
    pref.createOrReplaceTempView(src_view)
    _track_temp_view(spark, src_view)
    # PK columns are NOT NULL so <=> and = agree; for a UNIQUE keyset the
    # null-safe form would conflict-match NULL keys, which SQL treats as
    # distinct — plain = sends null-keyed rows to the insert leg.
    op = "<=>" if is_pk else "="
    join = " AND ".join(
        f"t.`{c}` {op} s.`__dd_e_{c.lower()}`" for c in key_cols
    )
    assigns: dict[str, str] = {}
    if conflict.action == "replace":
        assigns = {
            c.lower(): f"s.`__dd_e_{c.lower()}`"
            for c in old.columns
            if c.lower() not in keys
        }
    elif conflict.action == "update":
        for item in _split_top_commas(conflict.assigns or ""):
            am = re.match(r'^\s*"?([A-Za-z_]\w*)"?\s*=\s*(.+)$', item,
                          re.DOTALL)
            if not am:
                raise ValueError(
                    "INSERT: ON CONFLICT DO UPDATE expects col = expr"
                )
            col = am.group(1).lower()
            if col not in by_lower:
                raise ValueError(f"INSERT: unknown column {am.group(1)!r}")
            assigns[col] = _qualify_upsert_expr(
                am.group(2).strip(), target, old.columns
            )
    guard = (
        _qualify_upsert_expr(conflict.where, target, old.columns)
        if conflict.where
        else None
    )
    projs = []
    for c in old.columns:
        e = assigns.get(c.lower())
        if e is None:
            projs.append(f"t.`{c}` AS `{c}`")
        elif guard:
            projs.append(
                f"CASE WHEN coalesce(CAST((__dd_boolctx({guard})) AS BOOLEAN), false) "
                f"THEN ({e}) ELSE t.`{c}` END AS `{c}`"
            )
        else:
            projs.append(f"({e}) AS `{c}`")
    # r17 (VERDICT r16 item 6): DuckDB's Count = rows inserted + rows
    # actually updated. Both used to be separate full-frame actions
    # (n_old count, a matched-count SQL, merged count). Each leg now
    # carries __dd_tag_* booleans, and the counts ride the SAME single
    # aggregate action as constraint enforcement — one job where four
    # ran, with identical values (the matched tag reproduces the old
    # guarded count; the insert tag is the insert leg's cardinality,
    # which equals merged − old under UNION ALL by construction).
    if conflict.action in ("update", "replace"):
        if guard:
            upd_tag = (
                f"coalesce(CAST((__dd_boolctx({guard})) AS BOOLEAN), "
                f"false)"
            )
        else:
            upd_tag = "true"
    else:
        upd_tag = "false"
    kept_sql = (
        f"SELECT {', '.join(f't.`{c}`' for c in old.columns)}, "
        f"false AS __dd_tag_ins, false AS __dd_tag_upd "
        f"FROM {target} t LEFT ANTI JOIN {src_view} s ON {join}"
    )
    matched_sql = (
        f"SELECT {', '.join(projs)}, "
        f"false AS __dd_tag_ins, {upd_tag} AS __dd_tag_upd "
        f"FROM {target} t JOIN {src_view} s ON {join}"
    )
    ins_cols = ", ".join(
        f"s.`__dd_e_{c.lower()}` AS `{c}`" for c in old.columns
    )
    inserted_sql = (
        f"SELECT {ins_cols}, true AS __dd_tag_ins, false AS __dd_tag_upd "
        f"FROM {src_view} s LEFT ANTI JOIN {target} t ON {join}"
    )
    merged = run_sql(
        spark,
        f"{kept_sql} UNION ALL {matched_sql} UNION ALL {inserted_sql}",
    )
    merged = merged.select(
        *[F.col(c).cast(old.schema[c].dataType) for c in old.columns],
        "__dd_tag_ins",
        "__dd_tag_upd",
    )
    merged = _materialize(
        spark, apply_generated(spark, state, target, merged, old)
    )
    counts = enforce_constraints(
        spark,
        state,
        target,
        merged,
        extras={
            "n_ins": F.count(F.when(F.col("__dd_tag_ins"), 1)),
            "n_upd": F.count(F.when(F.col("__dd_tag_upd"), 1)),
        },
    )
    merged.select(*old.columns).createOrReplaceTempView(target)
    return _count_frame(spark, counts["n_ins"] + counts["n_upd"])


def or_action_conflict(or_action: str) -> Conflict:
    """INSERT OR REPLACE/IGNORE -> the equivalent ON CONFLICT clause on
    the declared key (DuckDB's own desugaring). REPLACE resolves its
    assignment list (every non-key column = excluded.column) inside
    run_upsert, once the key is known."""
    if or_action.upper() == "IGNORE":
        return Conflict("nothing")
    return Conflict("replace")


# ---------------------------------------------------------------------------
# sequences
# ---------------------------------------------------------------------------

_SEQ_OPT_RE = re.compile(
    r"(START\s+(?:WITH\s+)?(-?\d+))|(INCREMENT\s+(?:BY\s+)?(-?\d+))"
    r"|(MINVALUE\s+(-?\d+))|(MAXVALUE\s+(-?\d+))|(NO\s+MINVALUE)"
    r"|(NO\s+MAXVALUE)|(NO\s+CYCLE)|(CYCLE)",
    re.IGNORECASE,
)


def parse_create_sequence(opts: str) -> Sequence:
    seq = Sequence()
    start_set = False
    pos = 0
    opts = opts.strip().rstrip(";").strip()
    while pos < len(opts):
        if opts[pos].isspace():
            pos += 1
            continue
        m = _SEQ_OPT_RE.match(opts, pos)
        if not m:
            raise ValueError(
                f"CREATE SEQUENCE: unsupported option at {opts[pos:]!r}"
            )
        if m.group(1):
            seq.start = int(m.group(2))
            start_set = True
        elif m.group(3):
            seq.inc = int(m.group(4))
        elif m.group(5):
            seq.minv = int(m.group(6))
        elif m.group(7):
            seq.maxv = int(m.group(8))
        elif m.group(11):  # NO CYCLE
            seq.cycle = False
        elif m.group(12):
            seq.cycle = True
        pos = m.end()
    # DuckDB's direction-dependent defaults: ascending floors at
    # MINVALUE (default 1) and starts there; descending caps at
    # MAXVALUE (default -1) and starts there
    if seq.inc >= 0:
        if seq.minv is None:
            seq.minv = 1
        if not start_set:
            seq.start = seq.minv
    else:
        if seq.maxv is None:
            seq.maxv = -1
        if not start_set:
            seq.start = seq.maxv
    if seq.minv is not None and seq.start < seq.minv:
        raise ValueError(
            f"Parser Error: START value ({seq.start}) cannot be less "
            f"than MINVALUE ({seq.minv})"
        )
    if seq.maxv is not None and seq.start > seq.maxv:
        raise ValueError(
            f"Parser Error: START value ({seq.start}) cannot be greater "
            f"than MAXVALUE ({seq.maxv})"
        )
    return seq


_SEQVAL_CALL_RE = re.compile(
    r"\b(nextval|currval)\s*\(\s*(\x00\d+\x00)\s*\)", re.IGNORECASE
)

# the one serial window a global counter costs; see module docstring
_SEQ_RN = "row_number() OVER (ORDER BY monotonically_increasing_id())"


def run_sequence_query(spark: SparkSession, state, sql: str) -> DataFrame:
    """Serve a statement containing nextval()/currval(): substitute
    arithmetic on one row_number() window, execute eagerly, then advance
    the session counters by the materialized row count (DuckDB's
    per-evaluation increment, batched)."""
    from duckdb_server_spark.dialect import (
        _literal_value,
        _mask,
        _materialize,
        _unmask,
        run_sql,
    )

    masked, table = _mask(sql)

    def _name(tok: str) -> str:
        lit = _literal_value(table[int(re.match(r"\x00(\d+)\x00", tok).group(1))])
        if lit is None:
            raise ValueError("nextval/currval expects a string literal")
        return lit.split(".")[-1].lower()

    # pass 1: nextval occurrences per sequence (currval evaluates after
    # a row's nextvals, like DuckDB's own per-row evaluation order)
    counts: dict[str, int] = {}
    for m in _SEQVAL_CALL_RE.finditer(masked):
        name = _name(m.group(2))
        if name not in state.sequences:
            raise ValueError(
                f"Catalog Error: Sequence with name {name} does not exist!"
            )
        if m.group(1).lower() == "nextval":
            counts[name] = counts.get(name, 0) + 1

    seen: dict[str, int] = {}

    def _seq_expr(seq, base: int, expr: str) -> str:
        if seq.cycle and seq.minv is not None and seq.maxv is not None:
            span = seq.maxv - seq.minv + 1
            expr = f"{seq.minv} + pmod(({expr}) - {seq.minv}, {span})"
        return f"CAST(({expr}) AS BIGINT)"

    def _sub(m: re.Match) -> str:
        fn, name = m.group(1).lower(), _name(m.group(2))
        seq = state.sequences[name]
        base = seq.start if seq.current is None else seq.current + seq.inc
        m_s = counts.get(name, 0)
        if fn == "currval":
            if m_s == 0:
                if seq.current is None:
                    raise ValueError(
                        "Sequence Error: currval: sequence is not yet "
                        "defined in this session"
                    )
                return str(seq.current)
            return _seq_expr(
                seq, base,
                f"{base} + (({_SEQ_RN}) * {m_s} - 1) * {seq.inc}",
            )
        j = seen.get(name, 0)
        seen[name] = j + 1
        return _seq_expr(
            seq, base,
            f"{base} + ((({_SEQ_RN}) - 1) * {m_s} + {j}) * {seq.inc}",
        )

    replaced = _SEQVAL_CALL_RE.sub(_sub, masked)
    if re.search(r"\b(nextval|currval)\s*\(", replaced, re.IGNORECASE):
        raise ValueError(
            "nextval/currval: only string-literal sequence names are "
            "supported"
        )
    df = _materialize(spark, run_sql(spark, _unmask(replaced, table)))
    n = df.count()
    for name, m_s in counts.items():
        seq = state.sequences[name]
        if n == 0:
            continue
        base = seq.start if seq.current is None else seq.current + seq.inc
        last = base + (n * m_s - 1) * seq.inc
        if seq.cycle and seq.minv is not None and seq.maxv is not None:
            span = seq.maxv - seq.minv + 1
            last = seq.minv + (last - seq.minv) % span
        elif seq.maxv is not None and seq.inc > 0 and last > seq.maxv:
            raise ValueError(
                f"Sequence Error: nextval: reached maximum value of "
                f'sequence "{name}" ({seq.maxv})'
            )
        elif seq.minv is not None and seq.inc < 0 and last < seq.minv:
            raise ValueError(
                f"Sequence Error: nextval: reached minimum value of "
                f'sequence "{name}" ({seq.minv})'
            )
        seq.current = last
    return df


# ---------------------------------------------------------------------------
# enums
# ---------------------------------------------------------------------------

_ENUM_FN_RE = re.compile(
    r"\b(enum_range|enum_first|enum_last|enum_code)\s*\(", re.IGNORECASE
)


def _enum_array(members: list[str]) -> str:
    return "array(" + ", ".join(
        "'" + m.replace("'", "''") + "'" for m in members
    ) + ")"


def _enum_cast(expr: str, ename: str, members: list[str]) -> str:
    """Validated cast to an enum type: NULL passes, members pass, any
    other value raises DuckDB's Conversion Error at evaluation time."""
    arr = _enum_array(members)
    return (
        f"(CASE WHEN CAST(({expr}) AS STRING) IS NULL THEN NULL "
        f"WHEN array_contains({arr}, CAST(({expr}) AS STRING)) "
        f"THEN CAST(({expr}) AS STRING) "
        f"ELSE raise_error(concat('Conversion Error: Could not convert "
        f"string ''', CAST(({expr}) AS STRING), ''' to {ename}')) END)"
    )


def enum_columns_in_scope(spark: SparkSession, state,
                          masked: str) -> dict[str, str]:
    """column (lower) -> enum type name, for every table at a FROM/JOIN
    position (the _column_kinds pattern, against the DDL registry)."""
    out: dict[str, str] = {}
    for m in re.finditer(r"\b(?:FROM|JOIN)\s+([A-Za-z_][\w.]*)", masked,
                         re.IGNORECASE):
        tbl = m.group(1).split(".")[-1].lower()
        for col, ename in state.enum_columns.get(tbl, {}).items():
            out[col] = ename
    return out


def resolve_enums(spark: SparkSession, state, sql: str) -> str:
    """Textual enum layer: enum_* functions, casts to enum types, and
    ordinal semantics (ORDER BY / min / max / enum-enum comparisons) for
    bare enum-typed columns. Runs before the general dialect rewrite;
    mixed enum-vs-string comparisons keep DuckDB's own behavior of
    comparing as VARCHAR, so they pass through untouched."""
    from duckdb_server_spark.dialect import (
        _mask,
        _matching_paren,
        _unmask,
    )

    masked, table = _mask(sql)
    cols = enum_columns_in_scope(spark, state, masked)

    def _expr_enum(expr: str) -> str | None:
        """The enum type of a simple expression, if recognizable."""
        e = expr.strip()
        m = re.match(r"^(?:NULL|.*?)::\s*([A-Za-z_]\w*)\s*$", e)
        if m and m.group(1).lower() in state.enums:
            return m.group(1).lower()
        m = re.match(r"^(?:TRY_)?CAST\s*\(.*\s+AS\s+([A-Za-z_]\w*)\s*\)$",
                     e, re.IGNORECASE | re.DOTALL)
        if m and m.group(1).lower() in state.enums:
            return m.group(1).lower()
        m = re.fullmatch(r"[A-Za-z_][\w.]*", e)
        if m:
            return cols.get(e.split(".")[-1].lower())
        return None

    # enum_* functions (argument only names the type; strip it)
    out = []
    i = 0
    while i < len(masked):
        m = _ENUM_FN_RE.search(masked, i)
        if not m:
            out.append(masked[i:])
            break
        close = _matching_paren(masked, m.end() - 1)
        arg = masked[m.end() : close]
        ename = _expr_enum(_unmask(arg, table))
        if ename is None:
            out.append(masked[i : close + 1])
            i = close + 1
            continue
        members = state.enums[ename]
        fn = m.group(1).lower()
        out.append(masked[i : m.start()])
        if fn == "enum_range":
            out.append(_enum_array(members))
        elif fn == "enum_first":
            out.append("'" + members[0].replace("'", "''") + "'")
        elif fn == "enum_last":
            out.append("'" + members[-1].replace("'", "''") + "'")
        else:  # enum_code: 0-based position
            inner = _strip_enum_cast(_unmask(arg, table), state)
            out.append(
                f"CAST(array_position({_enum_array(members)}, "
                f"CAST(({inner}) AS STRING)) - 1 AS INT)"
            )
        i = close + 1
    masked = "".join(out)

    # casts: CAST(x AS mood) and x::mood
    def _cast_sub(m: re.Match) -> str:
        ename = m.group(2).lower()
        return _enum_cast(_unmask(m.group(1), table), ename,
                          state.enums[ename])

    enum_names = "|".join(re.escape(n) for n in state.enums)
    masked = re.sub(
        rf"\bTRY_CAST\s*\(\s*(.+?)\s+AS\s+({enum_names})\s*\)",
        lambda m: (
            f"(CASE WHEN array_contains("
            f"{_enum_array(state.enums[m.group(2).lower()])}, "
            f"CAST(({_unmask(m.group(1), table)}) AS STRING)) "
            f"THEN CAST(({_unmask(m.group(1), table)}) AS STRING) "
            f"ELSE NULL END)"
        ),
        masked,
        flags=re.IGNORECASE,
    )
    masked = re.sub(
        rf"\bCAST\s*\(\s*(.+?)\s+AS\s+({enum_names})\s*\)",
        _cast_sub,
        masked,
        flags=re.IGNORECASE,
    )
    masked = re.sub(
        rf"(\x00\d+\x00|[A-Za-z_][\w.]*)\s*::\s*({enum_names})\b",
        _cast_sub,
        masked,
        flags=re.IGNORECASE,
    )

    if cols:
        # ordinal ORDER BY for bare enum columns — EVERY sort item, not
        # just the first (the clause runs to LIMIT/OFFSET/paren end)
        from duckdb_server_spark.dialect import (
            _depth_at,
            _split_top_commas,
        )

        out_parts = []
        pos = 0
        for om in re.finditer(r"\bORDER\s+BY\s+", masked, re.IGNORECASE):
            if om.start() < pos:
                continue
            depth = _depth_at(masked, om.start())
            end = len(masked)
            for em in re.finditer(
                r"\bLIMIT\b|\bOFFSET\b|\bFETCH\b|[()]", masked[om.end():]
            ):
                tok = em.group(0)
                at = om.end() + em.start()
                d = _depth_at(masked, at)
                if tok == "(" or tok == ")":
                    if tok == ")" and d == depth:
                        end = at
                        break
                    continue
                if d == depth:
                    end = at
                    break
            items = _split_top_commas(masked[om.end() : end])
            fixed = []
            for item in items:
                im = re.match(
                    r"^(\s*)([A-Za-z_][\w.]*)"
                    r"(\s*(?:ASC|DESC)?(?:\s+NULLS\s+(?:FIRST|LAST))?\s*)$",
                    item,
                    re.IGNORECASE,
                )
                ename = (
                    cols.get(im.group(2).split(".")[-1].lower())
                    if im
                    else None
                )
                if im and ename is not None:
                    fixed.append(
                        f"{im.group(1)}array_position("
                        f"{_enum_array(state.enums[ename])}, "
                        f"{im.group(2)}){im.group(3)}"
                    )
                else:
                    fixed.append(item)
            out_parts.append(masked[pos : om.end()])
            # the splitter strips whitespace: keep a separator before
            # any clause keyword that follows (LIMIT/OFFSET/FETCH)
            out_parts.append(", ".join(fixed) + " ")
            pos = end
        out_parts.append(masked[pos:])
        masked = "".join(out_parts)

        # enum-enum comparisons and min/max on bare enum columns
        def _cmp_sub(m: re.Match) -> str:
            a, op, b = m.group(1), m.group(2), m.group(3)
            ea, eb = (
                cols.get(a.split(".")[-1].lower()),
                cols.get(b.split(".")[-1].lower()),
            )
            if ea is None or eb is None or ea != eb:
                return m.group(0)
            arr = _enum_array(state.enums[ea])
            return (
                f"array_position({arr}, {a}) {op} array_position({arr}, {b})"
            )

        masked = re.sub(
            r"\b([A-Za-z_][\w.]*)\s*(<=|>=|<|>)\s*([A-Za-z_][\w.]*)\b",
            _cmp_sub,
            masked,
        )

        def _minmax_sub(m: re.Match) -> str:
            fn, col = m.group(1).lower(), m.group(2)
            ename = cols.get(col.split(".")[-1].lower())
            if ename is None:
                return m.group(0)
            arr = _enum_array(state.enums[ename])
            return (
                f"element_at({arr}, CAST({fn}(array_position({arr}, {col}))"
                f" AS INT))"
            )

        masked = re.sub(
            r"\b(min|max)\s*\(\s*([A-Za-z_][\w.]*)\s*\)",
            _minmax_sub,
            masked,
            flags=re.IGNORECASE,
        )
    return _unmask(masked, table)


def _strip_enum_cast(expr: str, state) -> str:
    """x::mood / CAST(x AS mood) -> x (for enum_code's argument)."""
    e = expr.strip()
    m = re.match(r"^(.*?)::\s*([A-Za-z_]\w*)\s*$", e)
    if m and m.group(2).lower() in state.enums:
        return m.group(1)
    m = re.match(r"^CAST\s*\((.*)\s+AS\s+([A-Za-z_]\w*)\s*\)$", e,
                 re.IGNORECASE | re.DOTALL)
    if m and m.group(2).lower() in state.enums:
        return m.group(1)
    return e


# ---------------------------------------------------------------------------
# DML tails: RETURNING, UPDATE … FROM, DELETE … USING
# ---------------------------------------------------------------------------


def split_clauses(masked: str, keywords: tuple[str, ...]) -> dict:
    """Split masked DML tail text on the given top-level keywords (in
    statement order). Returns {None: head, KW: text-after-kw, …} with
    each clause's text running to the next recognized keyword."""
    from duckdb_server_spark.dialect import _depth_at

    hits: list[tuple[int, int, str]] = []
    for kw in keywords:
        for m in re.finditer(rf"\b{kw}\b", masked, re.IGNORECASE):
            if _depth_at(masked, m.start()) == 0:
                hits.append((m.start(), m.end(), kw.upper()))
                break
    hits.sort()
    out: dict = {None: masked[: hits[0][0]] if hits else masked}
    for i, (s, e, kw) in enumerate(hits):
        end = hits[i + 1][0] if i + 1 < len(hits) else len(masked)
        out[kw] = masked[e:end].strip().rstrip(";")
    return out


def split_returning(body: str) -> tuple[str, str | None]:
    """Split a trailing top-level RETURNING clause off a DML body."""
    from duckdb_server_spark.dialect import _depth_at, _mask, _unmask

    masked, table = _mask(body)
    for m in re.finditer(r"\bRETURNING\b", masked, re.IGNORECASE):
        if _depth_at(masked, m.start()) == 0:
            return (
                _unmask(masked[: m.start()], table).rstrip(),
                _unmask(masked[m.end() :], table).strip().rstrip(";"),
            )
    return body, None


def project_returning(spark: SparkSession, rows: DataFrame,
                      returning: str) -> DataFrame:
    """Evaluate a RETURNING projection over the affected rows (DuckDB
    returns them instead of the Count row)."""
    from duckdb_server_spark.dialect import _track_temp_view, run_sql

    view = f"__dd_returning_{next(_SCRATCH_IDS)}"
    rows.createOrReplaceTempView(view)
    _track_temp_view(spark, view)
    return run_sql(spark, f"SELECT {returning} FROM {view}")


def run_update_from(spark: SparkSession, state, target: str,
                    assigns_text: str, from_text: str, cond: str | None,
                    returning: str | None) -> DataFrame:
    """``UPDATE t SET … FROM rel WHERE cond`` — the join-update: match
    target rows to source rows on the predicate, apply assignments
    (which may reference source columns), keep everything else. A
    synthetic row id keys the merge, so the join shuffles ids + assigned
    values only; a target row matching MULTIPLE source rows fails closed
    (Postgres picks one arbitrarily — an engine that answers
    deterministically shouldn't guess)."""
    from duckdb_server_spark.dialect import (
        _count_frame,
        _materialize,
        _mask,
        _split_top_commas,
        _track_temp_view,
        _unmask,
        run_sql,
    )

    if not cond:
        raise ValueError("UPDATE … FROM requires a WHERE predicate")
    old = spark.table(target)
    by_lower = {c.lower(): c for c in old.columns}
    masked, table = _mask(assigns_text)
    assigns: dict[str, str] = {}
    for item in _split_top_commas(masked):
        am = re.match(r'^\s*"?([A-Za-z_]\w*)"?\s*=\s*(.+)$', item, re.DOTALL)
        if not am:
            raise ValueError("UPDATE expects col = expr assignments")
        col = am.group(1).lower()
        if col not in by_lower:
            raise ValueError(f"UPDATE: unknown column {am.group(1)!r}")
        assigns[col] = _unmask(am.group(2).strip(), table)
    rid = F.monotonically_increasing_id()
    tr = _materialize(spark, old.withColumn("__dd_rid", rid))
    base_view = f"__dd_upd_base_{next(_SCRATCH_IDS)}"
    tr.createOrReplaceTempView(base_view)
    _track_temp_view(spark, base_view)
    # alias the rid'd snapshot AS the target name so the user's
    # predicate/assignment references resolve unchanged
    sel = ", ".join(
        [f"{target}.__dd_rid AS __dd_rid"]
        + [
            f"({e}) AS `__dd_new_{c}`"
            for c, e in ((c, assigns[c]) for c in sorted(assigns))
        ]
    )
    upd = run_sql(
        spark,
        f"SELECT {sel} FROM {base_view} AS {target} "
        f"JOIN {from_text} ON ({cond})",
    )
    upd = _materialize(spark, upd)
    n_matched = upd.count()
    if (
        upd.groupBy("__dd_rid")
        .count()
        .where(F.col("count") > 1)
        .limit(1)
        .count()
    ):
        raise ValueError(
            "UPDATE … FROM: a target row matches multiple source rows"
        )
    joined = tr.join(upd.withColumn("__dd_m", F.lit(True)), "__dd_rid",
                     "left")
    meta = state.tables.get(target.lower())
    if meta is not None:
        for col in assigns:
            if col in meta.generated:
                raise ValueError(
                    f"Binder Error: Cannot update a generated column "
                    f"{col!r}"
                )
    new = joined.select(
        *[
            F.when(
                F.col("__dd_m").eqNullSafe(True),
                F.col(f"__dd_new_{c.lower()}"),
            )
            .otherwise(F.col(c))
            .cast(old.schema[c].dataType)
            .alias(c)
            if c.lower() in assigns
            else F.col(c)
            for c in old.columns
        ]
    )
    new = _materialize(spark, apply_generated(spark, state, target, new, old))
    enforce_constraints(spark, state, target, new)
    new.createOrReplaceTempView(target)
    if returning is not None:
        post = joined.filter(F.col("__dd_m").eqNullSafe(True)).select(
            *[
                F.col(f"__dd_new_{c.lower()}")
                .cast(old.schema[c].dataType)
                .alias(c)
                if c.lower() in assigns
                else F.col(c)
                for c in old.columns
            ]
        )
        return project_returning(spark, _materialize(spark, post), returning)
    return _count_frame(spark, n_matched)
