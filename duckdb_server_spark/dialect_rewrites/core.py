"""Dialect core: literal masking, balanced-paren/keyword scanners, the
one DuckDB→Spark type-name map (:func:`spark_type`, used by every cast
target, typed literal, ALTER/CREATE TABLE column, read_csv column and
from_json spec, with the storage spelling for stored columns) and its
reverse for DESCRIBE/typeof, the cast-target pass, hash primitives, and
the run_sql late-binding indirection (split from dialect.py, round 11)."""

from __future__ import annotations

import datetime as _dt
import re
import threading
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession



class DialectError(ValueError):
    """A rewrite determined the statement is DuckDB-dialect but cannot
    be served faithfully. Unlike generic rewrite failures — where the
    input may simply have been Spark-dialect all along — falling back
    to native Spark here would silently run DIFFERENT semantics (e.g.
    Spark's 32-bit Murmur3 for DuckDB's hash()), so run_sql re-raises
    instead of retrying."""


# ---------------------------------------------------------------------------
# literal / identifier masking
# ---------------------------------------------------------------------------

_PLACEHOLDER = "\x00{}\x00"

_PLACEHOLDER_RE = re.compile("\x00(\\d+)\x00")



def _mask(sql: str) -> tuple[str, list[str]]:
    """Replace string literals and quoted identifiers with placeholders so
    every downstream regex can ignore quoting. Double-quoted identifiers
    (DuckDB/ANSI) are converted to backticks (Spark) on restore; ``--`` and
    ``/* */`` comments are dropped."""
    out: list[str] = []
    table: list[str] = []
    i, n = 0, len(sql)
    while i < n:
        c = sql[i]
        if c == "'":
            j = i + 1
            while j < n:
                if sql[j] == "'":
                    if j + 1 < n and sql[j + 1] == "'":  # '' escape
                        j += 2
                        continue
                    break
                j += 1
            table.append(sql[i : j + 1])
            out.append(_PLACEHOLDER.format(len(table) - 1))
            i = j + 1
        elif c == '"':
            j = i + 1
            while j < n:
                if sql[j] == '"':
                    if j + 1 < n and sql[j + 1] == '"':
                        j += 2
                        continue
                    break
                j += 1
            ident = sql[i + 1 : j].replace('""', '"')
            table.append("`" + ident.replace("`", "``") + "`")
            out.append(_PLACEHOLDER.format(len(table) - 1))
            i = j + 1
        elif c == "`":  # already-Spark identifier: mask as-is
            j = i + 1
            while j < n and sql[j] != "`":
                j += 1
            table.append(sql[i : j + 1])
            out.append(_PLACEHOLDER.format(len(table) - 1))
            i = j + 1
        elif c == "-" and sql[i : i + 2] == "--":
            j = sql.find("\n", i)
            i = n if j < 0 else j
        elif c == "/" and sql[i : i + 2] == "/*":
            j = sql.find("*/", i + 2)
            i = n if j < 0 else j + 2
        else:
            out.append(c)
            i += 1
    return "".join(out), table



def _unmask(sql: str, table: list[str]) -> str:
    return _PLACEHOLDER_RE.sub(lambda m: table[int(m.group(1))], sql)



def _literal_value(token: str) -> str | None:
    """The python string behind a masked single-quote literal, else None."""
    if token.startswith("'") and token.endswith("'"):
        return token[1:-1].replace("''", "'")
    return None



# ---------------------------------------------------------------------------
# balanced-paren helpers (operate on masked SQL)
# ---------------------------------------------------------------------------


def _matching_paren(s: str, open_idx: int) -> int:
    depth = 0
    for i in range(open_idx, len(s)):
        if s[i] == "(":
            depth += 1
        elif s[i] == ")":
            depth -= 1
            if depth == 0:
                return i
    raise ValueError("unbalanced parentheses in SQL")



def _split_top_commas(s: str) -> list[str]:
    parts, depth, start = [], 0, 0
    for i, c in enumerate(s):
        if c in "([{":
            depth += 1
        elif c in ")]}":
            depth -= 1
        elif c == "," and depth == 0:
            parts.append(s[start:i])
            start = i + 1
    parts.append(s[start:])
    return [p.strip() for p in parts if p.strip()]



def _find_top_keyword(s: str, words: tuple[str, ...], start: int = 0) -> tuple[int, str]:
    """First depth-0 occurrence of any keyword in ``words`` at/after
    ``start``; returns (index, matched word) or (-1, "")."""
    pat = re.compile(r"\b(" + "|".join(words) + r")\b", re.IGNORECASE)
    depth = 0
    i = start
    while i < len(s):
        c = s[i]
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif depth == 0:
            m = pat.match(s, i)
            if m:
                return i, m.group(1).upper()
        i += 1
    return -1, ""



def _masked_literal(table: list[str], text: str) -> str:
    table.append("'" + text.replace("'", "''") + "'")
    return f"\x00{len(table) - 1}\x00"



# ---------------------------------------------------------------------------
# DuckDB type names -> Spark SQL type spellings
# ---------------------------------------------------------------------------

# The one DuckDB→Spark type-name map, for every position a client writes
# a type: cast targets, typed literals, ALTER TABLE, read_csv(columns=…),
# CREATE TABLE columns and from_json specs. Unsigned integers widen to the
# next signed type without DuckDB's range check; HUGEINT (int128) has no
# JVM primitive and rides DECIMAL(38,0). JSON is its text, as DuckDB
# stores it. Names it does not know (TIME, INTERVAL, BIT …) are left to
# the rules that own them.
DUCK_TYPES = {
    "TINYINT": "TINYINT", "INT1": "TINYINT",
    "SMALLINT": "SMALLINT", "INT2": "SMALLINT", "SHORT": "SMALLINT",
    "INTEGER": "INT", "INT": "INT", "INT4": "INT", "SIGNED": "INT",
    "BIGINT": "BIGINT", "INT8": "BIGINT", "LONG": "BIGINT",
    "HUGEINT": "DECIMAL(38,0)", "UHUGEINT": "DECIMAL(38,0)",
    "UTINYINT": "SMALLINT", "USMALLINT": "INT", "UINTEGER": "BIGINT",
    "UBIGINT": "DECIMAL(20,0)",
    "FLOAT": "FLOAT", "REAL": "FLOAT", "FLOAT4": "FLOAT",
    "DOUBLE": "DOUBLE", "FLOAT8": "DOUBLE", "DOUBLE PRECISION": "DOUBLE",
    "VARCHAR": "STRING", "TEXT": "STRING", "STRING": "STRING",
    "CHAR": "STRING", "BPCHAR": "STRING",
    "BOOLEAN": "BOOLEAN", "BOOL": "BOOLEAN", "LOGICAL": "BOOLEAN",
    "DATE": "DATE",
    "TIMESTAMP": "TIMESTAMP", "DATETIME": "TIMESTAMP",
    # instant type: Spark's TIMESTAMP is LTZ and the session is pinned
    # UTC, so a TIMESTAMPTZ value (offset spelling included) parses to
    # the same instant DuckDB stores
    "TIMESTAMPTZ": "TIMESTAMP", "TIMESTAMP WITH TIME ZONE": "TIMESTAMP",
    "BLOB": "BINARY", "BYTEA": "BINARY", "BINARY": "BINARY",
    "VARBINARY": "BINARY",
    "UUID": "STRING", "JSON": "STRING",
}

# Stored columns (CREATE TABLE, from_json specs): DuckDB TIMESTAMP is
# wall-clock, Spark's NTZ flavor; TIME has no Spark type and is kept as
# its text form (the representation the make_time/typed-literal rewrites
# use).
STORAGE_TYPES = {
    **DUCK_TYPES,
    "TIMESTAMP": "TIMESTAMP_NTZ", "DATETIME": "TIMESTAMP_NTZ",
    "TIME": "STRING", "TIMETZ": "STRING", "TIME WITH TIME ZONE": "STRING",
}

# The reverse map: Spark type → DuckDB spelling, shared by DESCRIBE,
# information_schema and typeof(). Both Spark timestamp types map
# to DuckDB TIMESTAMP: the warehouse loader relabels parquet NTZ
# timestamps to UTC-pinned LTZ (session.py load_table — wall-clock
# identical under the pinned UTC session), so Spark TIMESTAMP here IS the
# engine's representation of DuckDB's TIMESTAMP over the same parquet.
_DUCK_TYPE_NAMES = {
    "tinyint": "TINYINT",
    "smallint": "SMALLINT",
    "int": "INTEGER",
    "bigint": "BIGINT",
    "float": "FLOAT",
    "double": "DOUBLE",
    "string": "VARCHAR",
    "boolean": "BOOLEAN",
    "date": "DATE",
    "timestamp_ntz": "TIMESTAMP",
    "timestamp": "TIMESTAMP",
    "binary": "BLOB",
}

_STRUCT_FIELD_RE = re.compile(
    r'\s*("?)([A-Za-z_]\w*|\x00\d+\x00)\1\s+(.+)', re.DOTALL
)


def spark_type(t: str, names: dict[str, str] = DUCK_TYPES) -> str | None:
    """DuckDB type spelling -> Spark SQL type text, or None when any part
    of it is a name ``names`` does not know. Covers ``T[]``/``T[N]``
    lists, DECIMAL/NUMERIC/DEC (bare means DuckDB's DECIMAL(18,3)),
    STRUCT/ROW(name T, …), MAP(K, V), parameterized names (VARCHAR(10))
    and the multi-word names."""
    t = t.strip()
    if t.endswith("]"):
        m = re.fullmatch(r"(.*?)\s*\[\s*\d*\s*\]", t, re.DOTALL)
        inner = m and spark_type(m.group(1), names)
        return inner and f"ARRAY<{inner}>"
    up = re.sub(r"\s+", " ", t.upper())
    if up in names:
        return names[up]
    m = re.fullmatch(r"([A-Za-z_]\w*)\s*(?:\((.*)\))?", t, re.DOTALL)
    if m is None:
        return None
    base, args = m.group(1).upper(), m.group(2)
    if base in ("DECIMAL", "NUMERIC", "DEC"):
        return f"DECIMAL({args})" if args else "DECIMAL(18,3)"
    if args is None:
        return None
    parts = _split_top_commas(args)
    if base in ("STRUCT", "ROW") and parts:
        fields = []
        for item in parts:
            fm = _STRUCT_FIELD_RE.fullmatch(item)
            ft = fm and spark_type(fm.group(3), names)
            if not ft:
                return None
            fields.append(f"{fm.group(2)}: {ft}")
        return f"STRUCT<{', '.join(fields)}>"
    if base == "MAP":
        kv = [spark_type(p, names) for p in parts]
        return f"MAP<{kv[0]}, {kv[1]}>" if len(kv) == 2 and all(kv) else None
    return names.get(base)


# a type name, the multi-word ones first
_TYPE_NAME = (
    r"(?:DOUBLE\s+PRECISION|TIMESTAMP\s+WITH\s+TIME\s+ZONE|[A-Za-z_]\w*)"
)

_DCOLON_TYPE_RE = re.compile(rf"::\s*{_TYPE_NAME}", re.IGNORECASE)

_CAST_OPEN_RE = re.compile(r"\b(?:TRY_)?CAST\s*\(", re.IGNORECASE)

_TOP_AS_SCAN_RE = re.compile(r"[()\[\]]|\bAS\b", re.IGNORECASE)


def _respell(s: str, start: int, end: int) -> str:
    """``s`` with the DuckDB type text ``s[start:end]`` spelled in Spark
    (unchanged when the map does not know it or the spelling agrees)."""
    ty = s[start:end].strip()
    sp = spark_type(ty)
    if sp is None or sp.upper() == re.sub(r"\s+", " ", ty.upper()):
        return s
    start = s.index(ty, start)
    return s[:start] + sp + s[start + len(ty):]


def _rewrite_cast_types(s: str) -> str:
    """Spell every cast target in Spark through :func:`spark_type`: the
    type after ``::`` and the type after the last top-level AS inside
    ``CAST(``/``TRY_CAST(``. No other AS is touched, so column and table
    aliases named like types (``SELECT 1 AS varchar``) keep their names.
    Runs BEFORE _rewrite_string_array_casts (which needs the ARRAY<>
    target) and _rewrite_struct_map (so a MAP(K, V) cast target is never
    mistaken for DuckDB's two-list map() constructor)."""
    pos = 0
    while m := _DCOLON_TYPE_RE.search(s, pos):
        start, end = m.start() + 2, m.end()
        if p := re.match(r"\s*\(", s[end:]):
            end = _matching_paren(s, end + p.end() - 1) + 1
        while q := re.match(r"\s*\[\s*\d*\s*\]", s[end:]):
            end += q.end()
        s = _respell(s, start, end)
        pos = start + 1
    pos = 0
    while m := _CAST_OPEN_RE.search(s, pos):
        close = _matching_paren(s, m.end() - 1)
        type_at, depth = -1, 0
        for tok in _TOP_AS_SCAN_RE.finditer(s, m.end(), close):
            c = tok.group(0)
            if c in "([":
                depth += 1
            elif c in ")]":
                depth -= 1
            elif depth == 0:
                type_at = tok.end()
        if type_at >= 0:
            s = _respell(s, type_at, close)
        pos = m.end()
    return s



_DD_NULL_HASH = 13787848793156543929  # DuckDB's hash of NULL (any type)

_DD_HASH_MASK = (1 << 64) - 1

_DD_HASH_COMBINE_K = 0xBF58476D1CE4E5B9



def _dd_murmur_fin(x: int) -> int:
    """DuckDB's integer hash — the xor-shift/multiply finalizer over the
    value's unsigned representation at its own type width (probed
    against live DuckDB for every width; duckdb hash.hpp murmurhash64)."""
    M = _DD_HASH_MASK
    x &= M
    x ^= x >> 32
    x = (x * 0xD6E8FEB86659FD93) & M
    x ^= x >> 32
    x = (x * 0xD6E8FEB86659FD93) & M
    x ^= x >> 32
    return x



def _dd_murmur64a(data: bytes, seed: int = 0xE17A1465) -> int:
    """MurmurHash64A — DuckDB's VARCHAR/BLOB hash (seed probed: the
    classic 0xe17a1465; verified byte-for-byte on live DuckDB)."""
    M = _DD_HASH_MASK
    m, r = 0xC6A4A7935BD1E995, 47
    h = (seed ^ ((len(data) * m) & M)) & M
    i = 0
    while i + 8 <= len(data):
        k = int.from_bytes(data[i : i + 8], "little")
        k = (k * m) & M
        k ^= k >> r
        k = (k * m) & M
        h = ((h ^ k) * m) & M
        i += 8
    tail = data[i:]
    if tail:
        h ^= int.from_bytes(tail, "little")
        h = (h * m) & M
    h ^= h >> r
    h = (h * m) & M
    h ^= h >> r
    return h



def _primary_end(s: str, start: int) -> int:
    """Forward walk past unary signs and ONE primary expression starting
    at/after ``start`` (identifier/number/mask chars, call/bracket
    groups, and a trailing ``OVER (…)`` clause); returns the end index
    (exclusive)."""
    i = start
    while i < len(s) and s[i] in " \t\n":
        i += 1
    while i < len(s) and s[i] in "+-":
        i += 1
        while i < len(s) and s[i] in " \t\n":
            i += 1
    begun = False
    while i < len(s):
        c = s[i]
        if c.isalnum() or c in "_.\x00":
            i += 1
            begun = True
        elif c in "([" and begun or c == "(":
            depth = 0
            while i < len(s):
                if s[i] in "([":
                    depth += 1
                elif s[i] in ")]":
                    depth -= 1
                    if depth == 0:
                        i += 1
                        break
                i += 1
            begun = True
        else:
            break
    # a windowed aggregate "agg(x) OVER (…)" is one primary
    m = re.match(r"\s+OVER\s*\(", s[i:], re.IGNORECASE)
    if begun and m:
        open_idx = i + m.end() - 1
        i = _matching_paren(s, open_idx) + 1
    # a postfix '::type' cast binds tighter than any binary operator
    # (DuckDB: a / b::INT divides by the cast divisor) — consume chained
    # casts, parameterized types, and array-type suffixes as the primary
    while begun:
        m2 = re.match(r"\s*::\s*([A-Za-z_]\w*)", s[i:])
        if not m2:
            break
        i += m2.end()
        m3 = re.match(r"\s*\(", s[i:])
        if m3:
            i = _matching_paren(s, i + m3.end() - 1) + 1
        while m4 := re.match(r"\s*\[\s*\]", s[i:]):
            i += m4.end()
    return i



_EXPR_HEAD_KEYWORDS = {
    "SELECT", "WHERE", "AND", "OR", "NOT", "ON", "WHEN", "THEN", "ELSE",
    "BY", "HAVING", "RETURN", "IN", "LIKE", "RLIKE", "BETWEEN", "CASE",
    "UNION", "ALL", "DISTINCT", "AS", "SET", "VALUES", "QUALIFY",
}



def _primary_back(s: str, end: int) -> int:
    """Backward walk over ONE primary expression ending at ``end``
    (exclusive): identifier/number/mask chars and call/bracket groups,
    plus a unary sign when what precedes it cannot end an expression
    (operator, opening paren, comma, or a clause keyword — so ``-1`` in
    ``WHERE -1 = …`` binds, but the minus in ``a - 1`` does not).
    Returns the start index."""
    j = end - 1
    while j >= 0:
        if s[j] in ")]":
            depth = 1
            openc = "(" if s[j] == ")" else "["
            closec = s[j]
            j -= 1
            while j >= 0 and depth:
                if s[j] == closec:
                    depth += 1
                elif s[j] == openc:
                    depth -= 1
                j -= 1
        elif s[j].isalnum() or s[j] in "_.\x00":
            while j >= 0 and (s[j].isalnum() or s[j] in "_.\x00"):
                j -= 1
        elif s[j] in " \t\n:" and j + 1 < end:
            # what we consumed so far may be the TYPE of a postfix
            # '::' cast — if so, the cast and its operand are one primary
            k = j
            while k >= 0 and s[k] in " \t\n":
                k -= 1
            if k >= 1 and s[k] == ":" and s[k - 1] == ":":
                j = k - 2
                while j >= 0 and s[j] in " \t\n":
                    j -= 1
            else:
                break
        else:
            break
    start = j + 1
    k = j
    while k >= 0 and s[k] in " \t\n":
        k -= 1
    if k >= 0 and s[k] in "+-":
        p = k - 1
        while p >= 0 and s[p] in " \t\n":
            p -= 1
        if p < 0 or s[p] in "(,=<>*/%^|+-":
            return k
        wm = re.search(r"([A-Za-z_]\w*)$", s[: p + 1])
        if wm and wm.group(1).upper() in _EXPR_HEAD_KEYWORDS:
            return k
    return start



def _primary_fwd(s: str, start: int) -> int:
    """Forward walk over ONE primary expression starting at ``start``:
    an optional unary sign, then an identifier path / number / mask /
    bracket group, then postfix call parens, subscripts, and ``::``
    casts. Returns the exclusive end index."""
    n = len(s)
    j = start
    while j < n and s[j] in " \t\n":
        j += 1
    if j < n and s[j] in "+-":
        j += 1
        while j < n and s[j] in " \t\n":
            j += 1
    if j < n and s[j] in "([":
        openc, closec = s[j], ")" if s[j] == "(" else "]"
        depth = 1
        j += 1
        while j < n and depth:
            if s[j] == openc:
                depth += 1
            elif s[j] == closec:
                depth -= 1
            j += 1
    elif j < n and (s[j].isalnum() or s[j] in "_\x00"):
        while j < n and (s[j].isalnum() or s[j] in "_.\x00"):
            j += 1
    else:
        return start
    # postfix: call parens, subscripts, :: casts
    while j < n:
        k = j
        while k < n and s[k] in " \t\n":
            k += 1
        if k < n and s[k] in "([":
            openc, closec = s[k], ")" if s[k] == "(" else "]"
            depth = 1
            k += 1
            while k < n and depth:
                if s[k] == openc:
                    depth += 1
                elif s[k] == closec:
                    depth -= 1
                k += 1
            j = k
        elif k + 1 < n and s[k] == ":" and s[k + 1] == ":":
            k += 2
            while k < n and s[k] in " \t\n":
                k += 1
            while k < n and (s[k].isalnum() or s[k] == "_"):
                k += 1
            j = k
        else:
            break
    return j



def _run_sql_late(spark: SparkSession, sql: str):
    """Call-time indirection to dialect.run_sql — the statement router
    and prepared-statement binder run sub-SELECTs back through the full
    serving pipeline (mutual recursion across the module split)."""
    from duckdb_server_spark.dialect import run_sql

    return run_sql(spark, sql)
