"""Breadth rewrites: struct/map literals, function templates, typed literals, temporal folding, POSITIONAL JOIN, fetch/limit forms (split from dialect.py, round 11)."""

from __future__ import annotations

import datetime as _dt
import re
import threading
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from duckdb_server_spark.dialect_rewrites.core import (  # noqa: F401
    DialectError,
    _DD_HASH_COMBINE_K,
    _DD_HASH_MASK,
    _DD_NULL_HASH,
    _dd_murmur64a,
    _dd_murmur_fin,
    _literal_value,
    _masked_literal,
    _matching_paren,
    _primary_back,
    _primary_end,
    _primary_fwd,
    _split_top_commas,
    _unmask,
    DUCK_TYPES,
    STORAGE_TYPES,
    _TYPE_NAME,
    spark_type,
)

from duckdb_server_spark.dialect_rewrites.exprs import (  # noqa: F401
    _DYN_INTERVAL_UNITS,
    _TO_INTERVAL_UNIT,
    _TO_YM_SCALE,
    _strftime_to_java,
)



# ---------------------------------------------------------------------------
# r7 breadth batch: struct/map literals, function templates, POSITIONAL JOIN
# ---------------------------------------------------------------------------


def _matching_brace(s: str, open_idx: int) -> int:
    depth = 0
    for i in range(open_idx, len(s)):
        if s[i] == "{":
            depth += 1
        elif s[i] == "}":
            depth -= 1
            if depth == 0:
                return i
    raise ValueError("unbalanced braces in SQL")



_STRUCT_KEY_RE = re.compile(r"^(\x00\d+\x00|[A-Za-z_]\w*)\s*:\s*(.*)$", re.DOTALL)



def _rewrite_struct_literals(s: str, table: list[str]) -> str:
    """DuckDB struct literals ``{'k': v, ...}`` → ``named_struct('k', v,
    ...)`` and map literals ``MAP {k: v, ...}`` → ``map(k, v, ...)``.
    Operates innermost-first so nesting resolves naturally; string keys
    are already masked, bare-identifier keys become string literals.
    Braces cannot appear anywhere else in masked DuckDB SQL (list
    comprehensions are rewritten earlier), so an unparseable brace body
    fails closed."""
    while True:
        open_idx = -1
        for i, c in enumerate(s):
            if c == "{":
                open_idx = i
            elif c == "}" and open_idx >= 0:
                break
        else:
            return s
        close = _matching_brace(s, open_idx)
        body = s[open_idx + 1 : close]
        head = s[:open_idx].rstrip()
        is_map = bool(re.search(r"\bMAP$", head, re.IGNORECASE))
        parts = []
        for pair in _split_top_commas(body):
            m = _STRUCT_KEY_RE.match(pair) if not is_map else None
            if is_map:
                ci = pair.find(":")
                if ci < 0:
                    raise ValueError(f"bad map literal entry {pair!r}")
                parts.append((pair[:ci].strip(), pair[ci + 1 :].strip()))
            elif m:
                key = m.group(1)
                if not key.startswith("\x00"):
                    table.append(f"'{key}'")
                    key = f"\x00{len(table) - 1}\x00"
                parts.append((key, m.group(2).strip()))
            else:
                raise ValueError(f"bad struct literal entry {pair!r}")
        inner = ", ".join(f"{k}, {v}" for k, v in parts)
        if is_map:
            start = re.search(r"\bMAP$", head, re.IGNORECASE).start()
            s = s[:start] + f"map({inner})" + s[close + 1 :]
        else:
            s = s[:open_idx] + f"named_struct({inner})" + s[close + 1 :]



_TS_UNITS = {
    "year", "quarter", "month", "week", "day", "hour", "minute", "second",
    "millisecond", "microsecond",
}

_DOW_FIELDS = {"dow", "dayofweek", "weekday"}


# DuckDB fmt-style format(): {} / {:d} / {:s} / {:.Nf} holes → printf
_FMT_HOLE_RE = re.compile(r"\{(:[^}]*)?\}")



def _fmt_to_printf(fmt: str) -> tuple[str, list[str | None]]:
    """fmt-style template → (printf template, per-hole cast types).
    Java's Formatter rejects Decimal for %d/%f, so holes with a typed
    spec report the SQL type their argument must be cast to."""
    out = fmt.replace("%", "%%")
    casts: list[str | None] = []

    def hole(m):
        spec = m.group(1)
        if spec in (None, ":", ":s"):
            casts.append(None)
            return "%s"
        if spec == ":d":
            casts.append("BIGINT")
            return "%d"
        if spec in (":x", ":X", ":o"):
            casts.append("BIGINT")
            return "%" + spec[1:]
        pm = re.fullmatch(r":\.(\d+)f", spec)
        if pm:
            casts.append("DOUBLE")
            return f"%.{pm.group(1)}f"
        raise ValueError(f"format(): unsupported spec {{{spec}}}")

    return _FMT_HOLE_RE.sub(hole, out), casts



def _duck_json_spec_to_ddl(spec) -> str:
    """DuckDB from_json structure spec ('["BIGINT"]', '{"a":"VARCHAR"}')
    → Spark DDL type string; unknown type names fail closed."""
    if isinstance(spec, str):
        ddl = spark_type(spec, STORAGE_TYPES)
        if ddl is None:
            raise ValueError(f"from_json: unsupported type {spec!r}")
        return ddl
    if isinstance(spec, list):
        if len(spec) != 1:
            raise ValueError("from_json: list spec needs one element type")
        return f"array<{_duck_json_spec_to_ddl(spec[0])}>"
    if isinstance(spec, dict):
        fields = ",".join(
            f"{k}:{_duck_json_spec_to_ddl(v)}" for k, v in spec.items()
        )
        return f"struct<{fields}>"
    raise ValueError("from_json: unsupported structure spec")



def _arg_list_items(arg: str) -> list[str] | None:
    """Items of a list-valued argument in either pre-rewrite ``[a, b]``
    or post-rewrite ``array(a, b)`` spelling; None if not a list."""
    t = arg.strip()
    if t.startswith("[") and t.endswith("]"):
        return [x.strip() for x in _split_top_commas(t[1:-1])]
    if re.match(r"(?i)^array\s*\(", t) and t.endswith(")"):
        open_idx = t.index("(")
        if _matching_paren(t, open_idx) == len(t) - 1:
            return [
                x.strip()
                for x in _split_top_commas(t[open_idx + 1 : -1])
            ]
    return None



def _struct_ctor_values(arg: str) -> list[str] | None:
    """Field VALUE expressions of a textual struct constructor —
    row(a, b) / struct(a, b) / struct_pack(k := a) / named_struct('k',
    a) — or None for anything else (round-12 hunt C)."""
    t = arg.strip()
    m = re.match(r"(?i)^(row|struct|struct_pack|named_struct)\s*\(", t)
    if not m:
        return None
    open_idx = t.index("(", m.start())
    if _matching_paren(t, open_idx) != len(t) - 1:
        return None
    items = _split_top_commas(t[open_idx + 1 : -1])
    kind = m.group(1).lower()
    if kind in ("row", "struct"):
        return items or None
    if kind == "struct_pack":
        vals = []
        for it in items:
            if ":=" not in it:
                return None
            vals.append(it.split(":=", 1)[1])
        return vals or None
    if len(items) % 2:
        return None
    return items[1::2] or None


def _flatten_named_struct(expr: str) -> str:
    """Textually flatten nested named_struct literals to their leaf
    (key, value) pairs — DuckDB's recursive struct unnest keeps the
    LEAF field names. Non-struct values pass through untouched."""
    m = re.match(r"(?i)\s*named_struct\s*\(", expr)
    if not m:
        return expr
    close = _matching_paren(expr, m.end() - 1)
    items = _split_top_commas(expr[m.end() : close])
    pairs: list[str] = []
    for i in range(0, len(items) - 1, 2):
        key, val = items[i].strip(), items[i + 1].strip()
        if re.match(r"(?i)\s*named_struct\s*\(", val):
            inner = _flatten_named_struct(val)
            im = re.match(r"(?i)\s*named_struct\s*\(", inner)
            iclose = _matching_paren(inner, im.end() - 1)
            pairs.extend(
                x.strip()
                for x in _split_top_commas(inner[im.end() : iclose])
            )
        else:
            pairs.extend((key, val))
    return "named_struct(" + ", ".join(pairs) + ")"



_FMT_SPEC_RE = re.compile(
    r"\{(\d*)(?::([<>]?)(0?)(\d*)(?:\.(\d+))?([dxXfse,]?))?\}"
)


def _fmt_sig_sql(a: str, prec: int) -> str:
    """fmt's ``{:.N}`` on a NUMERIC argument — N SIGNIFICANT digits in
    the none-type general format (battery 39, probed on DuckDB 1.0,
    262/265 over a 53-value × 5-precision grid):

    * scientific (`d.dde+XX`, zeros KEPT) when the rounded exponent X
      >= N or < -4 — Java's %e prints the identical shape;
    * fixed for X >= 0: all N significant digits kept (2.0 -> '2.00'),
      and at least one fraction digit ('120' -> '120.0');
    * fixed for X < 0: trailing zeros STRIPPED (0.5 -> '0.5'), with the
      bundled fmt's quirk reproduced bug-compatibly: leading zeros
      after the point CLAMP at N, shifting deeper values up
      ('{:.1}' of 0.002 -> '0.02', of 0.0002 -> '0.02').

    Build (bround demands a FOLDABLE scale, so the rounding happens at
    a constant scale after a power-of-ten shift): a first %e estimates
    the decimal exponent X1, the value divides by 10^(X1-N+1) so the N
    significant digits land in the integer part, bround(…, 0) rounds
    half-even, and the digit string comes from that exact integer
    mantissa (≤ 2^53, BIGINT-exact) — all JVM-side builtins, no UDF.

    Pinned residuals (tests/test_r12_dialect_b39.py): values whose
    SHORTEST repr is a decimal tie at position N but whose binary
    value is not exactly that tie ('{:.1}' of 0.95: binary
    0.9499… -> DuckDB '0.9', while every JVM decimal path sees '0.95'
    -> '1.0'), subnormals (4.9e-324: Java zero-pads the shortest repr,
    fmt prints exact binary digits), and values within ~1 ulp of a
    rounding boundary when |X1-N+1| > 22 (the shift power itself
    rounds). Exact binary ties (0.25, 2.5, 0.125…) round half-even
    identically on both sides."""
    v = f"CAST({a} AS DOUBLE)"
    av = f"abs({v})"
    e1 = f"format_string('%.{prec - 1}e', {av})"
    x1 = f"CAST(element_at(split({e1}, 'e'), 2) AS INT)"
    pw = f"CAST(concat('1e', CAST({x1} - {prec - 1} AS STRING)) AS DOUBLE)"
    mant = f"bround({av} / {pw}, 0)"
    carry = f"(CASE WHEN {mant} >= {10 ** prec}d THEN 1 ELSE 0 END)"
    x = f"({x1} + {carry})"
    m = (
        f"CAST(CAST(CASE WHEN {carry} = 1 THEN {mant} / 10 "
        f"ELSE {mant} END AS BIGINT) AS STRING)"
    )
    sign = f"CASE WHEN {v} < 0 THEN '-' ELSE '' END"
    frac = f"substr({m}, 2)"
    sci = (
        f"concat({sign}, substr({m}, 1, 1), "
        f"CASE WHEN {frac} = '' THEN '' ELSE concat('.', {frac}) END, "
        f"'e', CASE WHEN {x} < 0 THEN '-' ELSE '+' END, "
        f"CASE WHEN abs({x}) < 10 THEN concat('0', CAST(abs({x}) AS "
        f"STRING)) ELSE CAST(abs({x}) AS STRING) END)"
    )
    fixed_big = (
        f"concat({sign}, substr({m}, 1, {x} + 1), "
        f"CASE WHEN {x} + 1 >= {prec} THEN '.0' "
        f"ELSE concat('.', substr({m}, {x} + 2)) END)"
    )
    small = (
        f"concat({sign}, '0.', regexp_replace(concat("
        f"repeat('0', least(-{x} - 1, {prec})), {m}), '0+$', ''))"
    )
    zero_out = "0." + "0" * max(prec - 1, 1)
    return (
        f"CASE WHEN ({a}) IS NULL THEN NULL "
        f"WHEN isnan({v}) THEN 'nan' "
        f"WHEN {v} = double('Infinity') THEN 'inf' "
        f"WHEN {v} = double('-Infinity') THEN '-inf' "
        f"WHEN {v} = 0d THEN concat({sign}, '{zero_out}') "
        f"WHEN {av} < 2.3e-308d THEN concat({sign}, {e1}) "
        f"WHEN {x} >= {prec} OR {x} < -4 THEN {sci} "
        f"WHEN {x} >= 0 THEN {fixed_big} "
        f"ELSE {small} END"
    )


def _format_fmt_template(args: list[str], table: list[str]) -> str | None:
    """DuckDB's fmt-style ``format('{}…', args…)`` (battery hunt, round
    11) → format_string with a converted template. Probed subset:
    ``{}``/``{N}`` default rendering (integral doubles print without
    the trailing .0 — '42' not '42.0'), ``{:>W}``/``{:<W}`` alignment,
    ``{:[0W].Nf}``, ``{:d}``, ``{:x}``/``{:X}``, ``{:,}`` thousands
    grouping, and ``{{``/``}}`` escapes. Unsupported specs return None
    (the call stays unresolved — an error, never a silent guess)."""
    lit = (
        _literal_value(_unmask(args[0].strip(), table))
        if re.fullmatch(r"\x00\d+\x00", args[0].strip())
        else None
    )
    if lit is None:
        return None
    vals = args[1:]

    def default_render(a: str) -> str:
        # probed: {} renders strings/bools/dates/doubles exactly like
        # Spark's CAST AS STRING ('42.0' keeps its .0), while DECIMAL
        # literals print with trailing fraction zeros stripped
        # (1.50 -> '1.5') — fold decimal LITERALS at rewrite time.
        # Residual (documented): DECIMAL-typed columns render at their
        # declared scale.
        t = a.strip()
        if re.fullmatch(r"\x00\d+\x00", t):
            return a
        if re.fullmatch(r"-?\d+\.\d+", t):
            # decimal literal: trailing zeros strip but at least one
            # fraction digit stays (probed: 1.500 -> '1.5',
            # 42.00 -> '42.0', -3.1400 -> '-3.14')
            s = t.rstrip("0")
            if s.endswith("."):
                s += "0"
            return _masked_literal(table, s)
        return f"CAST({a} AS STRING)"

    out = []
    new_args: list[str] = []
    used: list[str] = []
    pos = 0
    seq = 0
    ok = True
    text = lit.replace("%", "%%")
    while pos < len(text):
        c = text[pos]
        if text[pos : pos + 2] in ("{{", "}}"):
            out.append(c)
            pos += 2
            continue
        if c == "}":
            return None  # stray close brace
        if c != "{":
            out.append(c)
            pos += 1
            continue
        m = _FMT_SPEC_RE.match(text, pos)
        if not m:
            return None
        idx_s, align, zero, width, prec, conv = m.groups()
        if idx_s:
            idx = int(idx_s)
        else:
            idx = seq
            seq += 1
        if idx >= len(vals):
            return None
        a = vals[idx]
        used.append(a)
        w = width or ""
        if prec is not None and conv in ("d", "x", "X", ","):
            return None  # fmt: "precision not allowed" on int types
        is_str_lit = bool(re.fullmatch(r"\x00\d+\x00", a.strip()))
        if conv == "f":
            out.append(f"%{zero}{w}.{prec or '6'}f")
            new_args.append(f"CAST({a} AS DOUBLE)")
        elif conv == "e":
            if zero:
                return None
            flag = "-" if align == "<" else ""
            out.append(f"%{flag}{w}.{prec or '6'}e")
            new_args.append(f"CAST({a} AS DOUBLE)")
        elif conv == "s" or (not conv and prec is not None
                             and is_str_lit):
            # fmt strings: precision TRUNCATES; width LEFT-aligns by
            # default (numbers right-align) — probed '{:8.4}' of
            # 'abcdefg' = 'abcd    '
            if zero:
                return None
            flag = "" if align == ">" else "-" if (align == "<" or w) else ""
            p = f".{prec}" if prec is not None else ""
            out.append(f"%{flag}{w}{p}s")
            new_args.append(a)
        elif not conv and prec is not None:
            # {:.N} on a numeric argument: SIGNIFICANT digits (battery
            # 39) — see _fmt_sig_sql. Non-literal string args reaching
            # this path fail at runtime on the ANSI double cast (an
            # error, never silent truncation-vs-rounding confusion).
            # {:.0} stays fail-closed (fmt's P=0 prints '1000'-style
            # magnitude-only output, out of the probed subset).
            if zero or int(prec) == 0:
                return None
            flag = "-" if align == "<" else ""
            out.append(f"%{flag}{w}s")
            new_args.append(_fmt_sig_sql(a, int(prec)))
        elif conv == "d":
            out.append(f"%{zero}{w}d")
            new_args.append(f"CAST({a} AS BIGINT)")
        elif conv in ("x", "X"):
            out.append(f"%{zero}{w}{conv}")
            new_args.append(f"CAST({a} AS BIGINT)")
        elif conv == ",":
            out.append(f"%{w}s")
            new_args.append(f"format_number(CAST({a} AS BIGINT), 0)")
        elif align or width:
            flag = "-" if align == "<" else ""
            out.append(f"%{flag}{w}s")
            new_args.append(default_render(a))
        elif not conv:
            out.append("%s")
            new_args.append(default_render(a))
        else:
            return None
        pos = m.end()
    if not ok:
        return None
    tmpl = _masked_literal(table, "".join(out))
    if not new_args:
        return f"format_string({tmpl})"
    # fmt returns NULL when any consumed argument is NULL (probed);
    # Java's Formatter would print the string 'null'
    null_any = " OR ".join(
        f"({a}) IS NULL" for a in dict.fromkeys(used)
    )
    return (
        f"(CASE WHEN {null_any} THEN CAST(NULL AS STRING) "
        f"ELSE format_string({tmpl}, {', '.join(new_args)}) END)"
    )


def _template(fn: str, args: list[str], table: list[str]) -> str | None:
    """Structural rewrites for DuckDB functions whose Spark equivalent
    needs argument reshaping (not just a rename). Returns None to leave
    the call untouched (native or out of scope)."""
    if fn == "to_base" and len(args) == 2:
        return f"conv({args[0]}, 10, {args[1]})"
    if fn == "printf" and len(args) >= 2:
        # Java's Formatter rejects Decimal args for %d/%x/%f — cast each
        # argument to the type its conversion demands (probed: DuckDB
        # printf('%x', 255) = 'ff'; Spark format_string errors uncast)
        lit = (
            _literal_value(_unmask(args[0].strip(), table))
            if re.fullmatch(r"\x00\d+\x00", args[0].strip())
            else None
        )
        if lit is not None:
            convs = re.findall(
                r"%(?:(\d+)\$)?[-+ #0,(]*\d*(?:\.\d+)?([a-zA-Z%])", lit
            )
            # %N$ positional conversions cast args[N], not the next
            # textual argument (probed: DuckDB printf('%2$s=%1$d', 7,
            # 'k') = 'k=7'); sequential conversions consume their own
            # ordinal counter, matching Java Formatter. Conflicting
            # casts for one argument → leave the call native.
            n_args = len(args) - 1
            casts: list[str | None] = [None] * n_args
            seq = 0
            for pos, c in convs:
                if c == "%":
                    continue
                if c in "diuxXo":
                    want = "BIGINT"
                elif c in "eEfgGaA":
                    want = "DOUBLE"
                else:
                    want = None
                idx = int(pos) - 1 if pos else seq
                if not pos:
                    seq += 1
                if idx < 0 or idx >= n_args:
                    return None
                if want:
                    if casts[idx] not in (None, want):
                        return None
                    casts[idx] = want
            vals = [
                f"CAST({a} AS {t})" if t else a
                for a, t in zip(args[1:], casts)
            ]
            return f"format_string({args[0]}, {', '.join(vals)})"
        return None
    if (
        fn in ("substr", "substring")
        and len(args) == 3
        and re.fullmatch(r"-\d+", args[2].strip())
    ):
        # DuckDB: a NEGATIVE length extends BACKWARDS from the start
        # position (clamped at 1): substr('hello', 4, -2) = 'el',
        # substr('hello', 3, -99) = 'he' (probed live). Spark returns ''.
        # Literal negative lengths only — positive literals (the hot
        # path) stay native.
        sarg, a, c = args[0], args[1], int(args[2])
        p = (f"(CASE WHEN ({a}) < 0 THEN length({sarg}) + ({a}) + 1 "
             f"ELSE ({a}) END)")
        start = f"greatest({p} + {c}, 1)"
        return f"substring({sarg}, {start}, {p} - {start})"
    if (
        fn in ("substr", "substring")
        and len(args) == 3
        and args[1].strip() == "0"
    ):
        # round-12 hunt: DuckDB's start 0 is a real (empty) position —
        # the window [0, len-1] clips to characters 1..len-1
        # (substring('hello', 0, 3) = 'he'); Spark treats 0 as 1.
        # Literal zero only — negative starts count from the END on
        # both sides and already agree.
        return (
            f"substring({args[0]}, 1, greatest(0, ({args[2]}) - 1))"
        )
    if fn == "regexp_extract" and len(args) == 2:
        # round-12 hunt: DuckDB's default capture group is 0 (the FULL
        # match); Spark's default is group 1 — silently different
        # whenever the pattern has a capture group
        return f"regexp_extract({args[0]}, {args[1]}, 0)"
    if fn == "split_part" and len(args) == 3:
        # round-12 hunt, probed: index 0 → '' (Spark raises); an EMPTY
        # delimiter splits per character (negative index from the end —
        # substr's native behavior); a NULL string or index returns ''
        # (Spark returns NULL); a NULL delimiter acts as NOT FOUND
        # (whole string at index ±1, '' elsewhere)
        s_, d_, n_ = args
        return (
            f"(CASE WHEN ({s_}) IS NULL OR ({n_}) IS NULL OR "
            f"({n_}) = 0 THEN '' "
            f"WHEN ({d_}) IS NULL THEN "
            f"CASE WHEN ({n_}) IN (1, -1) THEN ({s_}) ELSE '' END "
            f"WHEN ({d_}) = '' THEN coalesce(substr({s_}, {n_}, 1), '') "
            f"ELSE split_part({s_}, {d_}, {n_}) END)"
        )
    if (
        fn == "round"
        and len(args) in (1, 2)
        and re.fullmatch(r"-?\d+\.\d+", args[0].strip())
    ):
        # round-12 hunt: DuckDB types 2.5 as DECIMAL(2,1), so round(2.5)
        # is DECIMAL HALF_UP ('3'); Spark's bare literal is DOUBLE
        # (HALF_EVEN, prints 3.0). Pin the literal's decimal type.
        lit = args[0].strip()
        digits = len(lit.lstrip("-").replace(".", ""))
        scale = len(lit.split(".")[1])
        cast = f"CAST({lit} AS DECIMAL({digits},{scale}))"
        rest = f", {args[1]}" if len(args) == 2 else ""
        return f"round({cast}{rest})"
    if fn == "list_intersect" and len(args) == 2:
        # round-12 hunt B: DuckDB EXCLUDES a shared NULL from the
        # intersection ([1,2,NULL] ∩ [2,3,NULL] = [2]); Spark keeps it
        return (
            f"filter(array_intersect({args[0]}, {args[1]}), "
            f"__dd_x -> __dd_x IS NOT NULL)"
        )
    if fn == "map_from_entries" and len(args) == 1:
        # round-14 hunt G wave 5: the map-building idiom
        # map_from_entries(list_zip(k, v)) — the pairs-as-arrays
        # list_zip lowering cannot feed map_from_entries (and mixed
        # key/value types cannot share an array); Spark's
        # map_from_arrays IS this composition
        a0 = args[0].strip()
        # the inner list_zip has already been template-rewritten to
        # the pairs-as-arrays zip_with form — match that shape
        zm = re.match(r"(?is)^(?:list_zip|zip_with)\s*\(", a0)
        if zm:
            open_idx = a0.index("(")
            close = _matching_paren(a0, open_idx)
            if close == len(a0) - 1:
                inner = _split_top_commas(a0[open_idx + 1 : close])
                if len(inner) >= 2 and (
                        len(inner) == 2
                        or "array(__dd_x, __dd_y)" in inner[2]):
                    return (f"map_from_arrays({inner[0].strip()}, "
                            f"{inner[1].strip()})")
        return None
    if fn == "list_zip" and len(args) == 2:
        # round-12 hunt B: pads the shorter list with NULLs and keeps
        # ELEMENT TYPES (the old dd_list_zip SQL UDF forced ARRAY<
        # DOUBLE>, silently retyping integer zips). Pairs stay arrays —
        # DuckDB's structs subscript positionally (p[1]) and the
        # subscript lowering targets arrays, so array pairs keep every
        # existing p[i] consumer working; the struct-vs-array repr at
        # top level is the documented acceptance.
        if re.fullmatch(r"(?i)\s*(true|false)\s*", args[-1]):
            raise ValueError(
                "list_zip: the truncate flag is not supported"
            )
        return (
            f"zip_with({args[0]}, {args[1]}, "
            f"(__dd_x, __dd_y) -> array(__dd_x, __dd_y))"
        )
    if fn == "list_zip" and len(args) > 2:
        raise ValueError(
            "list_zip: only the two-list form is supported"
        )
    if fn == "any_value" and len(args) == 1:
        # round-12 hunt B: DuckDB's any_value returns the first
        # NON-NULL value; Spark's default keeps NULLs eligible
        return f"any_value({args[0]}, true)"
    if fn == "sign" and len(args) == 1:
        # DuckDB returns TINYINT (-1/0/1) for every input type; Spark's
        # signum returns DOUBLE
        return f"CAST(sign({args[0]}) AS INT)"
    if fn in ("dayofweek", "weekday") and len(args) == 1:
        # DuckDB: Sunday=0..Saturday=6; Spark's dayofweek is Sunday=1
        return f"(dayofweek({args[0]}) - 1)"
    if fn in ("list_extract", "array_extract") and len(args) == 2:
        # DuckDB: 1-based, index 0 and out-of-range give NULL, negative
        # counts from the end; Spark's element_at RAISES on 0 under ANSI
        return f"try_element_at({args[0]}, nullif({args[1]}, 0))"
    if (
        fn == "contains"
        and len(args) == 2
        and (args[0].strip().startswith("[")
             or re.match(r"(?i)^\s*array\s*\(", args[0]))
    ):
        # round-12 hunt E: DuckDB's contains() is polymorphic — a LIST
        # first argument means membership (Spark's contains is
        # string-only and analysis-errors). Textual list detection;
        # list COLUMNS keep the native string resolution (documented).
        return _template("list_contains", args, table)
    if fn in ("list_contains", "list_has", "array_has") and len(args) == 2:
        if args[1].strip().upper() == "NULL":
            # a bare NULL needle fails Spark analysis (untyped); DuckDB
            # returns NULL
            return "CAST(NULL AS BOOLEAN)"
        # DuckDB IGNORES NULL elements: list_contains([1,NULL], 2) is
        # false; Spark's array_contains is three-valued (NULL). A NULL
        # list or needle stays NULL on both.
        return (
            f"CASE WHEN ({args[0]}) IS NULL OR ({args[1]}) IS NULL "
            f"THEN CAST(NULL AS BOOLEAN) "
            f"ELSE coalesce(array_contains({args[0]}, {args[1]}), false) "
            f"END"
        )
    if fn in ("list_concat", "list_cat", "array_concat") and len(args) >= 2:
        # DuckDB SKIPS NULL list arguments (list_concat([1], NULL) is
        # [1]); only all-NULL returns NULL. Spark concat propagates NULL.
        live = [a for a in args if a.strip().upper() != "NULL"]
        if not live:
            return "NULL"
        if len(live) == 1:
            return f"({live[0]})"
        null_all = " AND ".join(f"({a}) IS NULL" for a in live)
        body = ", ".join(f"coalesce({a}, array())" for a in live)
        return f"CASE WHEN {null_all} THEN NULL ELSE concat({body}) END"
    if fn == "flatten" and len(args) == 1:
        # DuckDB flatten skips NULL sublists; Spark returns NULL
        return (f"flatten(filter({args[0]}, "
                f"__dd_fl -> __dd_fl IS NOT NULL))")
    if fn in ("json_extract", "json_extract_path",
              "json_extract_string") and len(args) == 2:
        is_str = fn == "json_extract_string"
        arg1 = args[1].strip()
        if arg1.startswith("[") and arg1.endswith("]"):
            # a LIST of paths → list of per-path extracts. Spark rejects
            # Python UDFs inside lambda bodies, so expand the literal
            # list into one shim call per element.
            shim = "dd_json_extract_str" if is_str else "dd_json_extract"
            paths = _split_top_commas(arg1[1:-1])
            return ("array(" + ", ".join(
                f"{shim}({args[0]}, {p.strip()})" for p in paths
            ) + ")")
        lit = (
            _literal_value(_unmask(arg1, table))
            if re.fullmatch(r"\x00\d+\x00", arg1)
            else None
        )
        if lit is not None and "[*]" in lit:
            # wildcard paths return a LIST of matches
            shim = ("dd_json_extract_str_list" if is_str
                    else "dd_json_extract_list")
            return f"{shim}({args[0]}, {args[1]})"
        if is_str:
            # exotic literal paths (JSON Pointer, from-end index, bare
            # key) take the full walker; the $-dotted subset keeps the
            # JVM get_json_object fast path (the _FN_RENAMES route)
            if lit is not None and not re.fullmatch(
                r"\$(\.\w+|\[\d+\]|\['[^']*'\])*", lit
            ):
                return f"dd_json_extract_str({args[0]}, {args[1]})"
            return None
        return None  # plain dd_json_extract rename applies
    if fn == "json_array_length" and len(args) == 2:
        return f"json_array_length(dd_json_extract({args[0]}, {args[1]}))"
    if fn == "map_concat" and len(args) >= 2:
        # round-13 hunt F: DuckDB's map_concat LAST-WINS on duplicate
        # keys, keeping the FIRST occurrence's position (probed:
        # {'a':1,'b':9} ++ {'b':2} → keys [a,b], values [1,2]); Spark's
        # native map_concat raises DUPLICATED_MAP_KEY. Build last-win
        # from entries: keep first-occurrence positions, take each
        # key's last value. (Map LITERALS with duplicate keys error on
        # both engines, so no global dedup policy is set.) The entries
        # expression is textually repeated — map_concat args are small.
        # single left fold: first occurrence keeps its POSITION, a later
        # duplicate overwrites the VALUE in place (index-free — the
        # dialect's 1-based lambda-index adapter must not touch this)
        ents = "concat(" + ", ".join(
            f"map_entries({a.strip()})" for a in args) + ")"
        return (
            f"map_from_entries(aggregate({ents}, slice({ents}, 1, 0), "
            f"(__dd_acc, __dd_e) -> CASE WHEN exists(__dd_acc, "
            f"__dd_p -> __dd_p.key <=> __dd_e.key) THEN "
            f"transform(__dd_acc, __dd_p -> CASE WHEN "
            f"__dd_p.key <=> __dd_e.key THEN __dd_e ELSE __dd_p END) "
            f"ELSE concat(__dd_acc, array(__dd_e)) END))"
        )
    if fn == "list_reduce" and len(args) == 2:
        lst, lam = args
        return (
            f"aggregate(slice({lst}, 2, greatest(size({lst}) - 1, 0)), "
            f"element_at({lst}, 1), {lam})"
        )
    if fn in ("date_sub", "datesub") and len(args) == 3:
        unit = (_literal_value(_unmask(args[0], table)) or "").lower().rstrip("s")
        if unit not in _TS_UNITS:
            return None
        # round-13 hunt F: TIME literal operands fold here (this
        # template runs before the TIME-arithmetic pass) — elapsed
        # full units, truncated toward zero (probed ±89 for
        # 10:00:30 ↔ 11:30:00)
        ta = _time_literal_micros(args[1], table)
        tb = _time_literal_micros(args[2], table)
        if ta is not None and tb is not None:
            unit_us = _TIME_DYN_UNIT_US.get(unit)
            if unit_us is None or unit == "day":
                return None  # DuckDB errors on date units for TIME
            n = abs(tb - ta) // unit_us
            return f"CAST({n if tb >= ta else -n} AS BIGINT)"
        return f"timestampdiff({unit.upper()}, {args[1]}, {args[2]})"
    if (
        fn in ("datepart", "date_part")
        and len(args) == 2
        and (names := _arg_list_items(args[0])) is not None
    ):
        # list form datepart(['year','month'], x) → struct of parts
        pairs = []
        for ph in names:
            ph = ph.strip()
            if _literal_value(_unmask(ph, table)) is None:
                return None  # field names must be literals
            sub = _template(fn, [ph, args[1]], table) or f"datepart({ph}, {args[1]})"
            pairs.append(f"{ph}, CAST({sub} AS BIGINT)")
        return "named_struct(" + ", ".join(pairs) + ")"
    if fn in ("datepart", "date_part") and len(args) == 2:
        field = (_literal_value(_unmask(args[0], table)) or "").lower()
        if field in _DOW_FIELDS:
            return f"(dayofweek({args[1]}) - 1)"
        if field == "epoch":
            # round-13 hunt F: date_part('epoch', x) — same fractional
            # DOUBLE seconds as EXTRACT(EPOCH FROM x) / epoch(x); TIME
            # literals fold to seconds-since-midnight
            repl = _time_epoch_seconds(args[1], table)
            if repl is not None:
                return repl
            return (
                f"(CAST(unix_micros(CAST(({args[1]}) AS TIMESTAMP)) "
                f"AS DOUBLE) / 1000000)"
            )
        if field == "isodow":
            lit = _masked_literal(table, "DAYOFWEEK_ISO")
            return f"date_part({lit}, {args[1]})"
        if field in _XFIELD_EXPRS:
            # round-12 hunt: the part names Spark's extract lacks.
            # Probed: isoyear('2005-01-01') = 2004 (= YEAROFWEEK);
            # julian = epoch/86400 + 2440588 with the day fraction
            # (DATE → .0, noon TIMESTAMP → .5); era 1 for CE; decade =
            # floor(year/10) ('0001' → 0); century/millennium round UP
            # (2000 → 20 / 2, 2001 → 21 / 3). Common-era dates only
            # (the fixtures' domain — Spark's proleptic year() agrees
            # there).
            return _XFIELD_EXPRS[field].format(x=args[1])
        return None
    if fn == "log" and len(args) == 1:
        # DuckDB's 1-arg log is LOG BASE 10 (ln is ln); Spark's is the
        # natural log — a silent wrong answer without this. 2-arg
        # log(base, x) agrees on both engines.
        return f"log10({args[0]})"
    if fn == "yearweek" and len(args) == 1:
        # ISO year * 100 + ISO week (202001 for 2020-01-01)
        return (
            f"CAST(extract(YEAROFWEEK FROM {args[0]}) * 100 "
            f"+ weekofyear({args[0]}) AS BIGINT)"
        )
    if fn == "isoyear" and len(args) == 1:
        return f"CAST(extract(YEAROFWEEK FROM {args[0]}) AS BIGINT)"
    if fn == "julian" and len(args) == 1:
        # DuckDB's julian(): 1970-01-01 00:00 → 2440588.0 (calendar-day
        # anchored, not the astronomical noon-epoch 2440587.5)
        return (
            f"(unix_micros(CAST({args[0]} AS TIMESTAMP)) "
            f"/ CAST(86400000000 AS DOUBLE) + 2440588.0)"
        )
    if fn == "era" and len(args) == 1:
        return f"(CASE WHEN year({args[0]}) > 0 THEN 1 ELSE 0 END)"
    if fn == "century" and len(args) == 1:
        # extract convention: 2001 → 21, 2000 → 20 (proper centuries —
        # unlike date_diff's year/100 bucket counting)
        return f"CAST(ceil(year({args[0]}) / 100.0) AS BIGINT)"
    if fn == "millennium" and len(args) == 1:
        return f"CAST(ceil(year({args[0]}) / 1000.0) AS BIGINT)"
    if fn == "decade" and len(args) == 1:
        return f"CAST(floor(year({args[0]}) / 10.0) AS BIGINT)"
    if fn == "epoch_ms" and len(args) == 1:
        # round-14 hunt G: epoch_ms is OVERLOADED in DuckDB —
        # epoch_ms(TIMESTAMP) → BIGINT milliseconds, but
        # epoch_ms(BIGINT ms) → TIMESTAMP (the inverse). An integer
        # literal selects the inverse; non-literal integer expressions
        # are the documented residual (no kinds at template depth)
        if re.fullmatch(r"\s*[+-]?\d+\s*", args[0]):
            return f"timestamp_millis({args[0]})"
        return f"unix_millis(CAST({args[0]} AS TIMESTAMP))"
    if fn == "epoch_us" and len(args) == 1:
        return f"unix_micros(CAST({args[0]} AS TIMESTAMP))"
    if fn == "epoch_ns" and len(args) == 1:
        return f"(unix_micros(CAST({args[0]} AS TIMESTAMP)) * 1000)"
    if fn in ("string_agg", "group_concat") and len(args) == 1:
        # DuckDB's 1-arg default separator is ',' (Spark listagg: '');
        # the ORDER BY-inside form stays for the ordered-agg rewrite,
        # which applies the same default
        if re.search(r"\bORDER\s+BY\b", args[0], re.IGNORECASE):
            return None
        comma = _masked_literal(table, ",")
        return f"listagg({args[0]}, {comma})"
    if fn == "regexp_matches" and len(args) == 3:
        # flags argument → inline (?ims) groups; 'c' (case-sensitive,
        # the default) and 'g' (find-anywhere is already the semantics)
        # drop; unknown flags fail closed
        flags = _literal_value(_unmask(args[2], table))
        pat = _literal_value(_unmask(args[1], table))
        if flags is None or pat is None:
            raise ValueError("regexp_matches: flags must be a literal")
        inline = ""
        for f in flags:
            if f in "ims":
                inline += f
            elif f not in "cg":
                raise ValueError(f"regexp_matches: unsupported flag {f!r}")
        newpat = _masked_literal(
            table, (f"(?{inline})" if inline else "") + pat
        )
        return f"regexp_like({args[0]}, {newpat})"
    if fn == "timezone" and len(args) == 2:
        # timezone(tz, x) — DuckDB's function spelling of AT TIME ZONE:
        # same instant-vs-wall-clock dispatch on the operand's spelling
        tz, x = args
        if re.match(r"(?i)^\s*TIMESTAMPTZ\b", x) or re.search(
            r"(?i)::\s*TIMESTAMPTZ\s*$", x
        ):
            return f"from_utc_timestamp({x}, {tz})"
        return f"to_utc_timestamp({x}, {tz})"
    if fn in (
        "parse_filename", "parse_dirpath", "parse_path", "parse_dirname"
    ) and (1 <= len(args) <= 3):
        # optional args: a trim_extension boolean (parse_filename only)
        # and/or a separator spec; DuckDB's default is both slashes
        trim, sep_spec = False, None
        for extra in args[1:]:
            txt = _unmask(extra, table).strip()
            if txt.lower() in ("true", "false"):
                trim = txt.lower() == "true"
                continue
            lit = _literal_value(txt)
            if lit is None:
                raise ValueError(f"{fn}: unsupported argument {txt!r}")
            sep_spec = lit.lower()
        if sep_spec in (None, "system", "both_slash"):
            cls = r"/\\\\"
        elif sep_spec == "forward_slash":
            cls = "/"
        elif sep_spec == "backslash":
            cls = r"\\\\"
        else:
            raise ValueError(f"{fn}: unknown separator {sep_spec!r}")
        p = args[0]
        empty = _masked_literal(table, "")
        if fn == "parse_filename":
            pat = _masked_literal(table, f"([^{cls}]*)$")
            expr = f"regexp_extract({p}, {pat}, 1)"
            if trim:
                ext = _masked_literal(table, r"\\.[^.]*$")
                expr = f"regexp_replace({expr}, {ext}, {empty})"
            return expr
        if fn == "parse_dirpath":
            # everything before the LAST separator ('' when none);
            # an all-separator path is its own dirpath (probed: DuckDB
            # parse_dirpath('/') = '/', but parse_dirpath('/a') = '')
            root = _masked_literal(table, f"^[{cls}]+$")
            tail = _masked_literal(table, f"[{cls}][^{cls}]*$")
            has = _masked_literal(table, f"[{cls}]")
            return (
                f"(CASE WHEN {p} RLIKE {root} THEN {p} "
                f"WHEN {p} RLIKE {has} "
                f"THEN regexp_replace({p}, {tail}, {empty}) "
                f"ELSE {empty} END)"
            )
        if fn == "parse_dirname":
            # topmost directory: the separator itself for an absolute
            # path, the first component otherwise ('' when no separator)
            lead = _masked_literal(table, f"^[{cls}]")
            has = _masked_literal(table, f"[{cls}]")
            first = _masked_literal(table, f"^([^{cls}]*)")
            return (
                f"(CASE WHEN {p} RLIKE {lead} THEN substr({p}, 1, 1) "
                f"WHEN {p} RLIKE {has} "
                f"THEN regexp_extract({p}, {first}, 1) "
                f"ELSE {empty} END)"
            )
        # parse_path: components list; an absolute path keeps its
        # leading separator as the first element, repeats collapse
        sep_re = _masked_literal(table, f"[{cls}]")
        lead = _masked_literal(table, f"^[{cls}]")
        comps = f"filter(split({p}, {sep_re}), __dd_p -> __dd_p != {empty})"
        return (
            f"(CASE WHEN {p} RLIKE {lead} "
            f"THEN concat(array(substr({p}, 1, 1)), {comps}) "
            f"ELSE {comps} END)"
        )
    if fn == "make_time" and len(args) == 3:
        # Spark's TIME type has literals but no constructor function yet
        # — fold literal arguments to a TIME literal (out-of-range
        # values then fail at literal parse, matching DuckDB's error);
        # column arguments stay unsupported (fail closed)
        try:
            h, mi, sec = int(args[0]), int(args[1]), float(args[2])
        except ValueError:
            raise ValueError("make_time: only literal arguments are supported")
        micros = (h * 3600 + mi * 60) * 1_000_000 + round(sec * 1_000_000)
        lit = _masked_literal(table, _fmt_time_micros(micros))
        return f"TIME {lit}"
    if fn == "make_timestamp" and len(args) == 1:
        # DuckDB's 1-arg form takes epoch microseconds
        return f"timestamp_micros({args[0]})"
    if fn in ("bin", "to_binary") and len(args) == 1:
        arg = args[0].strip()
        if (
            re.fullmatch(r"\x00\d+\x00", arg)
            and _literal_value(_unmask(arg, table)) is not None
        ):
            # string literal: 8 bits per UTF-8 byte (DuckDB bin/
            # to_binary on VARCHAR), via hex() nibble expansion
            empty = _masked_literal(table, "")
            return (
                f"array_join(transform(filter(split(hex({arg}), {empty}), "
                f"__dd_d -> __dd_d <> {empty}), "
                f"__dd_d -> lpad(conv(__dd_d, 16, 2), 4, "
                f"{_masked_literal(table, '0')})), {empty})"
            )
        if fn == "to_binary":
            # numeric: DuckDB to_binary aliases bin (Spark's native
            # to_binary would silently hex-DECODE instead)
            return f"bin({arg})"
        return None
    if fn == "struct_insert" and len(args) >= 2:
        base0 = args[0].strip()
        new_fields = []
        for item in args[1:]:
            km = re.match(
                r"^([A-Za-z_]\w*)\s*:=\s*(.+)$", item.strip(), re.DOTALL
            )
            if not km:
                raise ValueError("struct_insert expects name := value pairs")
            new_fields.append((km.group(1), km.group(2).strip()))
        nm = re.match(r"(?i)^named_struct\s*\(", base0)
        if nm and base0.endswith(")"):
            # struct LITERAL base ({'a': 1} arrives as named_struct(...)):
            # rebuild with the appended fields
            inner = base0[base0.index("(") + 1 : -1]
            parts = _split_top_commas(inner)
            if len(parts) % 2 == 0:
                for name, val in new_fields:
                    parts += [_masked_literal(table, name), val]
                return "named_struct(" + ", ".join(parts) + ")"
        if not re.fullmatch(r"[A-Za-z_][\w.]*", base0):
            raise ValueError(
                "struct_insert: base must be a struct column reference "
                "or a struct literal"
            )
        parts = [f"{base0}.*"]
        parts += [f"{val} AS {name}" for name, val in new_fields]
        return f"struct({', '.join(parts)})"
    if fn == "bitstring" and len(args) == 2:
        # BIT strings are carried as '0'/'1' text (the typed-literal
        # rewrite already strips BIT '…' to its display string)
        msg = _masked_literal(
            table, "bitstring: length must be >= input length"
        )
        zero = _masked_literal(table, "0")
        return (
            f"(CASE WHEN length({args[0]}) > ({args[1]}) "
            f"THEN raise_error({msg}) "
            f"ELSE lpad({args[0]}, {args[1]}, {zero}) END)"
        )
    if fn == "get_bit" and len(args) == 2:
        # 0-based from the left; out-of-range fails (ANSI cast of '')
        return f"CAST(substr({args[0]}, ({args[1]}) + 1, 1) AS INT)"
    if fn == "set_bit" and len(args) == 3:
        return (
            f"concat(substr({args[0]}, 1, ({args[1]})), "
            f"CAST({args[2]} AS STRING), substr({args[0]}, ({args[1]}) + 2))"
        )
    if fn == "bit_position" and len(args) == 2:
        # bit_position(needle, haystack): 1-based, 0 when absent
        return f"instr({args[1]}, {args[0]})"
    if fn == "bitstring_agg" and len(args) in (1, 3):
        # BIT with bits set at (v - lo) over [lo, hi]. The 3-arg form is
        # exact parity; the 1-arg form uses the GROUP's own min/max —
        # DuckDB 1.0 reads table-segment statistics there (bounds that
        # ignore WHERE filters), which is engine-internal and not
        # reproducible. Output width is hi-lo+1, so the collect_set is
        # bounded by the result size itself.
        x = f"CAST({args[0]} AS BIGINT)"
        lo = f"CAST({args[1]} AS BIGINT)" if len(args) == 3 else f"min({x})"
        hi = f"CAST({args[2]} AS BIGINT)" if len(args) == 3 else f"max({x})"
        one = _masked_literal(table, "1")
        zero = _masked_literal(table, "0")
        empty = _masked_literal(table, "")
        return (
            f"concat_ws({empty}, transform(sequence({lo}, {hi}), "
            f"__dd_i -> CASE WHEN array_contains(collect_set({x}), __dd_i) "
            f"THEN {one} ELSE {zero} END))"
        )
    if fn == "format" and len(args) >= 1:
        return _format_fmt_template(args, table)
    if fn == "epoch" and len(args) == 1:
        # DuckDB epoch() keeps fractional seconds and returns DOUBLE;
        # TIME literals fold to seconds-since-midnight
        folded = _time_epoch_seconds(args[0], table)
        if folded is not None:
            return f"({folded})"
        return (
            f"(unix_micros(CAST({args[0]} AS TIMESTAMP)) / "
            f"CAST(1000000 AS DOUBLE))"
        )
    if fn == "to_timestamp" and len(args) == 1:
        # DuckDB: seconds-since-epoch (DOUBLE) → TIMESTAMPTZ; collected
        # naive, so NTZ matches. (String input is invalid in DuckDB.)
        return f"CAST(timestamp_seconds({args[0]}) AS TIMESTAMP_NTZ)"
    if fn in _TO_INTERVAL_UNIT and len(args) == 1:
        # DuckDB interval constructors (to_days(n), to_years(n), …) →
        # the make_dt_interval / make_ym_interval equivalents; year/month
        # forms stay calendar-aware in arithmetic
        unit = _TO_INTERVAL_UNIT[fn]
        if unit in _DYN_INTERVAL_UNITS:
            return _DYN_INTERVAL_UNITS[unit].format(e=args[0])
        return f"make_ym_interval({_TO_YM_SCALE[fn]} * ({args[0]}))"
    if fn == "age" and len(args) in (1, 2):
        # DuckDB/Postgres age(): year/month/day interval breakdown with
        # borrow-from-the-start-month; dd_age_seconds replays DuckDB's
        # algorithm AND its client 30-day-month flattening (probed on
        # live 1.0), returned as a day-time interval
        a = args[0]
        b = args[1] if len(args) == 2 else None
        if b is None:
            a, b = "current_date()", a
        return (
            f"make_dt_interval(0, 0, 0, dd_age_seconds("
            f"CAST({a} AS TIMESTAMP_NTZ), CAST({b} AS TIMESTAMP_NTZ)))"
        )
    if (
        fn == "element_at"
        and len(args) == 2
        and re.match(r"(?i)^map\s*[({]", args[0].strip())
    ):
        # DuckDB element_at(map, k) returns the LIST of matches (its
        # map_extract shape — [] for a missing key); literal maps only —
        # typed columns keep Spark's scalar element_at
        return (
            f"transform(filter(map_entries({args[0]}), "
            f"__dd_e -> __dd_e.key = ({args[1]})), "
            f"__dd_e -> __dd_e.value)"
        )
    if fn in ("list_sort", "array_sort") and len(args) in (2, 3):
        # direction/null-order string args; DuckDB defaults NULLS LAST
        direc = (_literal_value(_unmask(args[1], table)) or "").upper()
        nulls = (
            (_literal_value(_unmask(args[2], table)) or "").upper()
            if len(args) == 3
            else "NULLS LAST"
        )
        l = args[0]
        if direc == "ASC":
            return f"sort_array({l})" if nulls == "NULLS FIRST" else f"array_sort({l})"
        if direc == "DESC":
            return (
                f"reverse(array_sort({l}))"
                if nulls == "NULLS FIRST"
                else f"sort_array({l}, false)"
            )
        return None
    if (
        fn in ("json_transform", "from_json_strict",
               "json_transform_strict")
        and len(args) == 2
    ):
        # round-12 hunt D: DuckDB's typed-JSON projection COERCES
        # quoted scalars ('"7"' -> BIGINT 7), which Spark's from_json
        # does not — so FLAT dict specs lower to per-field
        # get_json_object + try_cast (string extraction then cast gets
        # the DuckDB coercion; failures read NULL like the non-strict
        # form). Nested specs stay out of the subset (unresolved —
        # an error, never a silently uncoerced NULL).
        spec_text = _literal_value(_unmask(args[1], table))
        if spec_text is None:
            return None
        import json as _json

        try:
            spec = _json.loads(spec_text.replace("\\\\", "\\"))
        except ValueError:
            return None
        if not isinstance(spec, dict) or not all(
            isinstance(v, str) for v in spec.values()
        ):
            return None
        pairs = []
        for k, v in spec.items():
            try:
                ddl = _duck_json_spec_to_ddl(v)
            except ValueError:
                return None
            key = _masked_literal(table, k)
            path = _masked_literal(table, f"$.{k}")
            pairs.append(
                f"{key}, try_cast(get_json_object({args[0]}, {path}) "
                f"AS {ddl})"
            )
        return "named_struct(" + ", ".join(pairs) + ")"
    if fn == "from_json" and len(args) == 2:
        spec_text = _literal_value(_unmask(args[1], table))
        if spec_text is None:
            return None
        import json as _json

        try:
            spec = _json.loads(spec_text.replace("\\\\", "\\"))
        except ValueError:
            return None
        ddl = _duck_json_spec_to_ddl(spec)
        lit = _masked_literal(table, ddl)
        return f"from_json({args[0]}, {lit})"
    if fn in (
        "like_escape", "not_like_escape", "ilike_escape", "not_ilike_escape"
    ) and len(args) == 3:
        s_, p_, e_ = args
        if fn.endswith("ilike_escape"):
            expr = f"(lower({s_}) LIKE lower({p_}) ESCAPE {e_})"
        else:
            expr = f"({s_} LIKE {p_} ESCAPE {e_})"
        return f"(NOT {expr})" if fn.startswith("not_") else expr
    if fn == "json_group_array" and len(args) == 1:
        # list(…) keeps DuckDB's ORDER BY-inside-aggregate support (the
        # ordered-agg rewrite runs later and the name renames to
        # collect_list); insertion order without ORDER BY is engine-
        # specific in both systems
        return f"to_json(list({args[0]}))"
    if fn == "json_group_object" and len(args) == 2:
        return (
            f"to_json(map_from_entries(list(struct({args[0]}, {args[1]}))))"
        )
    if fn == "array_length" and len(args) == 2:
        if args[1].strip() != "1":
            raise ValueError("array_length: only dimension 1 is supported")
        return f"size({args[0]})"
    if (
        fn == "regexp_extract"
        and len(args) == 3
        and (names := _arg_list_items(args[2])) is not None
    ):
        # named-group list form → struct of the capture groups
        pairs = []
        for i, ph in enumerate(names):
            ph = ph.strip()
            if _literal_value(_unmask(ph, table)) is None:
                return None
            pairs.append(
                f"{ph}, regexp_extract({args[0]}, {args[1]}, {i + 1})"
            )
        return "named_struct(" + ", ".join(pairs) + ")"
    if fn == "json_quote" and len(args) == 1:
        a = args[0].strip()
        if re.fullmatch(r"\x00\d+\x00", a):
            return f"dd_json_quote({a})"  # string value → quoted JSON
        if re.fullmatch(r"-?\d+(\.\d+)?", a):
            return _masked_literal(table, a)  # numeric → its JSON text
        return None  # typed columns need type context — fail closed
    if fn == "chr" and len(args) == 1:
        # DuckDB chr() takes a Unicode CODE POINT; Spark's chr is
        # mod-256 Latin-1 — silent mojibake beyond 255. Java's %c
        # formats a code point.
        return f"format_string('%c', CAST({args[0]} AS INT))"
    if fn == "bar" and len(args) in (3, 4):
        w = args[3] if len(args) == 4 else "80"
        return f"dd_bar({args[0]}, {args[1]}, {args[2]}, {w})"
    if fn in ("list_prepend", "array_prepend") and len(args) == 2:
        # DuckDB: (elem, list); Spark: (array, elem)
        return f"array_prepend({args[1]}, {args[0]})"
    if fn == "array_push_front" and len(args) == 2:
        return f"array_prepend({args[0]}, {args[1]})"
    if fn == "typeof" and len(args) == 1:
        return f"dd_typeof_name(typeof({args[0]}))"
    if fn == "version" and not args:
        lit = _masked_literal(table, "v1.0.0")
        return lit
    if fn == "txid_current" and not args:
        # serving is read-only single-transaction (the reference's
        # DoAction transactions are Unimplemented, main.go:121-124)
        return "CAST(0 AS BIGINT)"
    if fn == "bit_count" and len(args) == 1:
        # DuckDB counts bits within the VALUE'S OWN type width; Spark
        # promotes to 64-bit. Mask explicit narrow casts and plain
        # integer literals (DuckDB types those INTEGER); other shapes
        # keep Spark's 64-bit reading.
        a = args[0].strip()
        widths = {
            "tinyint": 0xFF, "int1": 0xFF,
            "smallint": 0xFFFF, "int2": 0xFFFF, "short": 0xFFFF,
            "integer": 0xFFFFFFFF, "int": 0xFFFFFFFF, "int4": 0xFFFFFFFF,
            "signed": 0xFFFFFFFF,
        }
        cm = re.fullmatch(
            r"(?is)CAST\s*\(.*\s+AS\s+(\w+)\s*\)", a
        ) or re.fullmatch(r"(?is).*::\s*(\w+)", a)
        if cm and cm.group(1).lower() in widths:
            return f"bit_count(({a}) & {widths[cm.group(1).lower()]})"
        if re.fullmatch(r"-?\d+", a) and abs(int(a)) <= 2**31 - 1:
            return f"bit_count(({a}) & {0xFFFFFFFF})"
        return None
    if fn == "list_distinct" and len(args) == 1:
        # DuckDB dedups AND drops NULLs; its element order is internal
        # hash order, so only the value SET is contractual
        return f"array_distinct(filter({args[0]}, __dd_x -> __dd_x IS NOT NULL))"
    if fn in ("strptime", "try_strptime") and len(args) == 2:
        fmt = _literal_value(_unmask(args[1], table))
        if fmt is None:
            raise ValueError("strptime needs a literal format")
        lit = _masked_literal(table, _strftime_to_java(fmt))
        spark_fn = "try_to_timestamp" if fn.startswith("try") else "to_timestamp"
        return f"{spark_fn}({args[0]}, {lit})"
    if fn == "struct_extract" and len(args) == 2:
        key = _literal_value(_unmask(args[1], table))
        if key is None:
            return None
        return f"({args[0]}).`" + key.replace("`", "``") + "`"
    if fn == "current_schema" and not args:
        return _masked_literal(table, "main")
    if fn == "current_database" and not args:
        return _masked_literal(table, "memory")
    if fn == "kurtosis_pop" and len(args) == 1:
        # DuckDB's population excess kurtosis IS Spark's native kurtosis
        # (the replacement is never rescanned, so the sample-correction
        # arm below cannot re-fire on it)
        return f"kurtosis({args[0]})"
    if fn == "sem" and len(args) == 1:
        # standard error of the mean — probed: DuckDB uses the
        # POPULATION stddev over sqrt(n) (ratio test at n=1500)
        return f"(stddev_pop({args[0]}) / sqrt(count({args[0]})))"
    if fn == "kurtosis" and len(args) == 1:
        # DuckDB reports SAMPLE excess kurtosis; Spark's is population.
        # Exact single-pass combination (equal up to float ulp):
        # g2* = (n-1)/((n-2)(n-3)) · ((n+1)·g2 + 6); the nullif keeps
        # n ≤ 3 at NULL (DuckDB) instead of an ANSI division error
        e = args[0]
        n = f"count({e})"
        return (
            f"((({n} - 1) / nullif(({n} - 2) * ({n} - 3), 0)) * "
            f"(({n} + 1) * kurtosis({e}) + 6))"
        )
    if fn == "skewness" and len(args) == 1:
        # DuckDB reports SAMPLE skewness G1 = g1 · √(n(n-1)) / (n-2);
        # Spark's skewness is the population g1 — a silent value
        # divergence at every n. NULL for n < 3, like DuckDB.
        e = args[0]
        n = f"count({e})"
        return (
            f"(skewness({e}) * sqrt({n} * ({n} - 1.0)) / "
            f"nullif({n} - 2.0, 0.0))"
        )
    if fn == "histogram" and len(args) == 1:
        e = args[0]
        return (
            f"map_from_entries(transform("
            f"array_sort(array_distinct(collect_list({e}))), "
            f"x -> struct(x, CAST(size(filter(collect_list({e}), "
            f"y -> y = x)) AS BIGINT))))"
        )
    if fn in ("quantile_disc", "quantile") and len(args) == 2:
        x, p = args
        disc = (
            f"element_at(array_sort(collect_list({x})), "
            f"CAST(greatest(1, ceil((%s) * size(collect_list({x})))) AS INT))"
        )
        if p.lstrip().startswith(("[", "array")):
            # list form: one sorted collect, one element pick per p
            return (
                f"transform({p}, __dd_p -> " + (disc % "__dd_p") + ")"
            )
        return disc % f"({p})"
    if fn == "list_count" and len(args) == 1:
        # DuckDB: non-NULL element count
        return f"size(filter({args[0]}, __dd_x -> __dd_x IS NOT NULL))"
    if fn == "setseed" and len(args) == 1:
        # engine-RNG seeding is a session no-op here (sampling queries
        # use the portable md5 draw, never engine RNG)
        return "CAST(NULL AS STRING)"
    if fn == "format" and args:
        fmt = _literal_value(_unmask(args[0], table))
        if fmt is None:
            raise ValueError("format() needs a literal format string")
        printf, casts = _fmt_to_printf(fmt)
        lit = _masked_literal(table, printf)
        vals = [
            f"CAST({a} AS {c})" if c else a
            for a, c in zip(args[1:], casts)
        ] + list(args[1 + len(casts) :])
        rest = ", ".join(vals)
        return f"format_string({lit}{', ' + rest if rest else ''})"
    if fn in ("list_reverse_sort", "array_reverse_sort") and len(args) == 1:
        # DuckDB default is DESC NULLS LAST: reverse of ASC NULLS FIRST
        # (array_sort would put NULLs last pre-reverse → NULLs FIRST)
        return f"reverse(sort_array({args[0]}))"
    if fn in ("list_reverse_sort", "array_reverse_sort") and len(args) == 2:
        # battery 39: the optional null-order argument (probed:
        # 'NULLS LAST' keeps the default [3,1,NULL] shape,
        # 'NULLS FIRST' leads with NULLs)
        nulls = (_literal_value(_unmask(args[1], table)) or "").upper()
        if nulls == "NULLS LAST":
            return f"sort_array({args[0]}, false)"
        if nulls == "NULLS FIRST":
            return f"reverse(array_sort({args[0]}))"
        return None
    if fn in ("date_trunc", "datetrunc") and len(args) == 2:
        part = (_literal_value(_unmask(args[0], table)) or "").lower()
        if part in ("year", "quarter", "month", "week", "day", "decade",
                    "century", "millennium", "yearweek", "isoyear"):
            # DuckDB returns DATE for date-granular truncation on
            # TIMESTAMP/DATE input — but keeps TIMESTAMPTZ for tz
            # input (round-14 hunt G probe); Spark always returns
            # TIMESTAMP
            if re.match(r"(?is)^\s*TIMESTAMPTZ\b", args[1]) or re.search(
                    r"(?is)(\bAS\s+TIMESTAMPTZ\s*\)|::\s*TIMESTAMPTZ)\s*$",
                    args[1]):
                return None  # native date_trunc keeps the timestamp
            return f"CAST(date_trunc({args[0]}, {args[1]}) AS DATE)"
        return None
    if fn == "bit_length" and len(args) == 1 and re.search(
            r"(?i)\bBIT(?:STRING)?\b", args[0]):
        # round-14 hunt G: bit_length(BIT) counts the BITS (= chars of
        # the 0/1 rendering the round-9 family carries); VARCHAR args
        # keep the native 8x-bytes semantics
        return f"length({args[0]})"
    if fn == "encode" and len(args) == 1:
        return f"CAST({args[0]} AS BINARY)"   # DuckDB: VARCHAR → BLOB
    if fn == "decode" and len(args) == 1:
        return f"CAST({args[0]} AS STRING)"   # DuckDB: BLOB → VARCHAR
        # (decode is strict UTF-8; the \xHH-escaped rendering belongs to
        # CAST(blob AS VARCHAR), handled via the binary column kind)
    if fn == "isodow" and len(args) == 1:
        lit = _masked_literal(table, "DAYOFWEEK_ISO")
        return f"date_part({lit}, {args[0]})"
    if fn == "today" and not (args and args[0].strip()):
        return "current_date()"
    if fn in ("timezone_hour", "timezone_minute") and len(args) == 1:
        # the session is UTC-pinned (X122): every instant's offset is 0
        return "CAST(0 AS BIGINT)"
    if fn == "date_add" and len(args) == 2 and re.match(
        r"(?i)\s*(INTERVAL\b|to_(?:year|month|week|day|hour|minute|"
        r"second|milli|micro|decade|centur|millenni))", args[1]
    ):
        # DuckDB's date_add(date, INTERVAL) collides with Spark's
        # (date, int-days); re-spell as arithmetic so the DATE ± INTERVAL
        # typing rewrite applies
        return f"(CAST({args[0]} AS TIMESTAMP) + {args[1]})"
    if fn == "current_schemas" and len(args) == 1:
        # DuckDB 1.0's literal answer for its default search path
        return (
            f"CASE WHEN ({args[0]}) THEN "
            f"array('main', 'main', 'main', 'pg_catalog') "
            f"ELSE CAST(array() AS ARRAY<STRING>) END"
        )
    if fn == "md5_number_lower" and len(args) == 1:
        return f"dd_md5_u64(md5({args[0]}), 17)"
    if fn == "md5_number_upper" and len(args) == 1:
        return f"dd_md5_u64(md5({args[0]}), 1)"
    if fn == "json_type" and len(args) in (1, 2):
        inner = (
            args[0]
            if len(args) == 1
            else f"dd_json_extract({args[0]}, {args[1]})"
        )
        return f"dd_json_type({inner})"
    if fn == "json_contains" and len(args) == 2:
        return f"dd_json_contains({args[0]}, {args[1]})"
    if fn in ("json_array", "json_object"):
        # serialize each argument AS ITS OWN TYPE: to_json needs a
        # container, so wrap in a 1-element array and strip brackets
        def _jval(a: str) -> str:
            return (
                f"substr(to_json(array({a})), 2, "
                f"length(to_json(array({a}))) - 2)"
            )

        # punctuation as MASKED literals — raw quotes in emitted text
        # would be re-parsed by the list/struct-literal rewrites
        lb, rb = _masked_literal(table, "["), _masked_literal(table, "]")
        comma = _masked_literal(table, ",")
        if fn == "json_array":
            if not args or (len(args) == 1 and not args[0].strip()):
                return _masked_literal(table, "[]")
            return (
                f"concat({lb}, concat_ws({comma}, "
                + ", ".join(_jval(a) for a in args)
                + f"), {rb})"
            )
        if len(args) % 2:
            raise ValueError("json_object expects key/value pairs")
        colon = _masked_literal(table, ":")
        pairs = [
            f"concat({_jval(args[i])}, {colon}, {_jval(args[i + 1])})"
            for i in range(0, len(args), 2)
        ]
        lc, rc = _masked_literal(table, "{"), _masked_literal(table, "}")
        return (
            f"concat({lc}, concat_ws({comma}, "
            + ", ".join(pairs)
            + f"), {rc})"
        )
    if fn == "sha256" and len(args) == 1:
        return f"sha2({args[0]}, 256)"
    if fn in ("left", "right") and len(args) == 2:
        e, n = args
        neg = n.lstrip().startswith("-") or not re.fullmatch(r"\d+", n.strip())
        if not neg:
            return None  # literal non-negative count — native
        if fn == "left":
            # DuckDB: negative count drops that many from the END
            return (
                f"(CASE WHEN ({n}) < 0 THEN substr({e}, 1, "
                f"greatest(0, length({e}) + ({n}))) "
                f"ELSE left({e}, {n}) END)"
            )
        return (
            f"(CASE WHEN ({n}) < 0 THEN substr({e}, 1 - ({n})) "
            f"ELSE right({e}, {n}) END)"
        )
    if fn in ("dayname", "monthname") and len(args) == 1:
        lit = _masked_literal(table, "EEEE" if fn == "dayname" else "MMMM")
        return f"date_format({args[0]}, {lit})"
    if fn == "geomean" and len(args) == 1:
        return f"exp(avg(ln({args[0]})))"
    if fn in ("fsum", "sumkahan", "kahan_sum", "favg") and len(args) == 1:
        # DuckDB's Kahan/Neumaier-compensated sums return the correctly-
        # rounded DOUBLE. A DECIMAL(38,15) accumulation is exact to
        # 1e-15 — far inside double spacing at any representable sum —
        # so the final cast lands on the identical double.
        acc = f"CAST(sum(CAST({args[0]} AS DECIMAL(38,15))) AS DOUBLE)"
        if fn == "favg":
            # DuckDB finalizes favg as (compensated double sum) / n —
            # the division itself is double arithmetic
            return f"({acc} / count({args[0]}))"
        return acc
    if len(args) == 2 and fn in ("divide", "multiply", "add", "subtract"):
        op = {"divide": "//", "multiply": "*", "add": "+", "subtract": "-"}[fn]
        return f"(({args[0]}) {op} ({args[1]}))"
    # ---- list_* conveniences with no 1:1 Spark spelling ----
    if fn in ("list_sum", "list_avg") and len(args) == 1:
        # element-typed sum: zero-of-type init (first - first) keeps int
        # lists integer, matching DuckDB; NULL elements are ignored.
        # DECIMAL-literal lists fail closed (Spark's aggregate() cannot
        # type a growing-precision fold; DuckDB would return a Decimal
        # that can never repr-match anyway)
        nn = f"filter({args[0]}, x -> x IS NOT NULL)"
        zero = f"(try_element_at({nn}, 1) - try_element_at({nn}, 1))"
        total = f"aggregate({nn}, {zero}, (s, x) -> s + x)"
        if fn == "list_sum":
            return total
        return f"(CAST({total} AS DOUBLE) / size({nn}))"
    if fn == "list_any_value" and len(args) == 1:
        return f"try_element_at(filter({args[0]}, x -> x IS NOT NULL), 1)"
    if fn == "list_has_all" and len(args) == 2:
        # DuckDB IGNORES NULL elements in the needle list and never
        # matches on NULL (probed: list_has_all([1],[NULL]) = true,
        # list_has_all([1,NULL],[2]) = false); a NULL list argument
        # propagates NULL. Set algebra (array_except over the
        # NULL-compacted needle) rather than a lambda so untyped
        # ARRAY<NULL> literals coerce instead of failing analysis —
        # the old forall/array_contains form also returned NULL for
        # needle-NULL cases, a silent divergence.
        hay, needle = args
        if hay.strip().upper() == "NULL" or needle.strip().upper() == "NULL":
            return "CAST(NULL AS BOOLEAN)"
        return (
            f"CASE WHEN ({hay}) IS NULL OR ({needle}) IS NULL THEN NULL "
            f"ELSE size(array_except(array_compact({needle}), {hay})) = 0 "
            "END"
        )
    if fn == "list_has_any" and len(args) == 2:
        # same ignore-NULL-elements contract; empty overlap is false
        a0, a1 = args
        if a0.strip().upper() == "NULL" or a1.strip().upper() == "NULL":
            return "CAST(NULL AS BOOLEAN)"
        return (
            f"CASE WHEN ({a0}) IS NULL OR ({a1}) IS NULL THEN NULL "
            f"ELSE coalesce(arrays_overlap(array_compact({a0}), "
            f"array_compact({a1})), false) END"
        )
    if fn == "list_select" and len(args) == 2:
        return (
            f"transform({args[1]}, i -> "
            f"try_element_at({args[0]}, CAST(i AS INT)))"
        )
    if fn == "list_where" and len(args) == 2:
        return (
            f"transform(filter(zip_with({args[0]}, {args[1]}, "
            f"(x, m) -> struct(x, m)), p -> p.m), p -> p.x)"
        )
    if fn == "list_grade_up" and len(args) == 1:
        lst = args[0]
        return (
            f"transform(array_sort(zip_with({lst}, "
            f"sequence(1, size({lst})), (x, i) -> struct(x, i))), p -> p.i)"
        )
    if fn == "list_resize" and len(args) in (2, 3):
        lst, n = args[0], args[1]
        fill = args[2] if len(args) == 3 else "NULL"
        return (
            f"slice(transform(sequence(1, greatest({n}, 1)), i -> "
            f"CASE WHEN i <= size({lst}) THEN element_at({lst}, i) "
            f"ELSE {fill} END), 1, {n})"
        )
    if fn in ("list_dot_product", "list_inner_product", "array_dot_product",
          "array_inner_product") and len(args) == 2:
        return (
            f"aggregate(zip_with({args[0]}, {args[1]}, (x, y) -> "
            f"CAST(x AS DOUBLE) * y), CAST(0 AS DOUBLE), (s, v) -> s + v)"
        )
    if fn in ("list_cosine_similarity", "array_cosine_similarity") and len(args) == 2:
        a, b = args
        dot = (
            f"aggregate(zip_with({a}, {b}, (x, y) -> "
            f"CAST(x AS DOUBLE) * y), CAST(0 AS DOUBLE), (s, v) -> s + v)"
        )
        def norm(v: str) -> str:
            return (
                f"sqrt(aggregate({v}, CAST(0 AS DOUBLE), "
                f"(s, x) -> s + CAST(x AS DOUBLE) * x))"
            )
        return f"({dot} / ({norm(a)} * {norm(b)}))"
    if fn in ("list_distance", "array_distance") and len(args) == 2:
        return (
            f"sqrt(aggregate(zip_with({args[0]}, {args[1]}, (x, y) -> "
            f"(CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)), "
            f"CAST(0 AS DOUBLE), (s, v) -> s + v))"
        )
    if fn in ("max", "min") and len(args) == 1 and (
        (vals := _struct_ctor_values(args[0])) is not None
    ):
        # round-12 hunt C: min/max over a STRUCT use DuckDB's total
        # order — a NULL field sorts HIGHEST (max(row(v,i)) with a NULL
        # v picks the NULL row; min skips it). Spark's struct ordering
        # sorts NULL fields lowest, so the sort key becomes a flat
        # (is_null, value) pair sequence via max_by/min_by. Constructor
        # arguments only (row/struct/struct_pack/named_struct text);
        # struct COLUMNS keep Spark ordering (documented residual).
        # Ties (equal keys) are engine-defined, the arg_max precedent.
        key = "struct(" + ", ".join(
            f"(({v.strip()}) IS NULL), ({v.strip()})" for v in vals
        ) + ")"
        by = "max_by" if fn == "max" else "min_by"
        return f"{by}({args[0]}, {key})"
    # ---- top-n aggregate forms (DuckDB max/min/arg_max with a count) ----
    if fn in ("max", "min") and len(args) == 2:
        sorted_ = f"array_sort(collect_list({args[0]}))"
        if fn == "max":
            sorted_ = f"reverse({sorted_})"
        return f"slice({sorted_}, 1, {args[1]})"
    if fn in ("max_by", "min_by", "arg_max", "arg_min") and len(args) == 3:
        x, y, n = args
        sorted_ = f"array_sort(collect_list(struct({y} AS k, {x} AS v)))"
        if fn in ("max_by", "arg_max"):
            sorted_ = f"reverse({sorted_})"
        return f"transform(slice({sorted_}, 1, {n}), p -> p.v)"
    if fn == "json" and len(args) == 1:
        return f"dd_json_canon({args[0]})"
    if fn == "unnest" and len(args) == 1 and re.match(
        r"(?i)\s*(named_struct|struct)\s*\(", args[0]
    ):
        # unnest(STRUCT) expands the fields into columns — Spark's
        # inline over a one-element array is the exact shape
        return f"inline(array({args[0]}))"
    if fn == "unnest" and len(args) == 2:
        om = re.match(r"(?i)(recursive|max_depth)\s*:=", args[1].strip())
        if not om:
            return None
        arg = args[0]
        if re.match(r"(?i)\s*named_struct\s*\(", arg):
            # a struct literal: flatten nested structs to their leaf
            # fields (DuckDB keeps the leaf names), then expand
            return f"inline(array({_flatten_named_struct(arg)}))"
        if "named_struct(" in arg:
            # array<struct> recursively unnests into one column per field
            return f"inline({arg})"
        if arg.lstrip().startswith("[["):
            return f"explode(flatten({arg}))"  # one nesting level
        raise ValueError(
            "unnest(recursive := true) is supported for struct and "
            "struct-array and nested-list literals"
        )
    return None



_TEMPLATE_RE = re.compile(
    r"\b(to_base|list_reduce|date_sub|datesub|datepart|date_part|epoch|"
    r"list_extract|array_extract|list_contains|list_has|array_has|"
    r"list_concat|list_cat|array_concat|flatten|dayofweek|weekday|"
    r"printf|sign|substr|substring|split_part|round|"
    r"json_extract|json_extract_path|json_extract_string|"
    r"json_array_length|json_transform|json_transform_strict|from_json_strict|"
    r"to_timestamp|strptime|try_strptime|list_distinct|list_prepend|array_prepend|array_push_front|typeof|version|txid_current|bit_count|chr|bar|struct_extract|current_schema|"
    r"current_database|kurtosis|histogram|quantile_disc|quantile|format|"
    r"list_reverse_sort|array_reverse_sort|dayname|monthname|geomean|"
    r"divide|multiply|add|"
    r"subtract|fsum|sumkahan|kahan_sum|favg|skewness|bitstring_agg|"
    r"kurtosis_pop|sem|"
    r"date_trunc|datetrunc|json_quote|"
    r"encode|decode|sha256|left|right|unnest|isodow|current_schemas|"
    r"md5_number_lower|md5_number_upper|list_count|setseed|"
    r"json_type|json_contains|json_array|json_object|today|"
    r"timezone_hour|timezone_minute|date_add|"
    r"list_sum|list_avg|list_any_value|"
    r"list_has_all|list_has_any|list_select|list_where|list_grade_up|list_resize|"
    r"list_intersect|list_zip|any_value|contains|"
    r"list_dot_product|list_inner_product|list_cosine_similarity|"
    r"array_dot_product|array_inner_product|array_cosine_similarity|"
    r"array_distance|list_sort|from_json|json_group_array|json_group_object|"
    r"like_escape|not_like_escape|ilike_escape|not_ilike_escape|"
    r"list_distance|max|min|max_by|min_by|arg_max|arg_min|json|"
    r"age|array_length|regexp_extract|element_at|log|yearweek|isoyear|"
    r"julian|era|century|millennium|decade|epoch_ms|epoch_us|epoch_ns|"
    r"parse_filename|parse_dirpath|parse_dirname|parse_path|"
    r"bin|to_binary|make_time|make_timestamp|"
    r"timezone|string_agg|group_concat|regexp_matches|map_concat|"
    r"struct_insert|bitstring|get_bit|set_bit|bit_position|bit_length|"
    r"map_from_entries|"
    r"to_years|to_months|to_decades|to_centuries|to_millennia|to_weeks|"
    r"to_days|to_hours|to_minutes|to_seconds|to_milliseconds|"
    r"to_microseconds)\s*\(",
    re.IGNORECASE,
)



_DATE_OPERAND = (
    r"(?:DATE\s+\x00\d+\x00"                       # DATE '...' literal
    r"|(?:\x00\d+\x00|[A-Za-z_][\w.]*)\s*::\s*DATE\b"  # expr::DATE cast
    r"|CAST\s*\(\s*\x00\d+\x00\s+AS\s+DATE\s*\)"   # CAST(lit AS DATE)
    r"|[A-Za-z_][\w.]*)"
)

_DATE_MINUS_RE = re.compile(
    rf"({_DATE_OPERAND})\s*-\s*({_DATE_OPERAND})", re.IGNORECASE
)

_DATE_PLUS_IVAL_RE = re.compile(
    rf"({_DATE_OPERAND})\s*([+-])\s*"
    r"(INTERVAL\s+(?:\x00\d+\x00|\d+)(?:\s+[A-Za-z]+)?"
    r"|INTERVAL\s*\("
    r"|make_dt_interval\s*\(|make_ym_interval\s*\()",
    re.IGNORECASE,
)



def _is_date_operand(tok: str, kinds: dict[str, str] | None) -> bool:
    if re.match(r"(?i)DATE\s", tok):
        return True
    if re.search(r"(?i)::\s*DATE\s*$", tok) or re.match(r"(?i)CAST\s*\(", tok):
        return True
    return bool(kinds) and kinds.get(tok.split(".")[-1].lower()) == "date"



def _rewrite_date_arith(s: str, kinds: dict[str, str] | None) -> str:
    """DuckDB's date arithmetic differs from Spark's in RESULT TYPE:
    DATE - DATE is a BIGINT day count (Spark: interval), and
    DATE + INTERVAL is a TIMESTAMP (Spark: date). Rewrites fire only
    when operands are provably dates — DATE literals or columns whose
    catalog type is DateType — so ordinary numeric subtraction is
    untouched."""
    pos = 0
    while m := _DATE_MINUS_RE.search(s, pos):
        a, b = m.group(1), m.group(2)
        if _is_date_operand(a, kinds) and _is_date_operand(b, kinds):
            repl = f"datediff({a}, {b})"
            s = s[: m.start()] + repl + s[m.end() :]
            pos = m.start() + len(repl)
        else:
            pos = m.start() + len(a) + 1
    pos = 0
    while m := _DATE_PLUS_IVAL_RE.search(s, pos):
        a, op, ival = m.group(1), m.group(2), m.group(3)
        end = m.end()
        if ival.endswith("("):
            # a paren form — INTERVAL (expr) UNIT or a to_*(…) call:
            # take the full call, and for INTERVAL also the unit word
            close = _matching_paren(s, end - 1)
            ival = s[m.start(3) : close + 1]
            end = close + 1
            if ival.upper().startswith("INTERVAL"):
                um = re.match(r"\s*[A-Za-z]+", s[end:])
                if not um:
                    pos = end
                    continue
                ival += s[end : end + um.end()]
                end += um.end()
        if _is_date_operand(a, kinds):
            # DuckDB: DATE ± INTERVAL is a TIMESTAMP (Spark keeps DATE)
            repl = f"CAST({a} {op} {ival} AS TIMESTAMP)"
            s = s[: m.start()] + repl + s[end:]
            pos = m.start() + len(repl)
        else:
            pos = end
    return s



_HASH_CALL_RE = re.compile(r"(?<![\w.])hash\s*\(", re.IGNORECASE)

# DuckDB hashes every sub-32-bit integer at its 32-bit unsigned promotion
# (probed live: hash(CAST(-7 AS SMALLINT)) == hash(CAST(-7 AS INTEGER))),
# so SMALLINT/TINYINT mask at 32 bits, not their storage width.
_HASH_INT_WIDTH = {"bigint": 64, "int": 32, "smallint": 32, "tinyint": 32}



def _hash_operand(arg: str, table: list[str],
                  kinds: dict[str, str] | None):
    """One hash() operand → ('lit', digits) folded at rewrite time, or
    ('expr', sql) producing the digit string at run time. None when the
    operand's DuckDB type cannot be proven (caller fails closed)."""
    a = arg.strip()
    up = a.upper()
    if up == "NULL":
        return ("lit", str(_DD_NULL_HASH))
    if up in ("TRUE", "FALSE"):
        return ("lit", str(_dd_murmur_fin(1 if up == "TRUE" else 0)))
    if re.fullmatch(r"\x00\d+\x00", a):  # string literal
        lit = _literal_value(_unmask(a, table))
        if lit is None:
            return None
        return ("lit", str(_dd_murmur64a(str(lit).encode())))
    if m := re.fullmatch(r"(?is)DATE\s+(\x00\d+\x00)", a):
        lit = _literal_value(_unmask(m.group(1), table))
        try:
            days = (_dt.date.fromisoformat(str(lit)) - _dt.date(1970, 1, 1)).days
        except (TypeError, ValueError):
            return None
        return ("lit", str(_dd_murmur_fin(days & 0xFFFFFFFF)))
    if m := re.fullmatch(r"(?is)TIMESTAMP\s+(\x00\d+\x00)", a):
        lit = _literal_value(_unmask(m.group(1), table))
        try:
            ts = _dt.datetime.fromisoformat(str(lit))
        except (TypeError, ValueError):
            return None
        micros = (ts - _dt.datetime(1970, 1, 1)) // _dt.timedelta(microseconds=1)
        return ("lit", str(_dd_murmur_fin(micros)))
    if re.fullmatch(r"[+-]?\d+", a):  # integer literal at DuckDB's width
        v = int(a)
        width = 32 if -(1 << 31) <= v < (1 << 31) else 64
        return ("lit", str(_dd_murmur_fin(v & ((1 << width) - 1))))
    if re.fullmatch(r"[+-]?(\d+\.?\d*|\.\d+)[eE][+-]?\d+", a):
        # scientific notation is a DOUBLE literal: hash the IEEE bits
        import struct as _struct

        bits = _struct.unpack("<Q", _struct.pack("<d", float(a)))[0]
        return ("lit", str(_dd_murmur_fin(bits)))
    if m := re.fullmatch(r"([+-]?)(\d*)\.(\d*)", a):  # decimal literal
        if not (m.group(2) or m.group(3)):
            return None
        # DuckDB's literal precision counts the WRITTEN digits (leading
        # zeros included: '-0.000000001' is DECIMAL(10,9) -> int64
        # storage; '-00.5' is DECIMAL(3,1)). Storage int16/int32 hash at
        # their 32-bit promotion; int64 at 64; int128 (precision > 18)
        # fails closed. Probed live against DuckDB (test battery 31).
        precision = len(m.group(2)) + len(m.group(3))
        if precision > 18:
            return None
        digits = (m.group(2) + m.group(3)) or "0"
        v = int(digits) * (-1 if m.group(1) == "-" else 1)
        width = 32 if precision <= 9 else 64
        return ("lit", str(_dd_murmur_fin(v & ((1 << width) - 1))))
    if re.fullmatch(r"[A-Za-z_][\w.]*", a) and kinds:
        k = kinds.get(a.split(".")[-1].lower())
        if k in ("string", "binary"):
            return ("expr", f"dd_hash_str({a})")
        if k in _HASH_INT_WIDTH:
            w = _HASH_INT_WIDTH[k]
            inner = (f"CAST({a} AS BIGINT)" if w == 64
                     else f"CAST({a} AS BIGINT) & {(1 << w) - 1}")
            return ("expr", f"dd_hash_u64(CAST({inner} AS STRING))")
        if k == "boolean":
            return ("expr", f"dd_hash_u64(CAST(CAST({a} AS BIGINT) AS STRING))")
        if k == "date":
            return ("expr", "dd_hash_u64(CAST(CAST(unix_date("
                            f"{a}) AS BIGINT) & 4294967295 AS STRING))")
        if k == "timestamp":
            # NTZ columns cast through the UTC-pinned session (identity)
            return ("expr", "dd_hash_u64(CAST(unix_micros(CAST("
                            f"{a} AS TIMESTAMP)) AS STRING))")
        if k == "double":
            return ("expr", f"dd_hash_dbl({a}, {a} IS NULL)")
    return None



def _rewrite_hash(s: str, table: list[str],
                  kinds: dict[str, str] | None) -> str:
    """DuckDB's ``hash()`` (UBIGINT, its own murmur finalizer per type
    width / MurmurHash64A for strings — NOT Spark's 32-bit Murmur3).
    Literal operands fold at rewrite time; typed columns route through
    the dd_hash_* shims; multi-arg combines left-to-right with DuckDB's
    CombineHash. Unprovable operand types fail closed."""
    pos = 0
    while m := _HASH_CALL_RE.search(s, pos):
        close = _matching_paren(s, m.end() - 1)
        args = _split_top_commas(s[m.end() : close])
        parts = [_hash_operand(x, table, kinds) for x in args if x.strip()]
        if not parts or any(p is None for p in parts):
            raise DialectError(
                "hash(): operand type cannot be proven — literals and "
                "typed columns are supported; cast or alias the operand"
            )
        kind, acc = parts[0]
        for k2, nxt in parts[1:]:
            if kind == "lit" and k2 == "lit":
                acc = str(
                    ((int(acc) * _DD_HASH_COMBINE_K) & _DD_HASH_MASK)
                    ^ int(nxt)
                )
            else:
                lhs = acc if kind == "expr" else _masked_literal(table, acc)
                rhs = nxt if k2 == "expr" else _masked_literal(table, nxt)
                acc = f"dd_hash_combine({lhs}, {rhs})"
                kind = "expr"
        final = acc if kind == "expr" else _masked_literal(table, acc)
        repl = f"CAST({final} AS DECIMAL(20, 0))"
        s = s[: m.start()] + repl + s[close + 1 :]
        pos = m.start() + len(repl)
    return s



_COLLATE_RE = re.compile(r"\s+COLLATE\s+([A-Za-z_][\w.]*)", re.IGNORECASE)

def _collate_keys() -> dict[str, str]:
    # strip_accents inlines its translate body — Spark rejects SQL UDFs
    # inside Sort expressions, and ORDER BY is a primary COLLATE site
    from duckdb_server_spark.functions.scalar import _ACCENTED, _PLAIN

    return {
        "nocase": "lower({})",
        "noaccent": f"translate({{}}, '{_ACCENTED}', '{_PLAIN}')",
        "nfc": "dd_nfc_normalize({})",
    }

_CMP_OP_RE = re.compile(r"(<=|>=|<>|!=|=|<|>)")



def _collate_key(expr: str, names: str) -> str:
    """Compose the collation key expression for a dotted collation
    spec (``NOCASE.NOACCENT`` applies left to right)."""
    out = expr
    keys = _collate_keys()
    for name in names.split("."):
        tpl = keys.get(name.lower())
        if tpl is None:
            raise ValueError(f"unsupported collation: {name}")
        out = tpl.format(out)
    return out



def _rewrite_collate(s: str, table: list[str]) -> str:
    """Expression-level COLLATE: a collated comparison applies the
    collation key (NOCASE → lower, NOACCENT → strip_accents, NFC) to
    BOTH operands — the value itself is never changed, matching
    DuckDB's compare-under-collation semantics. Outside a comparison,
    only ORDER BY / GROUP BY keys are supported (the key replaces the
    sort key; the projected value is untouched); any other position
    fails closed rather than silently transforming a projected value."""
    while m := _COLLATE_RE.search(s):
        names = m.group(1)
        lstart = _primary_back(s, m.start())
        operand = s[lstart : m.start()].strip()
        if not operand:
            raise ValueError("COLLATE without an operand")
        key = _collate_key(operand, names)
        # comparison on the RIGHT of the collation?
        right = s[m.end() :]
        rm = re.match(r"\s*(<=|>=|<>|!=|=|<|>)\s*", right)
        if rm:
            rop_start = m.end() + rm.end()
            rop_end = _primary_fwd(s, rop_start)
            other = s[rop_start:rop_end].strip()
            repl = f"{key} {rm.group(1)} {_collate_key(other, names)}"
            s = s[:lstart] + repl + s[rop_end:]
            continue
        # comparison on the LEFT of the operand?
        j = lstart - 1
        while j >= 0 and s[j] in " \t\n":
            j -= 1
        lm = re.search(r"(<=|>=|<>|!=|=|<|>)$", s[: j + 1])
        if lm:
            lop_end = lm.start()
            while lop_end > 0 and s[lop_end - 1] in " \t\n":
                lop_end -= 1
            lop_start = _primary_back(s, lop_end)
            other = s[lop_start:lop_end].strip()
            repl = (f"{_collate_key(other, names)} {lm.group(1)} {key}")
            s = s[:lop_start] + repl + s[m.end() :]
            continue
        # round-13 hunt F: IN / NOT IN list — the collation keys both
        # the operand and every list element (probed: 'a' NOCASE IN
        # ('A', NULL) → true; 'c' IN ('A', NULL) → NULL)
        im = re.match(r"\s*(NOT\s+)?IN\s*\(", right, re.IGNORECASE)
        if im:
            open_idx = m.end() + im.end() - 1
            close = _matching_paren(s, open_idx)
            body = s[open_idx + 1 : close]
            neg = "NOT " if im.group(1) else ""
            # round-14 ADVICE: IN (SELECT …) — probed on live DuckDB
            # 1.0: the collation does NOT propagate into an IN-subquery
            # ('A' NOCASE IN (SELECT 'a') → false; 'a' NOCASE IN
            # (SELECT 'a') → true — bytewise), so the lowering strips
            # the annotation and compares raw values on both sides
            if re.match(r"\s*(SELECT|WITH|VALUES)\b", body, re.IGNORECASE):
                # the derived-table wrap also defuses Spark's
                # typed-literal parse of ``IN (SELECT 'a')``
                repl = (f"{operand} {neg}IN (SELECT __collate_c FROM "
                        f"({body.strip()}) AS __collate_sub(__collate_c))")
                s = s[:lstart] + repl + s[close + 1 :]
                continue
            items = _split_top_commas(body)
            keyed = ", ".join(_collate_key(it.strip(), names)
                              for it in items)
            repl = f"{key} {neg}IN ({keyed})"
            s = s[:lstart] + repl + s[close + 1 :]
            continue
        # round-13 hunt F: BETWEEN under collation keys all three
        # operands (probed: 'b' NOCASE BETWEEN 'A' AND 'C' → true where
        # the bytewise compare is false)
        bm = re.match(r"\s*(NOT\s+)?BETWEEN\s+", right, re.IGNORECASE)
        if bm:
            lo_start = m.end() + bm.end()
            lo_end = _primary_fwd(s, lo_start)
            am = re.match(r"\s*AND\s+", s[lo_end:], re.IGNORECASE)
            if am:
                hi_start = lo_end + am.end()
                hi_end = _primary_fwd(s, hi_start)
                lo = _collate_key(s[lo_start:lo_end].strip(), names)
                hi = _collate_key(s[hi_start:hi_end].strip(), names)
                neg = "NOT " if bm.group(1) else ""
                repl = f"{key} {neg}BETWEEN {lo} AND {hi}"
                s = s[:lstart] + repl + s[hi_end:]
                continue
        # round-13 hunt F: simple-CASE operand — CASE x COLLATE c WHEN
        # v1 … END compares operand to each arm under the collation
        # (probed: CASE 'A' NOCASE WHEN 'a' THEN 1 → 1); the arms in
        # THIS case block get the key too
        head = s[:lstart]
        cm = re.search(r"\bCASE\s*$", head, re.IGNORECASE)
        wm = re.match(r"\s*WHEN\b", right, re.IGNORECASE)
        if cm and wm:
            rest, consumed = _collate_case_arms(
                s[m.end():], names)
            s = s[:lstart] + key + rest + s[m.end() + consumed:]
            continue
        # round-13 hunt F: aggregate/function contexts. Probed on live
        # DuckDB 1.0: min/max SELECT the extremum under the collation
        # (ties are scan-order-dependent there — engine-defined here);
        # nullif and arg_max/arg_min/max_by/min_by compare under it;
        # upper/substr/||/greatest/least/string_agg/count(DISTINCT)
        # IGNORE it (collation does not propagate through value
        # functions), so the annotation is stripped there.
        fn_name, fn_open, fn_start = _enclosing_call(s, lstart)
        fl = fn_name.lower() if fn_name else ""
        if fl in ("min", "max"):
            close = _matching_paren(s, fn_open)
            inner = s[fn_open + 1 : close].strip()
            if inner == s[lstart : m.end()].strip():
                pick = "max_by" if fl == "max" else "min_by"
                repl = f"{pick}({operand}, {key})"
                s = s[:fn_start] + repl + s[close + 1 :]
                continue
        if fl == "nullif":
            close = _matching_paren(s, fn_open)
            args = _split_top_commas(s[fn_open + 1 : close])
            if len(args) == 2:
                a_raw = args[0].strip()
                b_raw = args[1].strip()
                a_plain = re.sub(_COLLATE_RE, "", a_raw).strip()
                b_plain = re.sub(_COLLATE_RE, "", b_raw).strip()
                repl = (
                    f"(CASE WHEN {_collate_key(a_plain, names)} = "
                    f"{_collate_key(b_plain, names)} THEN NULL "
                    f"ELSE {a_plain} END)"
                )
                s = s[:fn_start] + repl + s[close + 1 :]
                continue
        if fl in ("arg_max", "arg_min", "max_by", "min_by"):
            close = _matching_paren(s, fn_open)
            args = _split_top_commas(s[fn_open + 1 : close])
            if len(args) == 2 and args[1].strip() == (
                    s[lstart : m.end()].strip()):
                pick = "max_by" if fl in ("arg_max", "max_by") else "min_by"
                repl = f"{pick}({args[0].strip()}, {key})"
                s = s[:fn_start] + repl + s[close + 1 :]
                continue
        if fl in _COLLATE_STRIP_FNS:
            s = s[:lstart] + operand + s[m.end() :]
            continue
        # `||` either side: concatenation drops the annotation (probed)
        if re.match(r"\s*\|\|", right) or re.search(
                r"\|\|\s*$", head):
            s = s[:lstart] + operand + s[m.end() :]
            continue
        # parenthesized group ('x' COLLATE c): the annotation rides the
        # group — apply the group's OUTER context (comparison keys both
        # sides, concatenation strips)
        if fn_name is None and fn_open >= 0:
            gclose = _matching_paren(s, fn_open)
            after = s[gclose + 1 :] if gclose is not None else ""
            before = s[:fn_open]
            rm2 = re.match(r"\s*(<=|>=|<>|!=|=|<|>)\s*", after)
            if rm2:
                rop_start = gclose + 1 + rm2.end()
                rop_end = _primary_fwd(s, rop_start)
                other = s[rop_start:rop_end].strip()
                repl = f"{key} {rm2.group(1)} {_collate_key(other, names)}"
                s = s[:fn_open] + repl + s[rop_end:]
                continue
            if re.match(r"\s*\|\|", after) or re.search(
                    r"\|\|\s*$", before):
                s = s[:lstart] + operand + s[m.end() :]
                continue
        # DISTINCT ON key position (hunt H r15): the collated key
        # groups rows under the collation — same key-replaces-sort-key
        # shape as ORDER BY (the later DISTINCT ON lowering turns these
        # keys into PARTITION BY / window ORDER BY keys; the projected
        # value is untouched)
        dm = None
        for dm2 in re.finditer(r"(?i)\bDISTINCT\s+ON\s*\(", s[:lstart]):
            dm = dm2
        if dm:
            dclose = _matching_paren(s, dm.end() - 1)
            if dclose is not None and dclose >= m.end():
                s = s[:lstart] + key + s[m.end() :]
                continue
        # ORDER BY / GROUP BY key position: nearest clause keyword
        # before the operand must be ORDER BY / GROUP BY (commas allowed)
        km = None
        for km2 in re.finditer(
            r"\b(ORDER\s+BY|GROUP\s+BY|SELECT|WHERE|HAVING|FROM|ON)\b",
            head,
            re.IGNORECASE,
        ):
            km = km2
        if km and km.group(1).upper().replace(" ", "")[:7] in (
            "ORDERBY",
            "GROUPBY",
        ):
            s = s[:lstart] + key + s[m.end() :]
            continue
        raise DialectError(
            "COLLATE is supported in comparisons, IN/BETWEEN/CASE "
            "operands, min/max/arg_max/nullif, probed value functions, "
            "and ORDER BY/GROUP BY keys; other positions would change "
            "the projected value"
        )
    return s


# probed on live DuckDB 1.0 (round-13 hunt F): these functions compute
# on the VALUE and ignore a COLLATE annotation on their argument — the
# collation does not propagate through function application
_COLLATE_STRIP_FNS = frozenset((
    "upper", "lower", "ucase", "lcase", "substr", "substring", "concat",
    "string_agg", "group_concat", "listagg", "greatest", "least",
    "count", "length", "strlen", "len", "trim", "ltrim", "rtrim",
    "replace", "reverse", "left", "right", "repeat", "first", "last",
    "any_value", "strip_accents",
))


def _enclosing_call(s: str, pos: int) -> tuple[str | None, int, int]:
    """(name, '(' index, name-start index) of the innermost function
    call containing ``pos`` — scans back over balanced parens;
    (None, -1, -1) when the position is not directly inside a call's
    argument list."""
    depth = 0
    j = pos - 1
    while j >= 0:
        c = s[j]
        if c == ")":
            depth += 1
        elif c == "(":
            if depth == 0:
                k = j - 1
                while k >= 0 and s[k] in " \t\n":
                    k -= 1
                end = k + 1
                while k >= 0 and (s[k].isalnum() or s[k] == "_"):
                    k -= 1
                name = s[k + 1 : end]
                # a clause keyword before '(' is a plain group, not a
                # function call
                if name.upper() in (
                    "SELECT", "WHERE", "AND", "OR", "ON", "WHEN",
                    "THEN", "ELSE", "BY", "FROM", "AS", "IN", "NOT",
                    "CASE", "HAVING", "DISTINCT", "ALL", "BETWEEN",
                    "LIKE", "ILIKE", "EXISTS", "VALUES", "JOIN",
                    "UNION", "INTERSECT", "EXCEPT", "LIMIT", "OFFSET",
                ):
                    return (None, j, j)
                return (name or None, j, k + 1)
            depth -= 1
        j -= 1
    return (None, -1, -1)


def _collate_case_arms(rest: str, names: str) -> tuple[str, int]:
    """Apply the collation key to each WHEN arm of the simple CASE
    whose operand just ended: ``rest`` starts at the text after the
    COLLATE spec (``WHEN v1 THEN r1 … END``). Returns the rewritten
    block text and how many input chars it consumed (through END),
    tracking nested CASE depth so inner CASEs pass through."""
    out = []
    i = 0
    depth = 0
    while i < len(rest):
        wm = re.compile(r"\bWHEN\b|\bCASE\b|\bEND\b", re.IGNORECASE
                        ).search(rest, i)
        if wm is None:
            break
        word = wm.group(0).upper()
        if word == "CASE":
            depth += 1
            out.append(rest[i:wm.end()])
            i = wm.end()
            continue
        if word == "END":
            if depth == 0:
                out.append(rest[i:wm.end()])
                return "".join(out), wm.end()
            depth -= 1
            out.append(rest[i:wm.end()])
            i = wm.end()
            continue
        if depth > 0:
            out.append(rest[i:wm.end()])
            i = wm.end()
            continue
        # top-level WHEN: key the arm expression (ends at THEN)
        tm = re.compile(r"\bTHEN\b", re.IGNORECASE).search(rest, wm.end())
        if tm is None:
            break
        arm = rest[wm.end():tm.start()].strip()
        out.append(rest[i:wm.end()])
        out.append(f" {_collate_key(arm, names)} ")
        i = tm.start()
    raise DialectError(
        "COLLATE simple-CASE operand: could not delimit the CASE block"
    )



_SIMILAR_TO_RE = re.compile(
    r"\b(NOT\s+)?SIMILAR\s+TO\s+(\x00\d+\x00)", re.IGNORECASE
)

# postfix factorial: a number/identifier followed by ! (not != / !~)
_POSTFIX_FACT_RE = re.compile(r"\b([A-Za-z_]\w*|\d+)\s*!(?![=~])")



def _rewrite_similar_to(s: str, table: list[str]) -> str:
    """``x [NOT] SIMILAR TO 'pat'`` → ``x [NOT] RLIKE '^(?:pat)$'`` —
    DuckDB's SIMILAR TO is a full-match POSIX regex, not SQL92
    wildcards. Literal patterns only (fail closed otherwise)."""
    while m := _SIMILAR_TO_RE.search(s):
        pat = _literal_value(_unmask(m.group(2), table))
        if pat is None:
            raise ValueError("SIMILAR TO requires a literal pattern")
        lit = _masked_literal(table, f"^(?:{pat})$")
        neg = "NOT " if m.group(1) else ""
        s = s[: m.start()] + f"{neg}RLIKE {lit}" + s[m.end() :]
    if re.search(r"\bSIMILAR\s+TO\b", s, re.IGNORECASE):
        raise ValueError("SIMILAR TO requires a literal pattern")
    return s



_POWER_OP_RE = re.compile(r"\*\*|\^")



def _rewrite_power(s: str) -> str:
    """DuckDB's ``^`` and ``**`` are EXPONENTIATION (XOR is the xor()
    function); Spark's ``^`` is bitwise XOR — without this rewrite
    ``2 ^ 3`` silently returns 1. Left-associative, matching DuckDB.
    The ``^@`` starts-with operator resolves FIRST (its ^ is not a
    power)."""
    while m := re.search(r"\^@", s):
        i = m.start()
        j = i - 1
        while j >= 0 and s[j] in " \t\n":
            j -= 1
        start = _primary_back(s, j + 1)
        left = s[start : j + 1]
        r_end = _primary_end(s, m.end())
        right = s[m.end() : r_end].strip()
        if not left.strip() or not right:
            raise ValueError("cannot parse ^@ starts-with operands")
        s = s[:start] + f"startswith({left}, {right})" + s[r_end:]
    while m := _POWER_OP_RE.search(s):
        i = m.start()
        j = i - 1
        while j >= 0 and s[j] in " \t\n":
            j -= 1
        start = _primary_back(s, j + 1)
        left = s[start : j + 1]
        r_end = _primary_end(s, m.end())
        right = s[m.end() : r_end].strip()
        if not left.strip() or not right:
            raise ValueError("cannot parse ^/** exponentiation operands")
        repl = f"power({left}, {right})"
        s = s[:start] + repl + s[r_end:]
    return s



_SHIFT_OP_RE = re.compile(r"(?<![-<>=!|^])(<<|>>)(?![<>=])")


def _chain_back(s: str, end: int) -> int:
    """Start of the additive/multiplicative operator chain ending at
    ``end`` (exclusive) — shift operands per DuckDB precedence (probed:
    2 + 2 >> 1 = 2, i.e. shifts bind LOWER than +/-; unary minus binds
    tighter: -5 >> 1 = -3)."""
    i = end
    while True:
        j = i - 1
        while j >= 0 and s[j] in " \t\n":
            j -= 1
        start = _primary_back(s, j + 1)
        k = start - 1
        while k >= 0 and s[k] in " \t\n":
            k -= 1
        if k >= 1 and s[k - 1 : k + 1] == "||":
            i = k - 1
            continue
        if k >= 0 and s[k] in "+-*/%":
            k2 = k - 1
            while k2 >= 0 and s[k2] in " \t\n":
                k2 -= 1
            if k2 < 0 or s[k2] in "(,+-*/%<>=":
                # unary sign: part of the primary; chain may continue
                # past it (2 * -5 >> 1)
                i = k
                start = k
                k = k2
                if k >= 0 and s[k] in "+-*/%":
                    i = k
                    continue
                return start
            i = k
            continue
        return start


def _chain_end(s: str, start: int) -> int:
    """End of the additive/multiplicative chain starting at ``start``."""
    i = start
    while True:
        j = i
        while j < len(s) and s[j] in " \t\n":
            j += 1
        end = _primary_end(s, j)
        k = end
        while k < len(s) and s[k] in " \t\n":
            k += 1
        if s[k : k + 2] == "||":
            i = k + 2
            continue
        if k < len(s) and s[k] in "+-*/%":
            i = k + 1
            continue
        return end


def _rewrite_shift_ops(s: str) -> str:
    """DuckDB bit shifts ``a << b`` / ``a >> b`` → shiftleft/shiftright
    calls: Spark 4's parser accepts the operators only in some nesting
    positions (SELECT (66 >> 2) parses; the same text as a function
    argument is a PARSE_SYNTAX_ERROR), and the call form is
    position-independent. ``->>`` (JSON) resolves earlier and the
    lookbehind excludes it; operand extent follows DuckDB's probed
    precedence (lower than +/-, left-associative, tighter than
    comparison)."""
    while m := _SHIFT_OP_RE.search(s):
        op = m.group(1)
        j = m.start() - 1
        while j >= 0 and s[j] in " \t\n":
            j -= 1
        lstart = _chain_back(s, j + 1)
        left = s[lstart : j + 1].strip()
        rend = _chain_end(s, m.end())
        right = s[m.end() : rend].strip()
        if not left or not right:
            raise ValueError("cannot parse shift operands")
        fn = "shiftleft" if op == "<<" else "shiftright"
        s = s[:lstart] + f"{fn}({left}, {right})" + s[rend:]
    return s


# PostgreSQL-style operators DuckDB accepts: ~~ LIKE, !~~ NOT LIKE,
# ~~* ILIKE, !~~* NOT ILIKE, ~ full-match regex, !~ negated full-match
_TILDE_REGEX_RE = re.compile(r"(!?)~\s*(\x00\d+\x00)")



def _rewrite_tilde_ops(s: str, table: list[str]) -> str:
    s = re.sub(r"!~~\*", " NOT ILIKE ", s)
    s = re.sub(r"~~\*", " ILIKE ", s)
    s = re.sub(r"!~~", " NOT LIKE ", s)
    s = re.sub(r"~~", " LIKE ", s)
    while m := _TILDE_REGEX_RE.search(s):
        pat = _literal_value(_unmask(m.group(2), table))
        if pat is None:
            break
        lit = _masked_literal(table, f"^(?:{pat})$")
        neg = "NOT " if m.group(1) else ""
        s = s[: m.start()] + f" {neg}RLIKE {lit}" + s[m.end() :]
    return s



# DuckDB JSON extraction operators: ``x -> 'key'`` (JSON result, quoted
# strings) and ``x ->> 'key'`` (text result). '->' is ALSO lambda syntax,
# so the rewrite requires an unambiguous left operand: a string literal,
# a dotted (qualified) identifier, a :: cast, or a paren group that is
# not a lambda parameter list. Bare single identifiers stay untouched
# (fail closed — a lambda param and a JSON column are indistinguishable
# there without type context).
_JSON_ARROW_RE = re.compile(r"(->>|->)\s*(\x00\d+\x00|\d+)")



def _rewrite_json_arrows(s: str, table: list[str]) -> str:
    while m := _JSON_ARROW_RE.search(s):
        op, rhs = m.group(1), m.group(2)
        j = m.start() - 1
        while j >= 0 and s[j] in " \t\n":
            j -= 1
        end = j + 1
        start = _primary_back(s, end)
        left = s[start:end].strip()
        ok = bool(
            re.fullmatch(r"\x00\d+\x00", left)  # string literal
            or re.fullmatch(r"[A-Za-z_]\w*(\.[A-Za-z_]\w*)+", left)  # t.col
            or re.search(r"::\s*[A-Za-z_]\w*(\s*\(.*\))?$", left)  # cast
            or (
                left.endswith(")")
                and not re.fullmatch(
                    r"\(\s*[A-Za-z_]\w*(\s*,\s*[A-Za-z_]\w*)*\s*\)", left
                )  # paren group that is not a lambda parameter list
            )
        )
        if not ok:
            break
        fn = "json_extract_string" if op == "->>" else "json_extract"
        # a bare integer rhs is a JSON array index (matching $[n]); a
        # bare key becomes an explicit quoted path so BOTH backends
        # (pandas shim for ->, get_json_object for ->>) resolve it
        if rhs.isdigit():
            path = _masked_literal(table, f"$[{rhs}]")
        else:
            lit = _literal_value(_unmask(rhs, table))
            if lit is None:
                break
            if lit.startswith("$"):
                path = rhs
            elif op == "->>":
                path = _masked_literal(table, f"$['{lit}']")
            else:
                path = _masked_literal(table, f'$."{lit}"')
        # arrows run AFTER _rewrite_templates — route through the same
        # path logic (wildcards, pointers, from-end indexes) explicitly
        repl = _template(fn, [left, path], table)
        if repl is None:
            repl = f"{fn}({left}, {path})"
        s = s[:start] + repl + s[m.end() :]
    return s



_ANY_ALL_RE = re.compile(
    r"(=|<>|!=|<=|>=|<|>)\s*(ANY|SOME|ALL)\s*\(", re.IGNORECASE
)



def _rewrite_any_all(s: str) -> str:
    """Quantified comparisons over subqueries. ``= ANY`` / ``<> ALL``
    map exactly to IN / NOT IN; other operators become correlated
    (NOT) EXISTS — true/false agree with DuckDB everywhere except the
    SQL-standard NULL corner (no match but NULL rows present), where
    EXISTS yields false instead of NULL."""
    while m := _ANY_ALL_RE.search(s):
        op, quant = m.group(1), m.group(2).upper()
        open_idx = m.end() - 1
        close = _matching_paren(s, open_idx)
        sub = s[open_idx + 1 : close]
        if not re.match(r"\s*(SELECT|VALUES|WITH)\b", sub, re.IGNORECASE):
            raise ValueError("ANY/ALL is supported over subqueries only")
        if op == "=" and quant in ("ANY", "SOME"):
            s = s[: m.start()] + f" IN ({sub})" + s[close + 1 :]
            continue
        if op in ("<>", "!=") and quant == "ALL":
            s = s[: m.start()] + f" NOT IN ({sub})" + s[close + 1 :]
            continue
        j = m.start() - 1
        while j >= 0 and s[j] in " \t\n":
            j -= 1
        start = _primary_back(s, j + 1)
        left = s[start : j + 1]
        if not left.strip():
            raise ValueError("cannot parse ANY/ALL left operand")
        if quant in ("ANY", "SOME"):
            repl = (
                f"EXISTS (SELECT 1 FROM ({sub}) __dd_q(__v) "
                f"WHERE ({left}) {op} __v)"
            )
        else:
            repl = (
                f"NOT EXISTS (SELECT 1 FROM ({sub}) __dd_q(__v) "
                f"WHERE NOT (({left}) {op} __v))"
            )
        s = s[:start] + repl + s[close + 1 :]
    return s



_IGNORE_NULLS_IN_ARGS_RE = re.compile(
    r"\s+(IGNORE|RESPECT)\s+NULLS\s*\)", re.IGNORECASE
)



def _rewrite_ignore_nulls(s: str) -> str:
    """DuckDB spells null treatment INSIDE the window-function call
    (``first_value(x IGNORE NULLS)``); Spark wants it after the call
    (``first_value(x) IGNORE NULLS``). Pure position move."""
    while m := _IGNORE_NULLS_IN_ARGS_RE.search(s):
        s = s[: m.start()] + f") {m.group(1).upper()} NULLS" + s[m.end() :]
    return s



_WINDOW_CLAUSE_RE = re.compile(r"\bWINDOW\s+", re.IGNORECASE)



def _rewrite_window_chain(s: str) -> str:
    """Named-window chaining: ``WINDOW w1 AS (…), w2 AS (w1 ORDER BY …)``
    — DuckDB lets a definition extend an earlier named window; Spark
    requires self-contained definitions, so references inline."""
    for m in _WINDOW_CLAUSE_RE.finditer(s):
        pos = m.end()
        defs: dict[str, str] = {}
        spans: list[tuple[int, int, str, str]] = []
        while True:
            dm = re.match(r"\s*([A-Za-z_]\w*)\s+AS\s*\(", s[pos:], re.IGNORECASE)
            if not dm:
                break
            name = dm.group(1)
            open_idx = pos + dm.end() - 1
            close = _matching_paren(s, open_idx)
            body = s[open_idx + 1 : close].strip()
            rm = re.match(r"([A-Za-z_]\w*)\b(.*)$", body, re.DOTALL)
            if rm and rm.group(1) in defs:
                body = (defs[rm.group(1)] + " " + rm.group(2).strip()).strip()
            defs[name] = body
            spans.append((open_idx + 1, close, name, body))
            after = re.match(r"\s*,", s[close + 1 :])
            if not after:
                break
            pos = close + 1 + after.end()
        # splice expanded bodies back (reverse order keeps offsets valid)
        for start, end, _name, body in reversed(spans):
            s = s[:start] + body + s[end:]
        # OVER-site chaining (hunt H r15): ``agg(x) OVER (w ORDER BY …
        # ROWS …)`` extends a named window inline — DuckDB allows it,
        # Spark only accepts ``OVER w`` or a self-contained spec, so
        # the reference inlines here too.
        pos2 = 0
        while om := re.compile(
            r"(?i)\bOVER\s*\(\s*([A-Za-z_]\w*)\b"
        ).search(s, pos2):
            name = om.group(1)
            if name in defs and name.upper() not in (
                    "PARTITION", "ORDER", "ROWS", "RANGE", "GROUPS"):
                s = (s[: om.start(1)] + defs[name]
                     + s[om.start(1) + len(name) :])
                pos2 = om.start(1) + len(defs[name])
            else:
                pos2 = om.end()
        break  # one WINDOW clause per statement level is the common case
    return s



# --- battery 8: standard fetch/limit forms, set-returning split ------------

_FETCH_RE = re.compile(
    r"\bFETCH\s+(?:FIRST|NEXT)\s+(?:(\d+)\s+)?ROWS?\s+ONLY", re.IGNORECASE
)

_OFFSET_ROWS_RE = re.compile(r"\b(OFFSET\s+\d+)\s+ROWS?\b", re.IGNORECASE)

_OFFSET_LIMIT_RE = re.compile(
    r"\b(OFFSET\s+\d+)\s+(LIMIT\s+\d+)\b", re.IGNORECASE
)



def _rewrite_fetch_limit(s: str) -> str:
    """SQL-standard ``OFFSET n ROWS FETCH NEXT m ROWS ONLY`` → Spark's
    ``LIMIT m OFFSET n`` (standard clause order puts OFFSET first; Spark
    only parses LIMIT-then-OFFSET)."""
    s = _FETCH_RE.sub(lambda m: f"LIMIT {m.group(1) or 1}", s)
    s = _OFFSET_ROWS_RE.sub(r"\1", s)
    return _OFFSET_LIMIT_RE.sub(r"\2 \1", s)



_PERCENT_LIMIT_RE = re.compile(
    r"\bLIMIT\s+(\d+(?:\.\d+)?)\s*(?:%|\bPERCENT\b)\s*;?\s*$", re.IGNORECASE
)



def _rewrite_percent_limit(s: str) -> str:
    """DuckDB ``LIMIT p%`` takes the first p percent of the result. The
    row count isn't known at plan time, so the rewrite ranks against a
    windowed total: requires a deterministic top-level ORDER BY (DuckDB
    without one is an arbitrary subset — fail closed, never silently
    pick rows)."""
    m = _PERCENT_LIMIT_RE.search(s)
    if not m:
        return s
    body = s[: m.start()].rstrip()
    om = None
    for cand in re.finditer(r"\bORDER\s+BY\s+", body, re.IGNORECASE):
        head = body[: cand.start()]
        if head.count("(") + head.count("[") == head.count(")") + head.count("]"):
            om = cand
    if om is None:
        raise ValueError("percent LIMIT requires a top-level ORDER BY")
    keys = body[om.end() :].strip()
    if re.fullmatch(r"\d+(\s+(ASC|DESC))?(\s+NULLS\s+(FIRST|LAST))?", keys, re.IGNORECASE):
        raise ValueError("percent LIMIT does not support positional ORDER BY")
    inner = body[: om.start()].rstrip()
    pct = m.group(1)
    return (
        f"SELECT * EXCEPT (__dd_rn, __dd_cnt) FROM ("
        f"SELECT *, row_number() OVER (ORDER BY {keys}) AS __dd_rn, "
        f"count(*) OVER () AS __dd_cnt FROM ({inner}) __dd_pq) "
        f"WHERE __dd_rn <= floor(__dd_cnt * {pct} / 100.0) "
        f"ORDER BY {keys}"
    )



_REGEXP_SPLIT_TT_RE = re.compile(
    r"\bregexp_split_to_table\s*\(", re.IGNORECASE
)



def _rewrite_regexp_split_to_table(s: str) -> str:
    """Postgres-style set-returning ``regexp_split_to_table(str, pat)``
    → ``explode(split(str, pat))`` (both regex-split)."""
    while m := _REGEXP_SPLIT_TT_RE.search(s):
        open_idx = m.end() - 1
        close = _matching_paren(s, open_idx)
        inner = s[open_idx + 1 : close]
        s = s[: m.start()] + f"explode(split({inner}))" + s[close + 1 :]
    return s



# --- battery 7: typed literals, numeric spellings, temporal breadth --------

# DuckDB generic typed literals ``TYPE 'text'`` are CAST(text AS TYPE).
# Spark only knows the DATE/TIMESTAMP/TIME/INTERVAL/X forms natively, and
# its CAST defaults differ where DuckDB's carry parameters (plain DECIMAL
# is DECIMAL(18,3) in DuckDB but DECIMAL(10,0) in Spark — a silent value
# change without the explicit width), so every other name the type map
# knows becomes a CAST to its Spark spelling.
_TYPED_LITERAL_RE = re.compile(
    rf"\b({_TYPE_NAME})\s+(\x00\d+\x00)", re.IGNORECASE
)



_CONCAT_FN_RE = re.compile(r"\bconcat\s*\(", re.IGNORECASE)



_NULL_CONCAT_RE = re.compile(
    r"\|\|\s*NULL(?!\w)|\bNULL\s*\|\|", re.IGNORECASE
)


def _rewrite_list_null_concat(s: str) -> str:
    """Round-14 hunt G, generalized in round 15 (hunt H): ``X || NULL``
    is NULL — of X's type — in DuckDB for EVERY operand type, but a
    type-resolution error in Spark whenever X is array/map-typed
    (concat cannot unify a container with an untyped NULL; r14 handled
    only list LITERALS, hunt H found ``m[k] || NULL`` and
    ``list_fn(…) || NULL`` still broke). ``if(false, X, NULL)`` yields
    the same typed NULL for any X, so the non-NULL operand is walked
    with the primary-expression scanner and wrapped regardless of
    shape; string/number operands produce the identical NULL either
    way. Left-associativity keeps chains correct: in ``a || b ||
    NULL`` only ``b`` wraps, and concat(a, NULL-of-b's-type) is still
    NULL."""
    pos = 0
    while m := _NULL_CONCAT_RE.search(s, pos):
        if m.group(0).upper().replace(" ", "").startswith("||"):
            # X || NULL: operand is the primary ending before ||
            op_end = m.start()
            while op_end > 0 and s[op_end - 1] in " \t\n":
                op_end -= 1
            lstart = _primary_back(s, op_end)
            operand = s[lstart:op_end].strip()
            if not operand or operand.upper() == "NULL":
                pos = m.end()
                continue
            repl = f"if(false, {operand}, NULL)"
            s = s[:lstart] + repl + s[m.end() :]
            pos = lstart + len(repl)
        else:
            # NULL || X: operand is the primary starting after ||.
            # Guard: `x IS [NOT] NULL || y` parses as IS NOT (NULL||y)
            # under DuckDB's precedence — leave the IS-chain alone.
            head = s[: m.start()].rstrip()
            if re.search(r"(?i)\b(?:IS|NOT)$", head):
                pos = m.end()
                continue
            start = m.end()
            while start < len(s) and s[start] in " \t\n":
                start += 1
            rend = _primary_fwd(s, start)
            operand = s[start:rend].strip()
            if not operand or operand.upper() == "NULL":
                pos = m.end()
                continue
            repl = f"if(false, {operand}, NULL)"
            s = s[: m.start()] + repl + s[rend:]
            pos = m.start() + len(repl)
    return s


def _rewrite_concat_nullskip(s: str, table: list[str]) -> str:
    """DuckDB's ``concat()`` stringifies EVERY argument (lists render as
    their display text) and SKIPS NULLs — Spark's concat returns NULL if
    any argument is NULL. ``concat_ws('')`` over per-argument string
    casts reproduces both behaviors. Runs before any other rewrite, so
    only user-authored concat calls are touched — rewrite-emitted
    concat/concat_ws stays Spark-native. The ``||`` operator keeps its
    NULL-propagating standard semantics on both engines."""
    pos = 0
    while m := _CONCAT_FN_RE.search(s, pos):
        open_idx = m.end() - 1
        close = _matching_paren(s, open_idx)
        args = _split_top_commas(s[open_idx + 1 : close])
        if not args or not args[0].strip():
            pos = close + 1
            continue
        empty = _masked_literal(table, "")
        parts = ", ".join(f"CAST({a.strip()} AS STRING)" for a in args)
        repl = f"concat_ws({empty}, {parts})"
        s = s[: m.start()] + repl + s[close + 1 :]
        pos = m.start() + len(repl)
    return s



_USING_SAMPLE_RE = re.compile(
    r"\b(?:USING\s+SAMPLE|TABLESAMPLE)\s+"
    r"(?:(bernoulli|system|reservoir)\s*\(\s*([^()]+?)\s*\)"
    r"|(\d+(?:\.\d+)?)\s*(%|PERCENT\b|ROWS\b)?"
    # round-12 hunt D: the method-as-suffix spelling — USING SAMPLE
    # 10 PERCENT (bernoulli[, seed])
    r"(?:\s*\(\s*(?:bernoulli|system|reservoir)"
    r"(?:\s*,\s*(\d+))?\s*\))?)"
    r"(\s*REPEATABLE\s*\(\s*\d+\s*\))?",
    re.IGNORECASE,
)



def _rewrite_using_sample(s: str) -> str:
    """DuckDB sampling clauses — ``USING SAMPLE 10%``, ``USING SAMPLE
    50 ROWS``, ``USING SAMPLE reservoir(5%) REPEATABLE (42)``, and the
    ``TABLESAMPLE bernoulli(10%)`` spelling — → Spark's
    ``TABLESAMPLE (… PERCENT|ROWS) [REPEATABLE (seed)]``. Sample
    MEMBERSHIP is engine-RNG on both systems (the o08b precedent:
    rows-only verification by nature); the clause shape, unit semantics,
    and seed stability are what carries over. Spark-native
    ``TABLESAMPLE (10 PERCENT)`` is already parenthesized and never
    matches."""

    def sub(m: re.Match) -> str:
        method, marg, num, unit, seed, rep = m.groups()
        if seed and not rep:
            # method-suffix seed — (bernoulli, 42) — maps to REPEATABLE
            rep = f" REPEATABLE ({seed})"
        if method:
            am = re.match(
                r"^(\d+(?:\.\d+)?)\s*(%|PERCENT\b|ROWS\b)?$",
                marg.strip(),
                re.IGNORECASE,
            )
            if not am:
                raise ValueError(
                    f"unsupported sample spec: {m.group(0)!r}"
                )
            num, unit = am.group(1), am.group(2)
        u = (unit or "").upper().replace("%", "PERCENT") or "ROWS"
        spec = f"{num} {u}"
        return f"TABLESAMPLE ({spec}){rep or ''}"

    s = _USING_SAMPLE_RE.sub(sub, s)
    # round-12 hunt D: DuckDB puts the sample clause AFTER the alias
    # (FROM t alias USING SAMPLE …); Spark's grammar wants TABLESAMPLE
    # before it — swap when the preceding word shows the identifier is
    # an alias (after ')' or another identifier), not the table itself
    def swap(m: re.Match) -> str:
        prev, ws, alias, ts = m.groups()
        if prev.upper() in ("FROM", "JOIN", "LATERAL"):
            return m.group(0)
        return f"{prev}{ws}{ts} {alias}"

    return _TS_ALIAS_SWAP_RE.sub(swap, s)



_TS_ALIAS_SWAP_RE = re.compile(
    r"(\)|[A-Za-z_]\w*)(\s+(?:AS\s+)?)([A-Za-z_]\w*)\s+"
    r"(TABLESAMPLE\s*\([^()]*\)(?:\s*REPEATABLE\s*\(\s*\d+\s*\))?)",
    re.IGNORECASE,
)

_AT_TZ_RE = re.compile(r"\bAT\s+TIME\s+ZONE\s*", re.IGNORECASE)



def _rewrite_at_time_zone(s: str) -> str:
    """``ts AT TIME ZONE 'tz'``. DuckDB: a NAIVE timestamp interprets as
    wall-clock in tz and becomes an instant (→ to_utc_timestamp under
    the UTC-pinned session); a TIMESTAMPTZ converts to tz wall-clock
    (→ from_utc_timestamp). The instant branch is detected from the
    operand's own spelling (TIMESTAMPTZ literal / ::TIMESTAMPTZ cast) —
    every other operand takes the naive branch, which is also what the
    engine's UTC-relabelled parquet timestamps ARE."""
    while m := _AT_TZ_RE.search(s):
        end0 = m.start()
        while end0 > 0 and s[end0 - 1] in " \t\n":
            end0 -= 1
        start = _primary_back(s, end0)
        kw = re.search(
            r"(?i)\b(TIMESTAMPTZ|TIMESTAMP|TIMETZ|TIME|DATE)\s*$", s[:start]
        )
        if kw:
            start = kw.start(1)
        operand = s[start:end0].strip()
        tz_end = _primary_end(s, m.end())
        tz = s[m.end() : tz_end].strip()
        if not operand or not tz:
            raise ValueError("AT TIME ZONE: could not parse operands")
        if re.match(r"(?i)^TIMESTAMPTZ\b", operand) or re.search(
            r"(?i)::\s*TIMESTAMPTZ$", operand
        ):
            repl = f"from_utc_timestamp({operand}, {tz})"
        else:
            repl = f"to_utc_timestamp({operand}, {tz})"
        s = s[:start] + repl + s[tz_end:]
    return s



_IDX_LAMBDA_FNS_RE = re.compile(
    r"\b(list_transform|list_apply|array_transform|apply|list_filter|"
    r"array_filter|filter)\s*\(",
    re.IGNORECASE,
)



def _rewrite_indexed_lambdas(s: str) -> str:
    """DuckDB's two-parameter list lambdas get a 1-BASED element index
    (``list_transform(l, (x, i) -> …)``); Spark's index parameter is
    0-based — a silent off-by-one on every indexed lambda. Rename the
    index parameter and substitute ``(__dd_ix + 1)`` in the body."""
    pos = 0
    n = 0
    while m := _IDX_LAMBDA_FNS_RE.search(s, pos):
        open_idx = m.end() - 1
        close = _matching_paren(s, open_idx)
        args = _split_top_commas(s[open_idx + 1 : close])
        lm = (
            re.match(
                r"^\s*\(\s*([A-Za-z_]\w*)\s*,\s*([A-Za-z_]\w*)\s*\)\s*->\s*(.+)$",
                args[1],
                re.DOTALL,
            )
            if len(args) == 2
            else None
        )
        if not lm:
            pos = m.end()
            continue
        v, ix, body = lm.groups()
        # a unique parameter name per lambda — nested indexed lambdas
        # must not shadow the outer rename
        p = f"__dd_ix{n}"
        n += 1
        body = re.sub(rf"\b{re.escape(ix)}\b", f"({p} + 1)", body)
        inner = f"{args[0]}, ({v}, {p}) -> {body}"
        s = s[: open_idx + 1] + inner + s[close:]
        pos = m.end()
    return s



def _rewrite_typed_literals(s: str, table: list[str]) -> str:
    """``DECIMAL '12.345'`` → ``CAST('12.345' AS DECIMAL(18,3))`` etc.;
    BIT/BITSTRING literals keep their display string (Spark has no BIT
    type; downstream bit ops then fail closed instead of mis-typing)."""

    def sub(m: re.Match) -> str:
        kw = m.group(1).lower()
        if kw in ("bit", "bitstring"):
            lit = _literal_value(_unmask(m.group(2), table))
            if lit is not None and re.fullmatch(r"[01]+", lit):
                return m.group(2)
            return m.group(0)
        target = (None if kw in ("date", "timestamp")
                  else spark_type(kw))
        if target is None:
            return m.group(0)
        return f"CAST({m.group(2)} AS {target})"

    return _TYPED_LITERAL_RE.sub(sub, s)



_UNDERSCORE_NUM_RE = re.compile(
    r"(?<![\w.\x00])(\d[\d_]*(?:\.[\d_]+)?)(?![\w\x00])"
)



def _rewrite_underscore_numerics(s: str) -> str:
    """DuckDB accepts ``1_000_000`` readability underscores (digits on
    both sides); Spark parses the token as an identifier. Strip the
    underscores — only between digits, so identifiers are untouched."""

    def sub(m: re.Match) -> str:
        tok = m.group(1)
        if "_" not in tok:
            return tok
        if re.search(r"(^|[^0-9])_|_([^0-9]|$)", tok):
            return tok  # malformed (leading/trailing/dot-adjacent) — leave
        return tok.replace("_", "")

    return _UNDERSCORE_NUM_RE.sub(sub, s)



_MATERIALIZED_CTE_RE = re.compile(
    r"\bAS\s+(?:NOT\s+)?MATERIALIZED\s*\(", re.IGNORECASE
)



def _rewrite_materialized_cte(s: str) -> str:
    """``WITH c AS [NOT] MATERIALIZED (…)`` — a pure optimizer hint in
    DuckDB; Spark's CTEs are always inlined by the optimizer, so the
    hint drops (Q3's cache() path is the engine's materialization)."""
    return _MATERIALIZED_CTE_RE.sub("AS (", s)



# the explicit unit set keeps a trailing alias (AS …) out of the match,
# and the (?!\s+TO\b) guard keeps multi-field qualifiers (YEAR TO MONTH,
# DAY TO HOUR) out of the fold — those fall through untouched
_IV_UNIT = (
    r"(?:microseconds?|us|milliseconds?|ms|seconds?|minutes?|hours?"
    r"|days?|weeks?|months?|years?)"
)

_TIME_ARITH_RE = re.compile(
    r"\bTIME\s+(\x00\d+\x00)\s*([+-])\s*INTERVAL\s+"
    rf"(?:(\x00\d+\x00)|(\d+))(?:\s*({_IV_UNIT})\b)?(?!\s+TO\b)",
    re.IGNORECASE,
)

_INTERVAL_FIRST_RE = re.compile(
    rf"\bINTERVAL\s+(?:(\x00\d+\x00)|(\d+))(?:\s*({_IV_UNIT})\b)?(?!\s+TO\b)"
    r"\s*\+\s*TIME\s+(\x00\d+\x00)",
    re.IGNORECASE,
)

# TIME 'lit' ± INTERVAL (<expr>) UNIT — battery 39: the interval count
# is a runtime expression, so the fold lowers to modular microsecond
# arithmetic + a rebuilt TIME cast instead of a rewrite-time constant
_TIME_ARITH_DYN_RE = re.compile(
    r"\bTIME\s+(\x00\d+\x00)\s*([+-])\s*INTERVAL\s*\(",
    re.IGNORECASE,
)

_TIME_DYN_UNIT_US = {
    "microsecond": 1, "microseconds": 1,
    "millisecond": 1_000, "milliseconds": 1_000,
    "second": 1_000_000, "seconds": 1_000_000,
    "minute": 60_000_000, "minutes": 60_000_000,
    "hour": 3_600_000_000, "hours": 3_600_000_000,
    "day": 86_400_000_000, "days": 86_400_000_000,
}

# DATE 'd' + TIME 't' (either order) → TIMESTAMP literal; and
# TIMESTAMP 'x'::TIME / CAST(TIMESTAMP 'x' AS TIME) → TIME literal.
# Literal folds only — Spark's TIME type has no runtime constructors,
# and the fail-closed policy for column operands stands.
_DATE_PLUS_TIME_RE = re.compile(
    r"\bDATE\s+(\x00\d+\x00)\s*\+\s*TIME\s+(\x00\d+\x00)", re.IGNORECASE
)

_TIME_PLUS_DATE_RE = re.compile(
    r"\bTIME\s+(\x00\d+\x00)\s*\+\s*DATE\s+(\x00\d+\x00)", re.IGNORECASE
)

_TS_TO_TIME_CAST_RE = re.compile(
    r"\bTIMESTAMP\s+(\x00\d+\x00)\s*::\s*TIME\b"
    r"|\bCAST\s*\(\s*TIMESTAMP\s+(\x00\d+\x00)\s+AS\s+TIME\s*\)",
    re.IGNORECASE,
)

_DATE_LIT_RE = re.compile(r"^\s*(\d{4})-(\d{2})-(\d{2})\s*$")


_INTERVAL_UNIT_MICROS = {
    "microsecond": 1,
    "microseconds": 1,
    "us": 1,
    "millisecond": 1_000,
    "milliseconds": 1_000,
    "ms": 1_000,
    "second": 1_000_000,
    "seconds": 1_000_000,
    "minute": 60_000_000,
    "minutes": 60_000_000,
    "hour": 3_600_000_000,
    "hours": 3_600_000_000,
    # a whole number of days/weeks/months/years leaves the time of day
    # unchanged (the shift is 0 mod 24 h) — DuckDB semantics
    "day": 0,
    "days": 0,
    "week": 0,
    "weeks": 0,
    "month": 0,
    "months": 0,
    "year": 0,
    "years": 0,
}


_DAY_MICROS = 86_400_000_000

# DuckDB's interval TOTAL ORDER normalization (round-14 hunt G):
# comparisons treat 1 month = 30 days and 1 day = 24 hours, so
# INTERVAL 1 MONTH = INTERVAL 30 DAY is TRUE — Spark cannot even
# compare a year-month interval with a day-time one. Literal-vs-
# literal comparisons fold to integers at rewrite time.
_IV_TOTAL_MICROS = {
    "microsecond": 1, "microseconds": 1, "us": 1,
    "millisecond": 1_000, "milliseconds": 1_000, "ms": 1_000,
    "second": 1_000_000, "seconds": 1_000_000,
    "minute": 60_000_000, "minutes": 60_000_000,
    "hour": 3_600_000_000, "hours": 3_600_000_000,
    "day": _DAY_MICROS, "days": _DAY_MICROS,
    "week": 7 * _DAY_MICROS, "weeks": 7 * _DAY_MICROS,
    "month": 30 * _DAY_MICROS, "months": 30 * _DAY_MICROS,
    "quarter": 90 * _DAY_MICROS, "quarters": 90 * _DAY_MICROS,
    "year": 360 * _DAY_MICROS, "years": 360 * _DAY_MICROS,
    "decade": 3_600 * _DAY_MICROS, "decades": 3_600 * _DAY_MICROS,
    "century": 36_000 * _DAY_MICROS, "centuries": 36_000 * _DAY_MICROS,
}

_IV_LIT = (
    r"INTERVAL\s+(?:(\x00\d+\x00)|(-?\d+))\s*([A-Za-z]+)?"
)
_IV_CMP_RE = re.compile(
    rf"\b{_IV_LIT}\s*(=|<>|!=|<=|>=|<|>)\s*\b{_IV_LIT}",
    re.IGNORECASE,
)


def _interval_total_micros(
    masked_lit: str | None, num: str | None, unit: str | None,
    table: list[str],
) -> int | None:
    """One INTERVAL literal → DuckDB-normalized total microseconds
    (month = 30 days, day = 24 h); None if the spelling is out of
    scope (TO-range forms, column operands)."""
    if num is not None and unit:
        u = unit.lower()
        if u in _IV_TOTAL_MICROS:
            return int(num) * _IV_TOTAL_MICROS[u]
        return None
    if masked_lit is None:
        return None
    text = _literal_value(_unmask(masked_lit, table)) or ""
    if unit:  # INTERVAL '3' HOUR form
        u = unit.lower()
        if u not in _IV_TOTAL_MICROS:
            return None
        try:
            return int(text.strip()) * _IV_TOTAL_MICROS[u]
        except ValueError:
            return None
    total, pos = 0, 0
    for m in re.finditer(r"(-?\d+)\s*([A-Za-z]+)", text):
        if text[pos : m.start()].strip():
            return None
        u = m.group(2).lower()
        if u not in _IV_TOTAL_MICROS:
            return None
        total += int(m.group(1)) * _IV_TOTAL_MICROS[u]
        pos = m.end()
    if text[pos:].strip() or pos == 0:
        return None
    return total


def _rewrite_interval_cmp(s: str, table: list[str]) -> str:
    """Fold comparisons between two INTERVAL literals to integer
    comparisons under DuckDB's normalization (round-14 hunt G) —
    Spark raises a type error across the year-month/day-time class
    boundary where DuckDB compares 1 month = 30 days = 720 hours."""
    pos = 0
    while m := _IV_CMP_RE.search(s, pos):
        a = _interval_total_micros(m.group(1), m.group(2), m.group(3),
                                   table)
        b = _interval_total_micros(m.group(5), m.group(6), m.group(7),
                                   table)
        if a is None or b is None:
            pos = m.end()
            continue
        repl = f"{a} {m.group(4)} {b}"
        s = s[: m.start()] + repl + s[m.end() :]
        pos = m.start() + len(repl)
    return s



def _parse_interval_micros(text: str, unit: str) -> int | None:
    """Interval literal → microseconds mod one day; None if unsupported."""
    unit = unit.lower()
    if unit:
        if unit not in _INTERVAL_UNIT_MICROS:
            return None
        try:
            n = int(text)
        except ValueError:
            return None
        return n * _INTERVAL_UNIT_MICROS[unit]
    # string form: '1 day 2 hours 30 minutes'
    total = 0
    pos = 0
    for m in re.finditer(r"(-?\d+)\s*([A-Za-z]+)", text):
        if text[pos : m.start()].strip():
            return None
        u = m.group(2).lower()
        if u not in _INTERVAL_UNIT_MICROS:
            return None
        total += int(m.group(1)) * _INTERVAL_UNIT_MICROS[u]
        pos = m.end()
    if text[pos:].strip():
        return None
    return total



def _parse_time_micros(text: str) -> int | None:
    m = re.fullmatch(r"(\d{1,2}):(\d{2})(?::(\d{2})(?:\.(\d{1,6}))?)?", text.strip())
    if not m:
        return None
    h, mi = int(m.group(1)), int(m.group(2))
    sec = int(m.group(3) or 0)
    frac = (m.group(4) or "").ljust(6, "0")
    if h > 23 or mi > 59 or sec > 59:
        return None
    return ((h * 60 + mi) * 60 + sec) * 1_000_000 + int(frac)



def _fmt_time_micros(us: int) -> str:
    us %= _DAY_MICROS
    sec, frac = divmod(us, 1_000_000)
    h, rem = divmod(sec, 3600)
    mi, s = divmod(rem, 60)
    base = f"{h:02d}:{mi:02d}:{s:02d}"
    if frac:
        base += (".%06d" % frac).rstrip("0")
    return base



def _fold_time_arithmetic(s: str, table: list[str]) -> str:
    """``TIME 'x' ± INTERVAL …`` (literals both sides) folds to the
    resulting TIME literal at rewrite time — Spark's TIME type has
    literals and comparisons but no arithmetic yet, and DuckDB's result
    wraps modulo 24 h, which the fold reproduces exactly. Column-based
    TIME arithmetic stays unsupported (analysis error, never a silent
    wrong answer). Chained ``+ INTERVAL`` terms fold iteratively."""

    def fold(
        time_mask: str, op: str, iv_mask: str | None, iv_num: str | None, unit: str
    ) -> str | None:
        t = _literal_value(_unmask(time_mask, table))
        tm = _parse_time_micros(t) if t is not None else None
        if tm is None:
            return None
        iv_text = (
            _literal_value(_unmask(iv_mask, table)) if iv_mask else iv_num
        )
        if iv_text is None:
            return None
        iv = _parse_interval_micros(iv_text, unit or "")
        if iv is None:
            return None
        result = tm + iv if op == "+" else tm - iv
        lit = _masked_literal(table, _fmt_time_micros(result))
        return f"TIME {lit}"

    while m := _TIME_ARITH_RE.search(s):
        repl = fold(m.group(1), m.group(2), m.group(3), m.group(4), m.group(5))
        if repl is None:
            break
        s = s[: m.start()] + repl + s[m.end() :]
    while m := _INTERVAL_FIRST_RE.search(s):
        repl = fold(m.group(4), "+", m.group(1), m.group(2), m.group(3))
        if repl is None:
            break
        s = s[: m.start()] + repl + s[m.end() :]

    # battery 39: TIME 'lit' ± INTERVAL (<runtime expr>) UNIT — DuckDB
    # wraps modulo 24 h; lower to pmod micros + format_string + CAST
    # back to TIME (the probed wrap in both directions)
    while m := _TIME_ARITH_DYN_RE.search(s):
        t = _literal_value(_unmask(m.group(1), table))
        tm = _parse_time_micros(t) if t is not None else None
        if tm is None:
            break
        open_idx = m.end() - 1
        close = _matching_paren(s, open_idx)
        if close is None or close < 0:
            break
        expr = s[open_idx + 1 : close]
        um = re.match(r"\s*([A-Za-z]+)\b", s[close + 1 :])
        unit_us = _TIME_DYN_UNIT_US.get((um.group(1) if um else "").lower())
        if unit_us is None:
            break
        sgn = m.group(2)
        us = (
            f"pmod({tm}L {sgn} (CAST(({expr}) AS BIGINT) * {unit_us}L), "
            f"86400000000L)"
        )
        # the engine serves TIME as its ISO string form (ddl.py type
        # map) with a zero fraction omitted, like _fmt_time_micros
        tmpl = _masked_literal(table, "%02d:%02d:%02d")
        ftmpl = _masked_literal(table, ".%06d")
        repl = (
            f"concat(format_string({tmpl}, "
            f"CAST(({us}) DIV 3600000000 AS INT), "
            f"CAST((({us}) DIV 60000000) % 60 AS INT), "
            f"CAST((({us}) DIV 1000000) % 60 AS INT)), "
            f"CASE WHEN ({us}) % 1000000 = 0 THEN '' "
            f"ELSE regexp_replace(format_string({ftmpl}, "
            f"CAST(({us}) % 1000000 AS INT)), '0+$', '') END)"
        )
        end = close + 1 + um.end()
        s = s[: m.start()] + repl + s[end:]

    def date_time_fold(date_mask: str, time_mask: str) -> str | None:
        d = _literal_value(_unmask(date_mask, table))
        t = _literal_value(_unmask(time_mask, table))
        if d is None or t is None or not _DATE_LIT_RE.match(d):
            return None
        tm = _parse_time_micros(t)
        if tm is None:
            return None
        lit = _masked_literal(
            table, f"{d.strip()} {_fmt_time_micros(tm)}"
        )
        return f"TIMESTAMP {lit}"

    for pat, order in ((_DATE_PLUS_TIME_RE, (1, 2)),
                       (_TIME_PLUS_DATE_RE, (2, 1))):
        while m := pat.search(s):
            repl = date_time_fold(m.group(order[0]), m.group(order[1]))
            if repl is None:
                break
            s = s[: m.start()] + repl + s[m.end() :]
    while m := _TS_TO_TIME_CAST_RE.search(s):
        ts = _literal_value(_unmask(m.group(1) or m.group(2), table))
        if ts is None:
            break
        parts = ts.strip().split(" ", 1)
        tm = _parse_time_micros(parts[1]) if len(parts) == 2 else None
        if tm is None:
            break
        lit = _masked_literal(table, _fmt_time_micros(tm))
        s = s[: m.start()] + f"TIME {lit}" + s[m.end() :]

    # round-13 hunt F: date_diff / date_sub over TIME literals fold at
    # rewrite time (Spark cannot cast TIME to TIMESTAMP). Probed on
    # live 1.0: date_diff counts unit-BOUNDARY crossings
    # (floor(b/u) - floor(a/u), signed), date_sub counts ELAPSED full
    # units truncated toward zero (10:00:30→11:30:00 = 89; reversed =
    # -89). Date-granular units error on TIME in DuckDB — left unfolded
    # here, so Spark's TIME-cast error mirrors the fail mode.
    while m := _TIME_DATEDIFF_RE.search(s):
        fn = m.group(1).lower().replace("_", "")
        unit = (_literal_value(_unmask(m.group(2), table)) or "").lower()
        unit_us = _TIME_DYN_UNIT_US.get(unit)
        a = _parse_time_micros(_literal_value(_unmask(m.group(3), table)) or "")
        b = _parse_time_micros(_literal_value(_unmask(m.group(4), table)) or "")
        if unit_us is None or unit == "day" or unit == "days" \
                or a is None or b is None:
            break
        if fn.endswith("sub"):
            n = abs(b - a) // unit_us
            val = n if b >= a else -n
        else:
            val = b // unit_us - a // unit_us
        s = s[: m.start()] + f"CAST({val} AS BIGINT)" + s[m.end() :]
    return s


_TIME_DATEDIFF_RE = re.compile(
    r"\b(date_?diff|date_?sub)\s*\(\s*(\x00\d+\x00)\s*,\s*"
    r"TIME\s+(\x00\d+\x00)\s*,\s*TIME\s+(\x00\d+\x00)\s*\)",
    re.IGNORECASE,
)


_TIME_LIT_ARG_RE = re.compile(r"^\s*TIME\s+(\x00\d+\x00)\s*$", re.IGNORECASE)


def _time_literal_micros(arg: str, table: list[str]) -> int | None:
    """Micros-since-midnight when ``arg`` is a masked TIME literal."""
    m = _TIME_LIT_ARG_RE.match(arg)
    if not m:
        return None
    t = _literal_value(_unmask(m.group(1), table))
    return _parse_time_micros(t) if t is not None else None



# round-12 hunt B: DuckDB parses string→integer casts through DECIMAL
# and ROUNDS half-up away from zero ('12.7' → 13, '-12.5' → -13, '1e3'
# → 1000, whitespace trimmed, '0x1A' hex → 26); Spark's ANSI cast
# rejects fractional strings outright. Literal CASTs fold at rewrite
# time (exact integer math, no double round-trip); TRY_CAST over any
# expression adds a rounding fallback branch — the native branch keeps
# integer-string exactness, the fallback only fires where the native
# try returned NULL. String COLUMNS under plain CAST stay native (an
# ANSI error where DuckDB succeeds — visible, never silently wrong);
# the DOUBLE→int truncate-vs-round divergence is the standing
# documented acceptance (declared queries floor first).
# every name whose Spark spelling holds integers only (HUGEINT's
# DECIMAL(38,0) included), longest first
_INT_TARGETS = "(?:" + "|".join(sorted(
    (n for n, t in DUCK_TYPES.items()
     if t in ("TINYINT", "SMALLINT", "INT", "BIGINT") or t.endswith(",0)")),
    key=len, reverse=True)) + ")"
_STR_INT_CAST_RE = re.compile(
    rf"\bCAST\s*\(\s*(\x00\d+\x00)\s+AS\s+({_INT_TARGETS})\s*\)",
    re.IGNORECASE,
)
_STR_INT_DCOLON_RE = re.compile(
    rf"(\x00\d+\x00)\s*::\s*({_INT_TARGETS})\b", re.IGNORECASE
)
_TRY_CAST_INT_RE = re.compile(r"\bTRY_CAST\s*\(", re.IGNORECASE)

def _duck_str_to_int(text: str) -> int | None:
    t = text.strip()
    try:
        if re.fullmatch(r"[+-]?0x[0-9a-fA-F]+", t):
            return int(t, 16)
        from decimal import ROUND_HALF_UP, Decimal

        return int(Decimal(t).quantize(Decimal(1), rounding=ROUND_HALF_UP))
    except Exception:
        return None


_FLOAT_INT_CAST_RE = re.compile(r"\bCAST\s*\(", re.IGNORECASE)
_FLOAT_INT_DCOLON_RE = re.compile(
    rf"::\s*({_INT_TARGETS})\b", re.IGNORECASE
)
_AVG_RE = re.compile(r"\bAVG\s*\(", re.IGNORECASE)


_SRC_TYPE = r"([A-Za-z_]\w*)\s*(?:\(\s*\d+\s*(?:,\s*\d+\s*)?\))?"
# keyed by the Spark spelling of a bare source type name (DECIMAL,
# NUMERIC and DEC all spell DECIMAL(18,3); HUGEINT is integral)
_TYPE_ROUND = {"DOUBLE": "even", "FLOAT": "even", "DECIMAL(18,3)": "away"}


def _float_src_round(expr: str, kinds: dict[str, str] | None) -> str | None:
    """Classify an integer-cast SOURCE for DuckDB's rounding rule
    (round-14 hunt G): ``'even'`` — DOUBLE/FLOAT casts round half to
    even (nearbyint: 2.5→2, 3.5→4, −7.5→−8); ``'away'`` — DECIMAL
    casts round half away from zero (2.5→3, −2.5→−3); None — source
    type unknown (int/string/computed expressions stay on the native
    cast — a computed float expression without a visible cast is the
    documented residual)."""
    e = expr.strip()
    while e.startswith("(") and _matching_paren(e, 0) == len(e) - 1:
        e = e[1:-1].strip()
    if re.fullmatch(r"[+-]?\d+\.\d*", e):
        return "away"  # decimal literal (parenthesized/signed form)
    if re.fullmatch(r"[+-]?\d*\.?\d+[eE][+-]?\d+", e):
        return "even"  # scientific literal is DOUBLE in DuckDB
    if re.match(r"(?is)^(?:TRY_)?CAST\s*\(", e):
        open_idx = e.index("(")
        if _matching_paren(e, open_idx) == len(e) - 1:
            mm = re.search(rf"(?is)\bAS\s+{_SRC_TYPE}\s*\)$", e)
            if mm:
                return _TYPE_ROUND.get(spark_type(mm.group(1)))
        return None
    # a postfix cast (3.7::FLOAT8) names its own type
    mm = re.search(rf"(?s)::\s*{_SRC_TYPE}$", e)
    if mm and _primary_back(e, len(e)) == 0:
        return _TYPE_ROUND.get(spark_type(mm.group(1)))
    if kinds and re.fullmatch(r"[A-Za-z_][\w.]*", e):
        k = kinds.get(e.split(".")[-1].lower())
        if k == "double":
            return "even"
        if k == "decimal":
            return "away"
    return None


def _rewrite_float_int_casts(
    s: str, kinds: dict[str, str] | None
) -> str:
    """Round-14 hunt G: numeric→integer casts ROUND in DuckDB but
    TRUNCATE in Spark — silent wrong answers for any fractional part
    ≥ .5. DOUBLE/FLOAT sources take bround (half-even, matching
    DuckDB's nearbyint); DECIMAL sources take round (half away from
    zero). Applied where the source type is visible (an explicit
    inner cast, or a schema-resolved column); unknown sources stay
    native."""
    pos = 0
    while m := _FLOAT_INT_CAST_RE.search(s, pos):
        open_idx = m.end() - 1
        close = _matching_paren(s, open_idx)
        if close < 0:
            pos = m.end()
            continue
        inner = s[open_idx + 1 : close]
        mm = re.search(
            rf"\s+AS\s+({_INT_TARGETS})\s*$", inner, re.IGNORECASE
        )
        if not mm:
            pos = m.end()
            continue
        e = inner[: mm.start()]
        kind = _float_src_round(e, kinds)
        if kind is None:
            pos = m.end()
            continue
        t = DUCK_TYPES[mm.group(1).upper()]
        fn = "bround" if kind == "even" else "round"
        repl = f"CAST({fn}({e.strip()}, 0) AS {t})"
        s = s[: m.start()] + repl + s[close + 1 :]
        pos = m.start() + len(repl)
    pos = 0
    while m := _FLOAT_INT_DCOLON_RE.search(s, pos):
        lstart = _primary_back(s, m.start())
        e = s[lstart : m.start()].strip()
        kind = _float_src_round(e, kinds)
        if kind is None:
            pos = m.end()
            continue
        t = DUCK_TYPES[m.group(1).upper()]
        fn = "bround" if kind == "even" else "round"
        repl = f"CAST({fn}({e}, 0) AS {t})"
        s = s[:lstart] + repl + s[m.end() :]
        pos = lstart + len(repl)
    return s


def _rewrite_avg_decimal(s: str, kinds: dict[str, str] | None) -> str:
    """Round-14 hunt G: ``avg(DECIMAL)`` returns DOUBLE in DuckDB 1.0
    but DECIMAL(p+4, s+4) in Spark — a type (and hash) divergence.
    Wrap the aggregate (including a trailing OVER clause) in a DOUBLE
    cast when the argument's decimal type is visible."""
    pos = 0
    while m := _AVG_RE.search(s, pos):
        open_idx = m.end() - 1
        close = _matching_paren(s, open_idx)
        if close < 0:
            pos = m.end()
            continue
        arg = s[open_idx + 1 : close].strip()
        arg = re.sub(r"(?is)^(?:DISTINCT|ALL)\s+", "", arg)
        if _float_src_round(arg, kinds) != "away":
            pos = m.end()
            continue
        end = close + 1
        tail = s[end:]
        om = re.match(r"\s*OVER\s*\(", tail, re.IGNORECASE)
        if om:
            oc = _matching_paren(s, end + om.end() - 1)
            if oc > 0:
                end = oc + 1
        elif re.match(r"\s*OVER\s+[A-Za-z_]\w*", tail, re.IGNORECASE):
            end += re.match(r"\s*OVER\s+[A-Za-z_]\w*", tail,
                            re.IGNORECASE).end()
        repl = f"CAST({s[m.start():end]} AS DOUBLE)"
        s = s[: m.start()] + repl + s[end:]
        pos = m.start() + len(repl)
    return s


_BITSTR_DCOLON_RE = re.compile(r"::\s*BIT(?:STRING)?\b", re.IGNORECASE)
_BITSTR_CAST_AS_RE = re.compile(
    r"\s+AS\s+BIT(?:STRING)?\s*$", re.IGNORECASE
)


def _rewrite_bitstring_casts(s: str, table: list[str]) -> str:
    """Round-14 hunt G: the BITSTRING/BIT type, represented as its 0/1
    rendering (identical to DuckDB's own VARCHAR cast of a BIT). A
    cast validates the pattern: CAST errors on non-binary input like
    DuckDB's conversion error; TRY_CAST yields NULL."""
    rx = _masked_literal(table, "^[01]+$")

    def wrap(op: str, is_try: bool) -> str:
        if is_try:
            return f"(CASE WHEN {op} RLIKE {rx} THEN {op} END)"
        msg = _masked_literal(
            table, "Conversion Error: string is not a valid bitstring")
        return (f"(CASE WHEN {op} RLIKE {rx} THEN {op} "
                f"ELSE raise_error({msg}) END)")

    pos = 0
    while m := _BITSTR_DCOLON_RE.search(s, pos):
        lstart = _primary_back(s, m.start())
        op = s[lstart : m.start()].strip()
        if not op:
            pos = m.end()
            continue
        repl = wrap(op, is_try=False)
        s = s[:lstart] + repl + s[m.end() :]
        pos = lstart + len(repl)
    pos = 0
    while m := re.compile(r"\b(TRY_)?CAST\s*\(",
                          re.IGNORECASE).search(s, pos):
        open_idx = m.end() - 1
        close = _matching_paren(s, open_idx)
        if close < 0:
            pos = m.end()
            continue
        inner = s[open_idx + 1 : close]
        am = _BITSTR_CAST_AS_RE.search(inner)
        if not am:
            pos = m.end()
            continue
        repl = wrap(inner[: am.start()].strip(), is_try=bool(m.group(1)))
        s = s[: m.start()] + repl + s[close + 1 :]
        pos = m.start() + len(repl)
    return s


def _rewrite_string_int_casts(s: str, table: list[str]) -> str:
    def fold(m: "re.Match[str]") -> str:
        entry = table[int(re.search(r"\x00(\d+)\x00", m.group(1)).group(1))]
        if not entry.startswith("'"):
            return m.group(0)
        v = _duck_str_to_int(_literal_value(entry))
        if v is None:
            return m.group(0)  # DuckDB would error too — stay native
        return f"CAST({v} AS {DUCK_TYPES[m.group(2).upper()]})"

    s = _STR_INT_CAST_RE.sub(fold, s)
    s = _STR_INT_DCOLON_RE.sub(fold, s)
    pos = 0
    while m := _TRY_CAST_INT_RE.search(s, pos):
        open_idx = m.end() - 1
        close = _matching_paren(s, open_idx)
        inner = s[open_idx + 1 : close]
        mm = re.search(
            rf"\s+AS\s+({_INT_TARGETS})\s*$", inner, re.IGNORECASE
        )
        if not mm:
            pos = close
            continue
        e = inner[: mm.start()]
        t = DUCK_TYPES[mm.group(1).upper()]
        repl = (
            f"coalesce(try_cast({e} AS {t}), "
            f"try_cast(round(try_cast({e} AS DOUBLE)) AS {t}))"
        )
        s = s[: m.start()] + repl + s[close + 1 :]
        pos = m.start() + len(repl)
    return s


_EXTRACT_EPOCH_RE = re.compile(r"\bEXTRACT\s*\(\s*EPOCH\s+FROM\b", re.IGNORECASE)

# round-12 hunt: the DuckDB extract fields Spark's EXTRACT lacks —
# rewritten to the same expressions as the date_part('field', x) form
# (the _template branch); 'isoyear' alone maps to a native Spark field
_EXTRACT_XFIELD_RE = re.compile(
    r"\bEXTRACT\s*\(\s*(isoyear|isodow|dayofyear|doy|julian|era|decade|"
    r"century|millennium)\s+FROM\b",
    re.IGNORECASE,
)

_XFIELD_EXPRS = {
    "isoyear": "extract(YEAROFWEEK FROM {x})",
    "isodow": "(weekday({x}) + 1)",
    "dayofyear": "dayofyear({x})",
    "doy": "dayofyear({x})",
    "julian": "(CAST(CAST({x} AS TIMESTAMP) AS DOUBLE) / 86400.0d"
              " + 2440588.0d)",
    "era": "(CASE WHEN year({x}) > 0 THEN 1 ELSE 0 END)",
    "decade": "CAST(floor(year({x}) / 10.0d) AS BIGINT)",
    "century": "CAST(ceil(year({x}) / 100.0d) AS BIGINT)",
    "millennium": "CAST(ceil(year({x}) / 1000.0d) AS BIGINT)",
}



_TIME_LIT_INNER_RE = re.compile(
    r"^TIME\s+(\x00\d+\x00)$", re.IGNORECASE
)



def _time_epoch_seconds(inner: str, table: list[str]) -> str | None:
    """Seconds-since-midnight for a TIME literal expression, as the SQL
    text of a DOUBLE literal (DuckDB's EXTRACT(EPOCH FROM TIME) /
    epoch(TIME) result); None when not a TIME literal."""
    tm = _TIME_LIT_INNER_RE.match(inner.strip())
    if not tm:
        return None
    t = _literal_value(_unmask(tm.group(1), table))
    us = _parse_time_micros(t) if t is not None else None
    if us is None:
        return None
    return f"CAST({us} AS DOUBLE) / 1000000"



def _rewrite_extract_epoch(s: str, table: list[str] | None = None) -> str:
    """``EXTRACT(EPOCH FROM x)`` → fractional epoch seconds as DOUBLE
    (DuckDB's result type); Spark has no EPOCH extract field. TIME
    literals fold to their seconds-since-midnight (Spark cannot cast
    TIME at runtime)."""
    while m := _EXTRACT_EPOCH_RE.search(s):
        open_idx = s.index("(", m.start())
        close = _matching_paren(s, open_idx)
        inner = s[m.end() : close].strip()
        repl = (
            _time_epoch_seconds(inner, table) if table is not None else None
        )
        if repl is None:
            repl = (
                f"CAST(unix_micros(CAST(({inner}) AS TIMESTAMP)) AS DOUBLE)"
                f" / 1000000"
            )
        s = s[: m.start()] + repl + s[close + 1 :]
    while m := _EXTRACT_XFIELD_RE.search(s):
        open_idx = s.index("(", m.start())
        close = _matching_paren(s, open_idx)
        inner = s[m.end() : close].strip()
        repl = _XFIELD_EXPRS[m.group(1).lower()].format(x=inner)
        s = s[: m.start()] + repl + s[close + 1 :]
    return s



# round-13 hunt F wave 2: DuckDB's DECIMAL→DECIMAL scale-down cast
# TRUNCATES toward zero (probed on live 1.0: 1.955→1.95, 1.959→1.95,
# -1.959→-1.95, 2.5→2; overflow past the precision errors), while
# Spark's decimal cast rounds HALF_UP — a silent wrong answer on every
# down-scale cast of a decimal literal. DOUBLE→DECIMAL and
# VARCHAR→DECIMAL *round* on both engines (no rewrite needed). Literal
# casts fold here exactly; non-literal decimal-typed expressions keep
# Spark's native rounding — the residual is type-inference-dependent
# and flagged as an acceptance rather than silently guessed.
_DEC_TYPE = (
    r"((?:DECIMAL|NUMERIC|DEC)\s*\(\s*\d+\s*,\s*\d+\s*\)"
    r"|(?:DECIMAL|NUMERIC|DEC)\b(?!\s*[(\[]))"
)
_DEC_CAST_LIT_RE = re.compile(
    rf"\bCAST\s*\(\s*(-?\d+(?:\.\d+)?)\s+AS\s+{_DEC_TYPE}\s*\)"
    rf"|(\d+(?:\.\d+)?)\s*::\s*{_DEC_TYPE}",
    re.IGNORECASE,
)


def _rewrite_decimal_literal_casts(s: str) -> str:
    from decimal import ROUND_DOWN, Decimal

    def sub(m: re.Match) -> str:
        lit = m.group(1) or m.group(3)
        ty = spark_type(m.group(2) or m.group(4))  # bare: DECIMAL(18,3)
        p, sc = map(int, re.findall(r"\d+", ty))
        if sc > p:
            return m.group(0)
        d = Decimal(lit).quantize(Decimal(1).scaleb(-sc),
                                  rounding=ROUND_DOWN)
        dt = d.as_tuple()
        if len(dt.digits) + dt.exponent > p - sc:
            return m.group(0)  # overflow: both engines error
        return f"CAST({d} AS DECIMAL({p},{sc}))"

    return _DEC_CAST_LIT_RE.sub(sub, s)


_UNPIVOT_CLAUSE_RE = re.compile(
    r"\bUNPIVOT\s*(?:(?:INCLUDE|EXCLUDE)\s+NULLS\s*)?\(", re.IGNORECASE
)



def _rewrite_unpivot_aliases(s: str, table: list[str]) -> str:
    """Inside an UNPIVOT clause DuckDB spells IN-list aliases as string
    literals (``(a1, b1) AS 'g1'``); Spark wants identifiers. The value
    surfaced in the name column is identical either way."""
    pos = 0
    while m := _UNPIVOT_CLAUSE_RE.search(s, pos):
        open_idx = m.end() - 1
        close = _matching_paren(s, open_idx)
        body = s[open_idx : close + 1]

        def alias_sub(am: re.Match) -> str:
            lit = _literal_value(_unmask(am.group(1), table))
            if lit is None or not re.fullmatch(r"[\w ]+", lit):
                return am.group(0)
            return f"AS `{lit}`"

        new_body = re.sub(
            r"\bAS\s+(\x00\d+\x00)", alias_sub, body, flags=re.IGNORECASE
        )
        s = s[:open_idx] + new_body + s[close + 1 :]
        pos = open_idx + len(new_body)
    return s



_FROM_FIRST_PAREN_RE = re.compile(r"\(\s*FROM\b", re.IGNORECASE)



def _rewrite_from_first_subquery(s: str) -> str:
    """DuckDB FROM-first subqueries: ``(FROM t WHERE …)`` →
    ``(SELECT * FROM t WHERE …)``. Spark parses the TOP-LEVEL
    FROM-first form natively but rejects it inside parentheses; no
    other SQL production begins a paren group with FROM. Groups that
    carry their own trailing SELECT are left for Spark's native
    transform syntax."""
    pos = 0
    while m := _FROM_FIRST_PAREN_RE.search(s, pos):
        close = _matching_paren(s, m.start())
        inner = s[m.start() + 1 : close]
        if not re.search(r"\bSELECT\b", inner, re.IGNORECASE):
            insert_at = m.start() + 1
            s = s[:insert_at] + "SELECT * " + s[insert_at:]
            pos = insert_at + len("SELECT * ")
        else:
            pos = m.start() + 1
    return s



def _rewrite_postfix_factorial(s: str) -> str:
    """DuckDB's postfix ``x!`` → ``factorial(x)`` for simple operands
    (numbers/identifiers) and — round 15, hunt-H grammar fuzzer —
    parenthesized groups (``(n % 2 + 2)!``, which DuckDB 1.0 accepts);
    other shapes fall through to a parse error rather than silently
    changing meaning."""
    out = s
    while m := _POSTFIX_FACT_RE.search(out):
        out = out[: m.start()] + f"factorial({m.group(1)})" + out[m.end() :]
    pos = 0
    while m := re.search(r"\)\s*!(?![=~])", out[pos:]):
        close = pos + m.start()
        depth, j = 0, close
        while j >= 0:
            if out[j] == ")":
                depth += 1
            elif out[j] == "(":
                depth -= 1
                if depth == 0:
                    break
            j -= 1
        if j < 0:
            pos = close + 1
            continue
        # only when the group is a bare operand (not a call's arglist)
        w = re.search(r"([A-Za-z_]\w*)\s*$", out[:j])
        if w and w.group(1).upper() not in (
                "AND", "OR", "NOT", "WHEN", "THEN", "ELSE", "IN",
                "SELECT", "WHERE", "BY", "ON", "AS", "BETWEEN"):
            pos = close + 1  # f(...)!: factorial of a CALL — leave it
            continue
        grp = out[j : close + 1]
        end = pos + m.end()
        out = out[:j] + f"factorial{grp}" + out[end:]
        pos = j
    return out



def _rewrite_templates(s: str, table: list[str]) -> str:
    pos = 0
    while m := _TEMPLATE_RE.search(s, pos):
        fn = m.group(1).lower()
        open_idx = m.end() - 1
        close = _matching_paren(s, open_idx)
        # resolve nested template calls inside the arguments first, then
        # splice — the replacement itself is never rescanned (kurtosis'
        # expansion legitimately contains kurtosis())
        inner = _rewrite_templates(s[open_idx + 1 : close], table)
        args = _split_top_commas(inner)
        repl = _template(fn, args, table)
        if repl is None:
            s = s[: open_idx + 1] + inner + s[close:]
            pos = open_idx + 1 + len(inner) + 1
            continue
        s = s[: m.start()] + repl + s[close + 1 :]
        pos = m.start() + len(repl)
    return s



_POSITIONAL_RE = re.compile(r"\bPOSITIONAL\s+JOIN\b", re.IGNORECASE)

_PJ_STOP_WORDS = frozenset((
    "POSITIONAL", "JOIN", "WHERE", "GROUP", "ORDER", "LIMIT", "OFFSET",
    "ON", "USING", "HAVING", "QUALIFY", "UNION", "INTERSECT", "EXCEPT",
    "WINDOW", "FETCH",
))


def _pj_parse_source(s: str, pos: int):
    """Parse one table source at ``pos``: a bare name or a
    parenthesized derived table, with an optional ``[AS] alias
    [(col, …)]``. Returns (end, source_sql, alias, cols|None) or
    None when the text is not a source."""
    wm = re.match(r"\s*", s[pos:])
    pos += wm.end()
    if pos < len(s) and s[pos] == "(":
        close = _matching_paren(s, pos)
        src = s[pos : close + 1]
        end = close + 1
        derived = True
    else:
        im = re.match(r"[A-Za-z_][\w.]*", s[pos:])
        if not im:
            return None
        src = im.group(0)
        end = pos + im.end()
        derived = False
    alias = cols = None
    am = re.match(r"\s+(?:AS\s+)?([A-Za-z_]\w*)", s[end:], re.IGNORECASE)
    if am and am.group(1).upper() not in _PJ_STOP_WORDS:
        alias = am.group(1)
        end += am.end()
        cm = re.match(r"\s*\(", s[end:])
        if cm and derived:
            open2 = end + cm.end() - 1
            close2 = _matching_paren(s, open2)
            cols = [c.strip() for c in
                    _split_top_commas(s[open2 + 1 : close2])]
            end = close2 + 1
    return end, src, alias, cols



def _rewrite_positional_join(s: str, spark, table=None) -> str:
    """``FROM a POSITIONAL JOIN b`` → rank-paired FULL join (DuckDB pads
    the shorter side with NULLs). Without this rewrite Spark parses
    POSITIONAL as a table alias and silently returns a CROSS join — so
    any unsupported shape fails closed instead of falling through.
    Row order follows the scan via monotonically_increasing_id, which is
    DuckDB's contract too (file order, not a semantic ordering). Round
    15 (hunt H): sides may be derived tables — ``(VALUES …) a(d)
    POSITIONAL JOIN (SELECT …) b`` — column names come from the alias
    column list when given, else a LIMIT-0 schema probe."""
    while m := _POSITIONAL_RE.search(s):
        if spark is None:
            raise ValueError("POSITIONAL JOIN requires a session")
        # left source: the nearest FROM/JOIN whose source parse ends
        # exactly at the POSITIONAL keyword (a nested FROM inside a
        # derived-table side parses short and is skipped)
        left = fm = None
        for fm2 in list(
            re.finditer(r"(?i)\b(?:FROM|JOIN)\s+", s[: m.start()])
        )[::-1]:
            cand = _pj_parse_source(s, fm2.end())
            if cand and not s[cand[0] : m.start()].strip():
                left, fm = cand, fm2
                break
        if left is None:
            raise ValueError(
                "POSITIONAL JOIN: cannot parse the left source"
            )
        right = _pj_parse_source(s, m.end())
        if not right:
            raise ValueError(
                "POSITIONAL JOIN: cannot parse the right source"
            )

        def side_cols(src: str, alias, cols, out_alias: str):
            if cols is not None:
                return [f"{out_alias}.`{c}`" for c in cols]
            if not src.startswith("("):
                return [f"{out_alias}.`{c}`"
                        for c in spark.table(src).columns]
            probe = src if table is None else _unmask(src, table)
            # r16 (ADVICE r15 item 4): the probe text is DuckDB dialect —
            # run it through the full rewrite before the LIMIT-0 parse so
            # a derived side using DuckDB-only syntax the pipeline CAN
            # lower (list literals, ::casts, //) probes successfully
            # instead of hard-erroring on the native parse.
            from duckdb_server_spark.dialect import rewrite as _dd_rewrite

            probe_sql = f"SELECT * FROM {probe} __dd_pjp LIMIT 0"
            try:
                probe_sql = _dd_rewrite(probe_sql, spark)
            except Exception:
                pass  # unlowerable text: let the native parse report it
            try:
                probed = spark.sql(probe_sql).columns
            except Exception as exc:
                raise ValueError(
                    "POSITIONAL JOIN: cannot resolve columns of a "
                    f"derived side ({exc})"
                ) from None
            return [f"{out_alias}.`{c}`" for c in probed]

        l_end, l_src, l_alias, l_cols = left
        r_end, r_src, r_alias, r_cols = right
        col_list = ", ".join(
            side_cols(l_src, l_alias, l_cols, "l")
            + side_cols(r_src, r_alias, r_cols, "r")
        )

        def ranked(src: str, alias, cols) -> str:
            ref = src
            if src.startswith("("):
                ref = f"{src} {alias or '__dd_pjs'}"
                if cols is not None:
                    ref += "(" + ", ".join(cols) + ")"
            return (
                f"(SELECT *, row_number() OVER (ORDER BY __dd_mid) AS __dd_rn "
                f"FROM (SELECT *, monotonically_increasing_id() AS __dd_mid "
                f"FROM {ref}))"
            )

        kw = s[fm.start() : fm.end()].strip().upper()
        repl = (
            f"{kw} (SELECT {col_list} FROM "
            f"{ranked(l_src, l_alias, l_cols)} l "
            f"FULL JOIN {ranked(r_src, r_alias, r_cols)} r "
            f"ON l.__dd_rn = r.__dd_rn) __dd_pj"
        )
        s = s[: fm.start()] + repl + s[r_end:]
    return s

