"""Nested-type comparison semantics (batteries 33/37), list set ops, libm shims, interval rendering (split from dialect.py, round 11)."""

from __future__ import annotations

import datetime as _dt
import re
import threading
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession

from duckdb_server_spark.dialect_rewrites.core import (  # noqa: F401
    DialectError,
    _literal_value,
    _masked_literal,
    _matching_paren,
    _primary_back,
    _primary_fwd,
    _split_top_commas,
    _unmask,
)

from duckdb_server_spark.dialect_rewrites.macros import (  # noqa: F401
    _DEG_CONST,
    _DEG_RAD_RE,
    _LIBM_RE,
    _RAD_CONST,
    _ROUND_RE,
    _rewrite_division,
    _rewrite_try_mod,
)



# --- nested-type comparison operators (battery 33) --------------------------
# DuckDB compares lists/structs by a LEFT-TO-RIGHT SHORT-CIRCUIT scan in
# which a NULL element/field pair stops the scan with UNKNOWN (probed
# live: [NULL,1] = [NULL,2] is NULL even though index 1 differs;
# [2,NULL] < [1,2] is FALSE — first pair decides; [1] = [1,2] is FALSE —
# equal prefix, then length). Spark treats nested NULLs as ordinary
# equal/orderable values (struct{'a':NULL} = struct{'a':NULL} is TRUE) —
# a silent wrong answer whenever runtime NULLs appear. The rewrite fires
# only when an operand is PROVABLY nested (array(...)/named_struct(...)
# spellings, CAST targets, or catalog-kind columns); structs need field
# names (from a literal, a cast type, or the column schema) and fail
# closed otherwise, as do map comparisons.

_NESTED_CMP_RE = re.compile(r"<>|!=|<=|>=|=|<|>")



def _nested_shape(p: str, kinds: dict[str, str] | None):
    """'list' / 'map' / ('struct', fields|None) / None for one primary."""
    t = p.strip()
    if re.match(r"(?i)^array\s*\(", t):
        return "list"
    if re.match(r"(?i)^named_struct\s*\(", t):
        return ("struct", None)  # fields parsed lazily by the caller
    if re.match(r"(?i)^map\s*\(", t):
        return "map"
    if re.match(r"(?i)^CAST\s*\(", t):
        cm = re.search(
            r"(?i)\bAS\s+(STRUCT\s*\(|MAP\s*\(|ARRAY\s*<|[A-Za-z]+\s*\[)", t
        )
        if cm:
            g = cm.group(1).upper()
            if g.startswith("STRUCT"):
                inner = t[cm.end() - 1 : _matching_paren(t, cm.end() - 1)]
                fields = []
                for part in inner.lstrip("(").split(","):
                    fm = re.match(r"\s*([A-Za-z_]\w*)\s+", part)
                    if fm:
                        fields.append(fm.group(1))
                return ("struct", fields or None)
            if g.startswith("MAP"):
                return "map"
            return "list"
        return None
    if re.fullmatch(r"[A-Za-z_][\w.]*", t) and kinds:
        k = kinds.get(t.split(".")[-1].lower()) or ""
        if k == "array":
            return "list"
        if k == "map":
            return "map"
        if k.startswith("struct:"):
            return ("struct", k[7:].split(","))
    return None



def _named_struct_fields(p: str, table: list[str]) -> list[str] | None:
    """Field names of a ``named_struct(key, val, ...)`` spelling (keys
    are masked string literals)."""
    t = p.strip()
    open_idx = t.index("(")
    args = _split_top_commas(t[open_idx + 1 : _matching_paren(t, open_idx)])
    fields = []
    for key in args[::2]:
        lit = _literal_value(_unmask(key.strip(), table))
        if lit is None:
            return None
        fields.append(str(lit))
    return fields or None



def _list_cmp_sql(a: str, b: str, op: str, distinct: bool = False) -> str:
    """DuckDB's short-circuit pairwise scan over the shared prefix as a
    Spark aggregate fold: per-pair code 0=equal 1=lt 2=gt 3=unknown,
    first nonzero sticks; the all-equal prefix falls through to the
    length comparison.

    ``distinct=True`` is the BOOLEAN-context variant (battery 37,
    probed live on DuckDB 1.0): filter/join/CASE-condition consumers
    compare nested types with IS-DISTINCT-FROM-style total order — a
    NULL element equals a NULL element and sorts LAST (larger than any
    value); only a top-level NULL operand still yields UNKNOWN."""
    a, b = f"({a})", f"({b})"
    n = f"least(size({a}), size({b}))"
    if distinct:
        if op in ("=", "<>", "!="):
            pair = (
                "CASE WHEN __dd_x IS NULL AND __dd_y IS NULL THEN 0 "
                "WHEN __dd_x IS NULL OR __dd_y IS NULL THEN 1 "
                "WHEN __dd_x = __dd_y THEN 0 ELSE 1 END"
            )
        else:
            pair = (
                "CASE WHEN __dd_x IS NULL AND __dd_y IS NULL THEN 0 "
                "WHEN __dd_x IS NULL THEN 2 "
                "WHEN __dd_y IS NULL THEN 1 "
                "WHEN __dd_x = __dd_y THEN 0 "
                "WHEN __dd_x < __dd_y THEN 1 ELSE 2 END"
            )
    elif op in ("=", "<>", "!="):
        pair = ("CASE WHEN __dd_x = __dd_y THEN 0 "
                "WHEN NOT (__dd_x = __dd_y) THEN 1 ELSE 3 END")
    else:
        pair = ("CASE WHEN __dd_x = __dd_y THEN 0 "
                "WHEN __dd_x < __dd_y THEN 1 "
                "WHEN __dd_x > __dd_y THEN 2 ELSE 3 END")
    scan = (
        f"aggregate(zip_with(slice({a}, 1, {n}), slice({b}, 1, {n}), "
        f"(__dd_x, __dd_y) -> {pair}), 0, "
        f"(__dd_acc, __dd_p) -> "
        f"CASE WHEN __dd_acc <> 0 THEN __dd_acc ELSE __dd_p END)"
    )
    if op in ("=", "<>", "!="):
        core = (
            f"CASE {scan} WHEN 1 THEN false "
            f"WHEN 3 THEN CAST(NULL AS BOOLEAN) "
            f"ELSE size({a}) = size({b}) END"
        )
    else:
        lt_res = "true" if op in ("<", "<=") else "false"
        gt_res = "false" if op in ("<", "<=") else "true"
        tail = f"size({a}) {op} size({b})"
        core = (
            f"CASE {scan} WHEN 1 THEN {lt_res} WHEN 2 THEN {gt_res} "
            f"WHEN 3 THEN CAST(NULL AS BOOLEAN) ELSE {tail} END"
        )
    out = (
        f"(CASE WHEN {a} IS NULL OR {b} IS NULL "
        f"THEN CAST(NULL AS BOOLEAN) ELSE {core} END)"
    )
    if op in ("<>", "!="):
        out = f"(NOT {out})"
    return out



def _struct_cmp_sql(
    a: str, b: str, op: str, fields: list[str], table: list[str],
    distinct: bool = False,
) -> str:
    """Field-by-field short-circuit CASE chain (declaration order);
    backtick-quoted dotted access so arbitrary names survive (and the
    later subscript rewrite never touches it). ``distinct=True`` is the
    boolean-context total order (see _list_cmp_sql): NULL fields equal,
    NULL sorts last."""
    a, b = f"({a})", f"({b})"
    whens = []
    for f in fields:
        fq = "`" + f.replace("`", "``") + "`"
        pa, pb = f"{a}.{fq}", f"{b}.{fq}"
        if distinct:
            if op in ("=", "<>", "!="):
                whens.append(f"WHEN NOT ({pa} <=> {pb}) THEN false")
            else:
                lt_res = "true" if op in ("<", "<=") else "false"
                gt_res = "false" if op in ("<", "<=") else "true"
                whens.append(
                    f"WHEN {pa} IS NULL AND {pb} IS NOT NULL "
                    f"THEN {gt_res}"
                )
                whens.append(
                    f"WHEN {pb} IS NULL AND {pa} IS NOT NULL "
                    f"THEN {lt_res}"
                )
                whens.append(f"WHEN {pa} < {pb} THEN {lt_res}")
                whens.append(f"WHEN {pa} > {pb} THEN {gt_res}")
        elif op in ("=", "<>", "!="):
            whens.append(f"WHEN NOT ({pa} = {pb}) THEN false")
            whens.append(
                f"WHEN ({pa} = {pb}) IS NULL THEN CAST(NULL AS BOOLEAN)"
            )
        else:
            lt_res = "true" if op in ("<", "<=") else "false"
            gt_res = "false" if op in ("<", "<=") else "true"
            whens.append(f"WHEN {pa} < {pb} THEN {lt_res}")
            whens.append(f"WHEN {pa} > {pb} THEN {gt_res}")
            whens.append(
                f"WHEN ({pa} = {pb}) IS NULL THEN CAST(NULL AS BOOLEAN)"
            )
    tail = {"=": "true", "<>": "true", "!=": "true",
            "<": "false", ">": "false", "<=": "true", ">=": "true"}[op]
    if op in ("<>", "!="):
        tail = "true"
    core = "CASE " + " ".join(whens) + f" ELSE {tail} END"
    out = (
        f"(CASE WHEN {a} IS NULL OR {b} IS NULL "
        f"THEN CAST(NULL AS BOOLEAN) ELSE {core} END)"
    )
    if op in ("<>", "!="):
        # the whens above encode the EQ scan; NOT-wrap flips it with
        # three-valued semantics (the chain used eq-shaped whens)
        eq_core = "CASE " + " ".join(whens) + " ELSE true END"
        out = (
            f"(NOT (CASE WHEN {a} IS NULL OR {b} IS NULL "
            f"THEN CAST(NULL AS BOOLEAN) ELSE {eq_core} END))"
        )
    return out



# DuckDB's interval → VARCHAR rendering (probed live): months normalize
# to 'N year(s) M month(s)', days to 'N day(s)' (weeks×7), micros to
# 'HH:MM:SS[.frac]' with unbounded hours and trailing zeros trimmed;
# the time part prints when nonzero or when everything is zero.
_IVL_UNIT = {
    "year": (12, 0, 0), "years": (12, 0, 0),
    "quarter": (3, 0, 0), "quarters": (3, 0, 0),
    "month": (1, 0, 0), "months": (1, 0, 0),
    "decade": (120, 0, 0), "decades": (120, 0, 0),
    "century": (1200, 0, 0), "centuries": (1200, 0, 0),
    "millennium": (12000, 0, 0), "millennia": (12000, 0, 0),
    "week": (0, 7, 0), "weeks": (0, 7, 0),
    "day": (0, 1, 0), "days": (0, 1, 0),
    "hour": (0, 0, 3_600_000_000), "hours": (0, 0, 3_600_000_000),
    "minute": (0, 0, 60_000_000), "minutes": (0, 0, 60_000_000),
    "second": (0, 0, 1_000_000), "seconds": (0, 0, 1_000_000),
    "millisecond": (0, 0, 1000), "milliseconds": (0, 0, 1000),
    "microsecond": (0, 0, 1), "microseconds": (0, 0, 1),
}

_IVL_CAST_RE = re.compile(
    r"CAST\s*\(\s*INTERVAL\s+(\d+)\s+([A-Za-z]+)\s+AS\s+"
    r"(?:VARCHAR|STRING)\s*\)",
    re.IGNORECASE,
)



def _duck_interval_str(months: int, days: int, micros: int) -> str:
    parts = []
    if months:
        q = abs(months) // 12 * (1 if months > 0 else -1)
        mo = months - q * 12
        if q:
            parts.append(f"{q} year" + ("s" if abs(q) != 1 else ""))
        if mo:
            parts.append(f"{mo} month" + ("s" if abs(mo) != 1 else ""))
    if days:
        parts.append(f"{days} day" + ("s" if abs(days) != 1 else ""))
    if micros or not parts:
        sign = "-" if micros < 0 else ""
        h, rem = divmod(abs(micros), 3_600_000_000)
        m, rem = divmod(rem, 60_000_000)
        sec, us = divmod(rem, 1_000_000)
        t = f"{sign}{h:02d}:{m:02d}:{sec:02d}"
        if us:
            t += ("." + f"{us:06d}").rstrip("0")
        parts.append(t)
    return " ".join(parts)


# battery 38: a ± chain of interval LITERALS folds to the canonical
# (months, days, micros) triple — DuckDB's unified interval value,
# which Spark splits across two incompatible runtime types
_IVL_TERM_RE = re.compile(
    r"INTERVAL\s+(?:'(-?\d+)'|(-?\d+)|\x00(\d+)\x00)\s+([A-Za-z]+)",
    re.IGNORECASE,
)


def _parse_ivl_chain(text: str, table: list[str] | None = None):
    """(months, days, micros, n_terms) for an ``INTERVAL n U
    [± INTERVAL n U]*`` literal chain (quoted counts arrive masked);
    None if the text is anything else."""
    t = text.strip()
    pos = 0
    sign = 1
    months = days = micros = 0
    n_terms = 0
    while True:
        m = _IVL_TERM_RE.match(t, pos)
        if not m:
            return None
        f = _IVL_UNIT.get(m.group(4).lower())
        if f is None:
            return None
        if m.group(3) is not None:
            if table is None:
                return None
            entry = table[int(m.group(3))]
            if not re.fullmatch(r"'-?\d+'", entry):
                return None
            n = int(entry[1:-1])
        else:
            n = int(m.group(1) or m.group(2))
        months += sign * n * f[0]
        days += sign * n * f[1]
        micros += sign * n * f[2]
        n_terms += 1
        pos = m.end()
        while pos < len(t) and t[pos] in " \t\n":
            pos += 1
        if pos >= len(t):
            return (months, days, micros, n_terms)
        if t[pos] == "+":
            sign = 1
        elif t[pos] == "-":
            sign = -1
        else:
            return None
        pos += 1
        while pos < len(t) and t[pos] in " \t\n":
            pos += 1


def _ivl_chain_terms(months: int, days: int, micros: int) -> str:
    """Re-emit a folded triple as a Spark-applicable ± chain (each term
    single-class; zero terms dropped; all-zero → 0 seconds)."""
    terms = []
    if months:
        terms.append(f"INTERVAL '{months}' MONTH")
    if days:
        terms.append(f"INTERVAL '{days}' DAY")
    if micros:
        terms.append(f"INTERVAL '{micros}' MICROSECOND")
    if not terms:
        return "INTERVAL '0' SECOND"
    return " + ".join(terms)


def _rewrite_interval_varchar(s: str, table: list[str]) -> str:
    """``CAST(<interval literal chain> AS VARCHAR)`` → DuckDB's
    rendered string (probed: components print months-days-time in that
    order regardless of chain order; '-1 day' singular;
    '1 month -01:30:00' sign on the time block; all-zero →
    '00:00:00')."""
    out = []
    pos = 0
    for m in re.finditer(r"(?i)\bCAST\s*\(", s):
        if m.start() < pos:
            continue
        close = _matching_paren(s, m.end() - 1)
        if close < 0:
            continue
        inner = s[m.end() : close]
        am = re.search(r"(?i)\s+AS\s+(VARCHAR|STRING)\s*$", inner)
        if not am:
            continue
        chain = _parse_ivl_chain(inner[: am.start()], table)
        if chain is None:
            continue
        months, days, micros, _ = chain
        out.append(s[pos : m.start()])
        out.append(
            _masked_literal(
                table, _duck_interval_str(months, days, micros)
            )
        )
        pos = close + 1
    out.append(s[pos:])
    return "".join(out)


_EPOCH_IVL_RE = re.compile(
    r"(?i)\b(?:EXTRACT\s*\(\s*epoch\s+FROM|epoch\s*\()\s*"
)


def _rewrite_interval_epoch(s: str, table: list[str]) -> str:
    """``EXTRACT(epoch FROM <interval chain>)`` / ``epoch(<chain>)`` →
    the folded DOUBLE (probed: whole years at 31557600 s, remaining
    months at 2592000 s — trunc toward zero — days at 86400, plus
    micros/1e6)."""
    out = []
    pos = 0
    for m in _EPOCH_IVL_RE.finditer(s):
        if m.start() < pos:
            continue
        open_idx = s.rindex("(", m.start(), m.end())
        close = _matching_paren(s, open_idx)
        if close < 0:
            continue
        inner = s[m.end() : close]
        chain = _parse_ivl_chain(inner, table)
        if chain is None:
            continue
        months, days, micros, _ = chain
        years = int(months / 12)
        rem_months = months - years * 12
        epoch = (
            years * 31_557_600
            + rem_months * 2_592_000
            + days * 86_400
            + micros / 1e6
        )
        out.append(s[pos : m.start()])
        out.append(f"CAST({epoch!r} AS DOUBLE)")
        pos = close + 1
    out.append(s[pos:])
    return "".join(out)


_FIELD_IVL_RE = re.compile(
    r"(?i)\b(?:EXTRACT\s*\(\s*(year|month|quarter|decade|century|"
    r"millennium|day|hour|minute|second|millisecond|microsecond)s?\s+"
    r"FROM|date_?part\s*\(\s*(\x00\d+\x00)\s*,)\s*(?=INTERVAL\b|\()"
)


def _interval_field_value(field: str, months: int, days: int,
                          micros: int) -> int | None:
    """DuckDB's per-component interval field extraction (round-13 hunt
    F wave 2, probed on live 1.0): hour is NOT mod-24 (26 HOUR → 26),
    minute/second are remainders within the next unit, millisecond/
    microsecond are the within-minute remainder scaled (90 SECOND →
    ms 30000, us 30000000), year/decade divide total months, month is
    the within-year remainder, quarter is month//3 + 1."""
    def trunc(a: int, b: int) -> int:
        q = abs(a) // b
        return q if a >= 0 else -q

    if field == "year":
        return trunc(months, 12)
    if field == "month":
        return months - trunc(months, 12) * 12
    if field == "quarter":
        return (months - trunc(months, 12) * 12) // 3 + 1
    if field == "decade":
        return trunc(months, 120)
    if field == "century":
        return trunc(months, 1200)
    if field == "millennium":
        return trunc(months, 12000)
    if field == "day":
        return days
    hours = trunc(micros, 3_600_000_000)
    mins = trunc(micros, 60_000_000)
    if field == "hour":
        return hours
    if field == "minute":
        return mins - hours * 60
    if field == "second":
        return trunc(micros, 1_000_000) - mins * 60
    if field == "millisecond":
        return trunc(micros - mins * 60_000_000, 1_000)
    if field == "microsecond":
        return micros - mins * 60_000_000
    return None


def _rewrite_interval_fields(s: str, table: list[str]) -> str:
    """``EXTRACT(field FROM <interval chain>)`` / ``date_part('field',
    <chain>)`` for the non-epoch fields — folded to a BIGINT constant
    (Spark cannot extract fields from intervals). Non-literal chains
    fall through untouched (a visible analysis error, never a silent
    value)."""
    out = []
    pos = 0
    for m in _FIELD_IVL_RE.finditer(s):
        if m.start() < pos:
            continue
        field = m.group(1)
        if field is None:
            lit = _literal_value(_unmask(m.group(2), table))
            field = (lit or "").lower().rstrip("s")
            if field in ("", "epoch"):
                continue
        else:
            field = field.lower()
        open_idx = s.rindex("(", m.start(), m.end())
        close = _matching_paren(s, open_idx)
        if close < 0:
            continue
        inner = s[m.end() : close].strip()
        while (inner.startswith("(")
               and _matching_paren(inner, 0) == len(inner) - 1):
            inner = inner[1:-1].strip()
        chain = _parse_ivl_chain(inner, table)
        if chain is None:
            continue
        months, days, micros, _ = chain
        val = _interval_field_value(field, months, days, micros)
        if val is None:
            continue
        out.append(s[pos : m.start()])
        out.append(f"CAST({val} AS BIGINT)")
        pos = close + 1
    out.append(s[pos:])
    return "".join(out)


def _rewrite_interval_chain_arith(s: str, table: list[str]) -> str:
    """``expr ± (INTERVAL a U ± INTERVAL b V …)`` — a parenthesized
    MIXED-class interval chain applied to a date/timestamp — unrolls to
    sequential single-class terms (DuckDB applies the folded triple
    months-then-days-then-micros, which equals the left-to-right chain
    Spark can type-check). A bare mixed chain in value position has no
    Spark runtime representation and fails closed."""
    out = []
    pos = 0
    for m in re.finditer(r"[+-]\s*\(", s):
        if m.start() < pos:
            continue
        open_idx = m.end() - 1
        close = _matching_paren(s, open_idx)
        if close < 0:
            continue
        chain = _parse_ivl_chain(s[open_idx + 1 : close], table)
        if chain is None or chain[3] < 2:
            continue
        months, days, micros, _ = chain
        op = s[m.start()]
        if op == "-":
            months, days, micros = -months, -days, -micros
        # the base: DuckDB types date ± interval as TIMESTAMP, so the
        # unrolled chain rides on a CAST base (timestamp-to-timestamp
        # is a no-op); a base that is ITSELF an interval chain merges
        # into one fold instead
        j = m.start() - 1
        while j >= 0 and s[j] in " \t\n":
            j -= 1
        lstart = _primary_back(s, j + 1)
        # typed-literal prefix: DATE '...' / TIMESTAMP '...' is one
        # primary but _primary_back stops at the masked literal
        wm = re.search(r"([A-Za-z_][\w$]*)\s*\Z", s[:lstart])
        if wm and wm.group(1).upper() in ("DATE", "TIMESTAMP", "TIME"):
            lstart = wm.start(1)
        base = s[lstart : j + 1].strip()
        bchain = _parse_ivl_chain(base, table) if base else None
        out.append(s[pos:lstart])
        if bchain is not None:
            months += bchain[0]
            days += bchain[1]
            micros += bchain[2]
            out.append(_ivl_chain_terms(months, days, micros))
        elif base:
            out.append(
                f"CAST({base} AS TIMESTAMP) + "
                + _ivl_chain_terms(months, days, micros)
            )
        else:
            out.append(s[lstart : m.start()])
            out.append("+ " + _ivl_chain_terms(months, days, micros))
        pos = close + 1
    out.append(s[pos:])
    return "".join(out)



# A string-typed operand recognizable from text: a string literal (mask
# token, optionally ::STRING-annotated and parenthesized; JSON and VARCHAR
# are spelled STRING by then) or a json_extract call (the dd_ rename
# happens later in the pipeline).
_STR_OPERAND_RE = re.compile(
    r"\(?\s*(?:dd_)?json_extract\w*\s*\("
    r"|\(?\s*\x00\d+\x00(?:\s*::\s*STRING\b)?\s*\)?(?=\s+AS\b|\s*\Z)",
    re.IGNORECASE,
)

_STR_ARRAY_CAST_RE = re.compile(
    rf"\bCAST\s*\(\s*(?:{_STR_OPERAND_RE.pattern})", re.IGNORECASE
)

# a postfix cast to ARRAY<…>, up to three levels of nested <…>
_DCOLON_ARRAY_RE = re.compile(
    r"::\s*(ARRAY\s*<(?:[^<>]|<(?:[^<>]|<[^<>]*>)*>)*>)", re.IGNORECASE
)


def _rewrite_string_array_casts(s: str) -> str:
    """``CAST(<json/string text> AS ARRAY<T>)`` and its postfix spelling
    ``<json/string text>::ARRAY<T>`` → ``from_json`` (round-15 hunt H):
    DuckDB casts VARCHAR/JSON text to a LIST by parsing the bracket
    syntax — ``('{"a":[1,2,3]}'::JSON)->'a'`` then ``::INT[]`` is the
    idiomatic extraction chain — while Spark has no STRING→ARRAY cast.
    Covers the two textually-recognizable string-typed operands: a
    string literal (mask token) and the dd_json_extract shims; JSON text
    is valid from_json input by construction. Runs after
    _rewrite_cast_types (which spells the ARRAY<> target)."""
    pos = 0
    while m := _STR_ARRAY_CAST_RE.search(s, pos):
        cast_open = s.index("(", m.start())
        cast_close = _matching_paren(s, cast_open)
        body = s[cast_open + 1 : cast_close]
        am = re.search(r"(?i)\s+AS\s+(ARRAY\s*<.*>)\s*$", body)
        if not am:
            pos = cast_close + 1
            continue
        operand = body[: am.start()].strip()
        repl = f"from_json({operand}, '{am.group(1)}')"
        s = s[: m.start()] + repl + s[cast_close + 1 :]
        pos = m.start() + len(repl)
    pos = 0
    while m := _DCOLON_ARRAY_RE.search(s, pos):
        start, pos = _primary_back(s, m.start()), m.end()
        operand = s[start : m.start()].strip()
        if _STR_OPERAND_RE.match(operand):
            repl = f"from_json({operand}, '{m.group(1)}')"
            s = s[:start] + repl + s[pos:]
            pos = start + len(repl)
    return s


_STRING_TO_ARRAY_RE = re.compile(r'cannot cast "STRING" to "ARRAY<')


def json_list_casts(sql: str, exc: AnalysisException) -> str | None:
    """``sql`` with the list cast that the analyzer rejected in ``exc`` as
    STRING → ARRAY routed through ``from_json`` (every occurrence of its
    text), or None for any other error. A string
    column's cast (``c::INT[]``) looks like a list column's in the text;
    only analysis tells them apart, so a list column's cast stays a cast.
    """
    if not _STRING_TO_ARRAY_RE.search(str(exc)):
        return None
    for context in exc.getQueryContext():
        cast = context.fragment()
        if m := re.fullmatch(r"(?is)(?:TRY_)?CAST\s*\((.*)\s+AS\s+(ARRAY\s*<.*>)\s*\)", cast):
            json = f"from_json({m.group(1)}, '{m.group(2)}')"
        elif (m := _DCOLON_ARRAY_RE.search(cast)) and m.end() == len(cast):
            json = f"from_json({cast[: m.start()]}, '{m.group(1)}')"
        else:
            continue
        return sql.replace(cast, json)
    return None




_CMP_LEFT_BOOL = {"WHERE", "HAVING", "WHEN", "ON", "AND", "OR", "NOT"}

_CMP_RIGHT_BOOL = {
    "AND", "OR", "THEN", "ORDER", "GROUP", "LIMIT", "OFFSET", "QUALIFY",
    "WINDOW", "UNION", "INTERSECT", "EXCEPT", "JOIN", "INNER", "LEFT",
    "RIGHT", "FULL", "CROSS", "WHERE", "USING", "ELSE", "END", "WHEN",
    "HAVING", "OVER", "AS",
}

# identifiers allowed inside a CONSTANT nested literal (const-folded
# comparisons keep value semantics even in boolean position — probed:
# WHERE [1,NULL] = [1,NULL] filters the row while WHERE col = [1,NULL]
# keeps it)
_CMP_CONST_WORDS = {
    "NULL", "TRUE", "FALSE", "CAST", "AS", "ARRAY", "MAP", "NAMED_STRUCT",
    "STRUCT", "ROW", "INT", "INTEGER", "BIGINT", "SMALLINT", "TINYINT",
    "DOUBLE", "FLOAT", "REAL", "VARCHAR", "STRING", "TEXT", "BOOLEAN",
    "DECIMAL", "NUMERIC", "DATE", "TIMESTAMP", "INTERVAL",
}



def _tok_before(s: str, i: int) -> tuple[str | None, int]:
    """Last token (word upper-cased, or single char) ending before
    position i, with its start index."""
    j = i - 1
    while j >= 0 and s[j] in " \t\n":
        j -= 1
    if j < 0:
        return None, -1
    m = re.search(r"([A-Za-z_][\w$]*)\Z", s[: j + 1])
    if m:
        return m.group(1).upper(), m.start()
    return s[j], j



def _tok_after(s: str, i: int) -> str | None:
    j = i
    while j < len(s) and s[j] in " \t\n":
        j += 1
    if j >= len(s):
        return None
    m = re.match(r"[A-Za-z_][\w$]*", s[j:])
    if m:
        return m.group(0).upper()
    return s[j]



def _cmp_is_constant(p: str) -> bool:
    """Whether a nested-comparison operand spells a constant literal
    (no column references) — DuckDB const-folds those before its
    boolean-context distinct conversion kicks in."""
    for w in re.findall(r"[A-Za-z_][\w$]*", p):
        if w.upper() not in _CMP_CONST_WORDS:
            return False
    return True



def _boolctx_ranges(s: str) -> list[tuple[int, int]]:
    """Interior spans of ``__dd_boolctx(...)`` markers — the internal
    wrapper DML handlers put around WHERE predicates so the nested-
    comparison rewrite still sees filter context after the predicate is
    embedded in coalesce(CAST(...)) NULL plumbing. Stripped to plain
    parens at the end of the rewrite."""
    out = []
    for m in re.finditer(r"(?i)__dd_boolctx\s*\(", s):
        close = _matching_paren(s, m.end() - 1)
        if close > 0:
            out.append((m.end(), close))
    return out



def _cmp_bool_context(s: str, lstart: int, rend: int) -> bool:
    """Whether a comparison spanning [lstart, rend) feeds a filter /
    JOIN ON / HAVING / CASE-condition consumer. DuckDB 1.0 compares
    nested types in those positions with IS-DISTINCT-FROM total order
    (probed live, battery 37); value positions (SELECT list, function
    arguments, FILTER(WHERE ...), a wrapped (cmp) IS NULL / = true)
    keep three-valued semantics. Residual unmodeled shapes, documented:
    CAST(cmp AS BOOLEAN) inside a filter (DuckDB propagates boolean
    context through the cast; we classify it a function call) and a
    boolean chain nested inside a function argument (classified by its
    nearest AND/OR/NOT)."""
    tok, at = _tok_before(s, lstart)
    while tok == "(":
        ptok, pat = _tok_before(s, at)
        if ptok is None or ptok == ",":
            return False  # statement start / function argument
        if re.match(r"[A-Za-z_]", ptok):
            if ptok in _CMP_LEFT_BOOL:
                tok, at = ptok, pat  # keyword '(' = grouping paren
                break
            if ptok == "CAST":
                # DuckDB propagates boolean context through
                # CAST(cmp AS BOOLEAN) in a filter (probed); other cast
                # targets are value context
                close = _matching_paren(s, at)
                inner = s[at + 1 : close].strip() if close > 0 else ""
                if re.search(r"(?i)\bAS\s+BOOLEAN$", inner):
                    tok, at = _tok_before(s, pat)
                    continue
            return False  # function call argument (or SELECT list etc.)
        tok, at = ptok, pat  # another '(' — keep walking out
    if tok not in _CMP_LEFT_BOOL:
        return False
    if tok == "WHERE":
        ptok, pat = _tok_before(s, at)
        if ptok == "(":
            p2, _ = _tok_before(s, pat)
            if p2 == "FILTER":
                # aggregate FILTER (WHERE cmp) is value-semantics, but a
                # WINDOW filter — FILTER (...) OVER — compiles through
                # the filter path and keeps distinct semantics (probed)
                close = _matching_paren(s, pat)
                if close < 0 or _tok_after(s, close + 1) != "OVER":
                    return False
    # right side: any run of closing parens, then a clause keyword,
    # statement end, or nothing
    j = rend
    while True:
        nxt = _tok_after(s, j)
        if nxt == ")":
            j = s.index(")", j) + 1
            continue
        if nxt is None or nxt == ";":
            return True
        if isinstance(nxt, str) and nxt in _CMP_RIGHT_BOOL:
            return True
        return False



_IN_SUBQ_RE = re.compile(r"(?i)\b(NOT\s+)?IN\s*\(")


def _rewrite_in_subquery_3vl(s: str) -> str:
    """Round-14 hunt G: Spark's IN-subquery collapses NULL to FALSE in
    VALUE positions (``SELECT 'c' IN (SELECT col FROM (VALUES ('A'),
    (NULL)) v(col))`` → false; DuckDB → NULL per 3VL: no match + NULL
    in the set). Filter/ON/HAVING/CASE-condition consumers agree on
    both engines (NULL is not-true either way) and keep Spark's
    null-aware join plans, so the rewrite fires ONLY in value context
    (via the battery-37 classifier): the IN lowers to a CASE spelling
    the full 3VL truth table — match → true; empty set → false;
    NULL probe or NULL member with no match → NULL. The derived-table
    wrap also defuses Spark's typed-literal parse of ``IN
    (SELECT 'a')``."""
    pos = 0
    while m := _IN_SUBQ_RE.search(s, pos):
        open_idx = m.end() - 1
        close = _matching_paren(s, open_idx)
        if close < 0:
            pos = m.end()
            continue
        body = s[open_idx + 1 : close].strip()
        if not re.match(r"(?i)(SELECT|VALUES|WITH)\b", body):
            pos = m.end()
            continue
        op_end = m.start()
        while op_end > 0 and s[op_end - 1] in " \t\n":
            op_end -= 1
        lstart = _primary_back(s, op_end)
        # round-15 hunt H (grammar fuzzer): IN binds LOOSER than every
        # arithmetic/concat operator, so ``x % 5 IN (sub)`` means
        # ``(x % 5) IN (sub)`` — the operand must span the whole
        # arithmetic chain, not just the rightmost primary (the r14
        # primary-only capture rewrote the ``5`` alone, gluing the
        # CASE onto ``x %``). Walk left over binary operators whose
        # left side is a real primary; a leading unary sign joins too.
        while lstart > 0:
            k = lstart - 1
            while k >= 0 and s[k] in " \t\n":
                k -= 1
            if k < 0:
                break
            if k >= 1 and s[k - 1 : k + 1] in ("<<", ">>", "||", "//"):
                opk = k - 1
            elif s[k] in "+-*/%&^":
                opk = k
            else:
                break
            j = opk - 1
            while j >= 0 and s[j] in " \t\n":
                j -= 1
            if j < 0 or s[j] in "(,":
                if s[opk] in "+-":
                    lstart = opk  # unary sign on the operand
                break
            prev_start = _primary_back(s, j + 1)
            prev = s[prev_start : j + 1].strip()
            if (not prev
                    or (re.fullmatch(r"[A-Za-z_]\w*", prev)
                        and prev.upper() in _CMP_LEFT_BOOL | {
                            "THEN", "ELSE", "SELECT", "BY", "ALL",
                            "DISTINCT", "AS", "IN", "BETWEEN", "LIKE",
                            "RETURN", "CASE", "OVER", "SET"})):
                if s[opk] in "+-":
                    lstart = opk
                break
            lstart = prev_start
        operand = s[lstart:op_end].strip()
        if not operand:
            pos = m.end()
            continue
        # context decision happens at the HEAD of the boolean chain:
        # walk out over grouping parens that wrap exactly this
        # expression and over prefix NOTs (``SELECT NOT (x IN (sub))``
        # is value context; ``WHERE NOT (x IN (sub))`` is filter
        # context — the NOT itself stays outside the rewrite either
        # way, and NOT(NULL) = NULL preserves the 3VL result)
        g_start, g_end = lstart, close + 1
        while True:
            tok, at = _tok_before(s, g_start)
            if tok == "NOT":
                g_start = at
                continue
            if tok == "(" and _tok_after(s, g_end) == ")":
                g_start = at
                g_end = s.index(")", g_end) + 1
                continue
            break
        if _cmp_bool_context(s, g_start, g_end):
            pos = close + 1
            continue
        t_, f_ = ("false", "true") if m.group(1) else ("true", "false")
        # r15 ADVICE (accepted cost): the body appears three times
        # (IN + empty-probe + null-probe), so an expensive subquery
        # plans up to 3x. The single-scan alternative — one scalar
        # aggregate subquery classifying match/empty/has-null — must
        # reference the OPERAND inside the aggregate, turning it into
        # a correlated scalar-aggregate subquery, a shape Spark's
        # DecorrelateInnerQuery rejects for non-equality predicates.
        # Value-position IN-subqueries are rare and the bodies small
        # in every observed workload; AQE additionally dedups the two
        # uncorrelated EXISTS probes via subquery reuse when the body
        # is deterministic.
        repl = (
            f"CASE WHEN ({operand}) IN (SELECT __in3_c FROM ({body}) "
            f"AS __in3_sub(__in3_c)) THEN {t_} "
            f"WHEN NOT EXISTS (SELECT 1 FROM ({body}) AS __in3_e) "
            f"THEN {f_} "
            f"WHEN ({operand}) IS NULL THEN CAST(NULL AS BOOLEAN) "
            f"WHEN EXISTS (SELECT 1 FROM ({body}) AS __in3_n(__in3_c) "
            f"WHERE __in3_c IS NULL) THEN CAST(NULL AS BOOLEAN) "
            f"ELSE {f_} END"
        )
        s = s[:lstart] + repl + s[close + 1 :]
        pos = lstart  # rescan: nested value-position INs inside body
    return s


def _rewrite_nested_comparisons(
    s: str, table: list[str], kinds: dict[str, str] | None
) -> str:
    dml = re.match(r"(?i)\s*(UPDATE|MERGE|INSERT|DELETE)\b", s)
    if dml:
        # Assignment '=' in DML SET lists is not a comparison, but the
        # statement's query body still carries DuckDB nested-NULL
        # semantics (r10 ADVICE: INSERT INTO ... SELECT was skipped
        # wholesale). Rewrite only the safe sub-range: the embedded
        # SELECT/VALUES body for INSERT (stopping before ON CONFLICT's
        # DO UPDATE SET), the WHERE tail for UPDATE/DELETE, and the ON
        # condition for MERGE.
        kw = dml.group(1).upper()
        if kw == "INSERT":
            body = re.search(r"(?i)\b(SELECT|VALUES)\b", s)
            if not body:
                return s
            i = body.start()
            conflict = re.search(r"(?i)\bON\s+CONFLICT\b", s)
            j = conflict.start() if conflict and conflict.start() > i else len(s)
        elif kw in ("UPDATE", "DELETE"):
            body = re.search(r"(?i)\bWHERE\b", s)
            if not body:
                return s
            i, j = body.start(), len(s)
        else:  # MERGE: the ON condition up to the first WHEN [NOT] MATCHED
            on_m = re.search(r"(?i)\bON\b", s)
            when_m = re.search(r"(?i)\bWHEN\s+(?:NOT\s+)?MATCHED\b", s)
            if not on_m or not when_m or on_m.start() >= when_m.start():
                return s
            i, j = on_m.start(), when_m.start()
        return (
            s[:i]
            + _rewrite_nested_comparisons(s[i:j], table, kinds)
            + s[j:]
        )
    pos = 0
    while m := _NESTED_CMP_RE.search(s, pos):
        op = m.group(0)
        before = s[m.start() - 1] if m.start() else ""
        if before in ":<>!-=" or s[m.end() : m.end() + 1] in (">", "="):
            pos = m.end()
            continue
        j = m.start() - 1
        while j >= 0 and s[j] in " \t\n":
            j -= 1
        lstart = _primary_back(s, j + 1)
        left = s[lstart : j + 1].strip()
        rend = _primary_fwd(s, m.end())
        right = s[m.end() : rend].strip()
        if not left or not right:
            pos = m.end()
            continue
        if re.match(r"(?i)^\(\s*SELECT\b", left) or re.match(
            r"(?i)^\(\s*SELECT\b", right
        ):
            pos = m.end()
            continue
        ls, rs = _nested_shape(left, kinds), _nested_shape(right, kinds)
        if ls is None and rs is None:
            pos = m.end()
            continue
        if "map" in (ls, rs):
            raise DialectError(
                "map comparison operators are not supported (DuckDB "
                "short-circuit NULL semantics have no Spark equivalent)"
            )
        # boolean-context (filter/ON/HAVING/CASE-condition) comparisons
        # use DuckDB's distinct total order — unless both operands are
        # constants, which DuckDB folds at value semantics first
        in_marker = any(
            a <= lstart and rend <= b for a, b in _boolctx_ranges(s)
        )
        distinct = (in_marker or _cmp_bool_context(s, lstart, rend)) and not (
            _cmp_is_constant(left) and _cmp_is_constant(right)
        )
        structs = [x for x in (ls, rs) if isinstance(x, tuple)]
        if structs:
            fields = None
            for side, shape in ((left, ls), (right, rs)):
                if isinstance(shape, tuple):
                    fields = shape[1] or _named_struct_fields(side, table)
                    if fields:
                        break
            if not fields:
                raise DialectError(
                    "struct comparison needs field names (literal, cast "
                    "type, or catalog schema) — none resolvable here"
                )
            repl = _struct_cmp_sql(
                left, right, op, fields, table, distinct=distinct
            )
        else:
            repl = _list_cmp_sql(left, right, op, distinct=distinct)
        s = s[:lstart] + repl + s[rend:]
        pos = lstart + len(repl)
    return s



_LIST_SET_OP_RE = re.compile(r"<@|@>|&&")



def _rewrite_list_set_ops(s: str) -> str:
    """DuckDB's list containment/overlap operators — ``a <@ b`` (a's
    elements all in b), ``a @> b`` (reverse), ``a && b`` (any shared
    element) — spelled as the list_has_all / list_has_any functions,
    whose templates carry DuckDB's ignore-NULL-elements semantics.
    Operands are single primaries (list literals, columns, calls);
    other shapes fall through to a parse error rather than silently
    rebinding (Spark has none of these operators)."""
    pos = 0
    while m := _LIST_SET_OP_RE.search(s, pos):
        j = m.start() - 1
        while j >= 0 and s[j] in " \t\n":
            j -= 1
        lstart = _primary_back(s, j + 1)
        left = s[lstart : j + 1].strip()
        rend = _primary_fwd(s, m.end())
        right = s[m.end() : rend].strip()
        if not left or not right:
            pos = m.end()
            continue
        op = m.group(0)
        if op == "<@":
            repl = f"list_has_all({right}, {left})"
        elif op == "@>":
            repl = f"list_has_all({left}, {right})"
        else:
            repl = f"list_has_any({left}, {right})"
        s = s[:lstart] + repl + s[rend:]
        pos = lstart + len(repl)
    return s



def _rewrite_libm(s: str, ieee: bool = False) -> str:
    """DuckDB-first only: route the libm-divergent numeric family and
    double rounding to the bit-identical shims, and expand
    degrees/radians to the exact constant multiply DuckDB performs.
    ``ieee`` forwards the 1.2+ division-by-zero semantics flag."""
    s = _rewrite_division(s, ieee=ieee)
    s = _rewrite_try_mod(s)
    s = _LIBM_RE.sub(lambda m: "dd_libm_" + m.group(1).lower() + "(", s)
    while m := _DEG_RAD_RE.search(s):
        close = _matching_paren(s, s.index("(", m.start()))
        inner = s[s.index("(", m.start()) + 1 : close]
        const = _DEG_CONST if m.group(1).lower() == "degrees" else _RAD_CONST
        s = s[: m.start()] + f"(({inner}) * {const})" + s[close + 1 :]
    pos = 0
    while m := _ROUND_RE.search(s, pos):
        open_idx = s.index("(", m.start())
        close = _matching_paren(s, open_idx)
        args = _split_top_commas(s[open_idx + 1 : close])
        # round-12 hunt: DECIMAL-typed rounding stays DECIMAL in DuckDB
        # (round(2.5) = DECIMAL '3', HALF_UP) — the double shim would
        # retype it. The templates pass already pinned decimal literals
        # as CAST(… AS DECIMAL(p,s)); skip those, shim only doubles.
        if re.fullmatch(
            r"(?is)\s*CAST\s*\(\s*-?\d+\.\d+\s+AS\s+DECIMAL\s*\("
            r"\d+\s*,\s*\d+\s*\)\s*\)\s*",
            args[0],
        ):
            pos = close
            continue
        inner = ", ".join(args) if len(args) == 2 else args[0] + ", 0"
        s = s[: m.start()] + f"dd_libm_round({inner})" + s[close + 1 :]
        # continue scanning INSIDE the arguments (nested rounds rewrite too)
        pos = m.start() + len("dd_libm_round(")
    return s

