"""SQL-UDF aliases (register_dialect_functions) and hash()/bit-exact numeric shims (split from dialect.py, round 11)."""

from __future__ import annotations

import datetime as _dt
import re
import threading
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from duckdb_server_spark.dialect_rewrites.core import (  # noqa: F401
    _DD_HASH_COMBINE_K,
    _DD_HASH_MASK,
    _DD_NULL_HASH,
    _DUCK_TYPE_NAMES,
    _dd_murmur64a,
    _dd_murmur_fin,
    _matching_paren,
    _primary_back,
    _primary_end,
)



# ---------------------------------------------------------------------------
# SQL-UDF aliases (JVM-side: RETURN <expr> bodies inline into the plan)
# ---------------------------------------------------------------------------

_DIALECT_FUNCTIONS = (
    # DuckDB's BLOB → VARCHAR rendering: bytes 32..126 except backslash
    # are literal, everything else (and backslash) is \xHH uppercase —
    # one aggregate() fold over the hex spelling, pure JVM expressions
    """CREATE OR REPLACE TEMPORARY FUNCTION dd_blob_str(b BINARY)
       RETURNS STRING
       RETURN CASE WHEN b IS NULL THEN NULL ELSE aggregate(
         sequence(1, CAST(length(hex(b)) / 2 AS INT), 1),
         CAST('' AS STRING),
         (acc, i) -> concat(acc,
           CASE WHEN conv(substr(hex(b), i * 2 - 1, 2), 16, 10)
                     BETWEEN 32 AND 126
                 AND conv(substr(hex(b), i * 2 - 1, 2), 16, 10) != 92
                THEN chr(conv(substr(hex(b), i * 2 - 1, 2), 16, 10))
                ELSE concat('\\\\x', substr(hex(b), i * 2 - 1, 2)) END))
       END""",
    # DuckDB json_type classification: container/string kinds from the
    # first character, numerics split UBIGINT/BIGINT/DOUBLE like DuckDB
    """CREATE OR REPLACE TEMPORARY FUNCTION dd_json_type(j STRING)
       RETURNS STRING
       RETURN CASE WHEN j IS NULL THEN NULL ELSE
         CASE left(trim(j), 1)
           WHEN '{' THEN 'OBJECT'
           WHEN '[' THEN 'ARRAY'
           WHEN '"' THEN 'VARCHAR'
           ELSE CASE
             WHEN trim(j) IN ('true', 'false') THEN 'BOOLEAN'
             WHEN trim(j) = 'null' THEN 'NULL'
             WHEN trim(j) RLIKE '^-[0-9]+$' THEN 'BIGINT'
             WHEN trim(j) RLIKE '^[0-9]+$' THEN 'UBIGINT'
             ELSE 'DOUBLE' END END END""",
    # md5_number family: the md5 digest's 8-byte halves as LITTLE-ENDIAN
    # unsigned integers (DuckDB reads the digest as a uint128 LE)
    """CREATE OR REPLACE TEMPORARY FUNCTION dd_md5_u64(h STRING, off INT)
       RETURNS DECIMAL(20, 0)
       RETURN CAST(conv(concat(
         substr(h, off + 14, 2), substr(h, off + 12, 2),
         substr(h, off + 10, 2), substr(h, off + 8, 2),
         substr(h, off + 6, 2), substr(h, off + 4, 2),
         substr(h, off + 2, 2), substr(h, off, 2)), 16, 10)
         AS DECIMAL(20, 0))""",
    # numeric trunc-toward-zero (DuckDB trunc is 1-arg; keep a scale arg
    # for generality) — mirrors functions/scalar.py:trunc_numeric.
    """CREATE OR REPLACE TEMPORARY FUNCTION dd_trunc(x DOUBLE, d INT DEFAULT 0)
       RETURNS DOUBLE
       RETURN CASE WHEN x < 0 THEN ceil(x * power(10, d))
                   ELSE floor(x * power(10, d)) END / power(10, d)""",
    # string_split family: DuckDB splits on a LITERAL separator; Spark's
    # split takes a regex — \Q..\E quoting makes the separator literal.
    """CREATE OR REPLACE TEMPORARY FUNCTION string_split(s STRING, sep STRING)
       RETURNS ARRAY<STRING>
       RETURN split(s, concat('\\\\Q', sep, '\\\\E'))""",
    """CREATE OR REPLACE TEMPORARY FUNCTION str_split(s STRING, sep STRING)
       RETURNS ARRAY<STRING>
       RETURN string_split(s, sep)""",
    """CREATE OR REPLACE TEMPORARY FUNCTION string_to_array(s STRING, sep STRING)
       RETURNS ARRAY<STRING>
       RETURN string_split(s, sep)""",
    # list_unique: DuckDB counts distinct non-null elements.
    """CREATE OR REPLACE TEMPORARY FUNCTION dd_list_unique(l ARRAY<STRING>)
       RETURNS BIGINT
       RETURN size(array_distinct(filter(l, x -> x IS NOT NULL)))""",
    """CREATE OR REPLACE TEMPORARY FUNCTION dd_list_reverse_sort(l ARRAY<DOUBLE>)
       RETURNS ARRAY<DOUBLE>
       RETURN reverse(array_sort(l))""",
    """CREATE OR REPLACE TEMPORARY FUNCTION epoch_ms(ts TIMESTAMP)
       RETURNS BIGINT
       RETURN unix_millis(ts)""",
    # formatReadableDecimalSize: decimal (SI) units, one TRUNCATED
    # decimal, '<n> bytes' under 1 kB — DuckDB's rendering exactly
    """CREATE OR REPLACE TEMPORARY FUNCTION dd_format_bytes_dec(b BIGINT)
       RETURNS STRING RETURN
       CASE WHEN abs(b) < 1000 THEN concat(CAST(b AS STRING), ' bytes')
       ELSE concat(
         format_string('%.1f',
          CAST(CAST(b / pow(10, 3 * CAST(floor(log10(abs(b)) / 3) AS INT))
               * 10 AS BIGINT) AS DOUBLE) / 10),
         ' ',
         element_at(array('kB','MB','GB','TB','PB','EB'),
                    CAST(floor(log10(abs(b)) / 3) AS INT))
       ) END""",
    # RFC-3986 percent coding (DuckDB ≥1.1): encode renders space as
    # %20 (Spark's form-encoder emits + only for spaces — safe swap);
    # decode leaves + literal (protected as %2B before Spark decodes)
    """CREATE OR REPLACE TEMPORARY FUNCTION dd_url_encode(s STRING)
       RETURNS STRING RETURN replace(url_encode(s), '+', '%20')""",
    """CREATE OR REPLACE TEMPORARY FUNCTION dd_url_decode(s STRING)
       RETURNS STRING RETURN url_decode(replace(s, '+', '%2B'))""",
    # list_zip: DuckDB yields positionally-indexable pairs; an
    # array-of-arrays keeps the ``p[1] * p[2]`` access pattern working
    # through the try_element_at subscript rewrite. Numeric lists only
    # (the data-pipeline use); float arrays coerce to double.
    """CREATE OR REPLACE TEMPORARY FUNCTION dd_list_zip(
           a ARRAY<DOUBLE>, b ARRAY<DOUBLE>)
       RETURNS ARRAY<ARRAY<DOUBLE>>
       RETURN zip_with(a, b, (x, y) -> array(x, y))""",
)



def register_dialect_functions(spark: SparkSession) -> None:
    """Register the SQL-UDF alias layer (idempotent; bootstrap-time)."""
    for stmt in _DIALECT_FUNCTIONS:
        spark.sql(stmt)
    # strip_accents shares the 1:1 translate table with the DataFrame shim
    # (functions/scalar.py) — same codegen expression, SQL spelling.
    from duckdb_server_spark.functions.scalar import _ACCENTED, _PLAIN

    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION strip_accents(s STRING) "
        "RETURNS STRING "
        f"RETURN translate(s, '{_ACCENTED}', '{_PLAIN}')"
    )
    # bar(): DuckDB's ASCII bar chart — full blocks, a TRUNCATED eighth
    # partial, then space padding computed from the bar's UTF-8 BYTE
    # length (each block char is 3 bytes; DuckDB's own byte-width
    # padding, reproduced exactly)
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION dd_bar("
        "v DOUBLE, mn DOUBLE, mx DOUBLE, w INT) RETURNS STRING RETURN "
        "CASE WHEN mx = mn THEN repeat(' ', w) ELSE "
        "concat("
        " repeat('█', CAST(floor(least(greatest((v-mn)/(mx-mn),0),1)*w) AS INT)),"
        " element_at(array('', '▏', '▎', '▍', '▌',"
        "                  '▋', '▊', '▉'),"
        "   CAST(floor((least(greatest((v-mn)/(mx-mn),0),1)*w"
        "        - floor(least(greatest((v-mn)/(mx-mn),0),1)*w)) * 8) AS INT) + 1),"
        " repeat(' ', greatest(0, w"
        "   - 3*CAST(floor(least(greatest((v-mn)/(mx-mn),0),1)*w) AS INT)"
        "   - CASE WHEN CAST(floor((least(greatest((v-mn)/(mx-mn),0),1)*w"
        "        - floor(least(greatest((v-mn)/(mx-mn),0),1)*w)) * 8) AS INT) > 0"
        "     THEN 3 ELSE 0 END))"
        ") END"
    )

    # format_bytes: DuckDB's binary-unit rendering — '<n> bytes' under
    # 1 KiB, else ONE TRUNCATED decimal (10239 → '9.9 KiB', not 10.0)
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION dd_format_bytes(b BIGINT) "
        "RETURNS STRING RETURN "
        "CASE WHEN abs(b) < 1024 THEN concat(CAST(b AS STRING), ' bytes') "
        "ELSE concat("
        " format_string('%.1f',"
        "  CAST(CAST(b / pow(2, 10 * CAST(floor(log2(abs(b)) / 10) AS INT))"
        "       * 10 AS BIGINT) AS DOUBLE) / 10),"
        " ' ',"
        " element_at(array('KiB','MiB','GiB','TiB','PiB','EiB'),"
        "            CAST(floor(log2(abs(b)) / 10) AS INT))"
        ") END"
    )

    # typeof → DuckDB type spellings from the DESCRIBE name map (the
    # entries upper() does not already give; one array level via the
    # LIKE branch, upper() covers decimal(p,s) and the long tail)
    scalar_case = "CASE t {} ELSE upper(t) END".format(" ".join(
        f"WHEN '{name}' THEN '{duck}'"
        for name, duck in _DUCK_TYPE_NAMES.items() if duck != name.upper()
    ))
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION dd_typeof_scalar(t STRING) "
        f"RETURNS STRING RETURN {scalar_case}"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION dd_typeof_name(t STRING) "
        "RETURNS STRING RETURN CASE WHEN t LIKE 'array<%>' THEN "
        "dd_typeof_scalar(substr(t, 7, length(t) - 7)) || '[]' "
        "ELSE dd_typeof_scalar(t) END"
    )

    # integer gcd/lcm (Spark has neither) — vectorized pandas shims
    import pandas as _pd0
    from pyspark.sql.functions import pandas_udf as _pudf0

    def _gcd_shim(a, b):
        import math as _math

        return _pd0.Series(
            [
                None if x is None or y is None else _math.gcd(int(x), int(y))
                for x, y in zip(a, b)
            ],
            dtype="object",
        )

    _gcd_shim.__annotations__ = {"a": _pd0.Series, "b": _pd0.Series,
                                 "return": _pd0.Series}
    spark.udf.register("dd_gcd", _pudf0(_gcd_shim, "long"))

    def _lcm_shim(a, b):
        import math as _math

        def one(x, y):
            if x is None or y is None:
                return None
            x, y = int(x), int(y)
            if x == 0 or y == 0:
                return 0
            return abs(x * y) // _math.gcd(x, y)

        return _pd0.Series([one(x, y) for x, y in zip(a, b)], dtype="object")

    _lcm_shim.__annotations__ = {"a": _pd0.Series, "b": _pd0.Series,
                                 "return": _pd0.Series}
    spark.udf.register("dd_lcm", _pudf0(_lcm_shim, "long"))

    # aggregates Spark lacks entirely: Shannon entropy over the value
    # distribution (DuckDB: log2) and running product — Arrow-batched
    # grouped-agg pandas UDFs (whole group per call, no partial agg)
    import pandas as _pd
    from pyspark.sql.functions import pandas_udf as _pandas_udf

    def _entropy_agg(s):
        vc = s.dropna().value_counts()
        n = int(vc.sum())
        if n == 0:
            return None
        import math as _math

        return float(-sum(c / n * _math.log2(c / n) for c in vc))

    _entropy_agg.__annotations__ = {"s": _pd.Series, "return": float}
    spark.udf.register("entropy", _pandas_udf(_entropy_agg, "double"))

    def _product_agg(s):
        s = s.dropna()
        if len(s) == 0:
            return None
        return float(s.astype("float64").prod())

    _product_agg.__annotations__ = {"s": _pd.Series, "return": float}
    spark.udf.register("product", _pandas_udf(_product_agg, "double"))

    def _mad_agg(s):
        # median absolute deviation — DuckDB mad(); double for every
        # numeric input (DECIMAL-in comes back double; values equal)
        s = s.dropna()
        if len(s) == 0:
            return None
        s = s.astype("float64")
        return float((s - s.median()).abs().median())

    _mad_agg.__annotations__ = {"s": _pd.Series, "return": float}
    spark.udf.register("mad", _pandas_udf(_mad_agg, "double"))

    # character-set jaccard / positional hamming: JVM-side HOF bodies
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION dd_jaccard(a STRING, b STRING) "
        "RETURNS DOUBLE "
        "RETURN size(array_intersect(array_distinct(split(a, '')), "
        "array_distinct(split(b, '')))) / "
        "CAST(size(array_union(array_distinct(split(a, '')), "
        "array_distinct(split(b, '')))) AS DOUBLE)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION dd_hamming(a STRING, b STRING) "
        "RETURNS BIGINT "
        "RETURN CASE WHEN length(a) <> length(b) THEN "
        "CAST(raise_error('hamming: strings must be of equal length') AS BIGINT) "
        "ELSE CAST(size(filter(zip_with(split(a, ''), split(b, ''), "
        "(x, y) -> x <> y), z -> z)) AS BIGINT) END"
    )
    for stmt in (
        # full-match regex (DuckDB SIMILAR TO / regexp_full_match)
        "CREATE OR REPLACE TEMPORARY FUNCTION dd_regexp_full_match"
        "(s STRING, p STRING) RETURNS BOOLEAN "
        "RETURN s RLIKE concat('^(?:', p, ')$')",
        # floored division / floored modulo (DuckDB fdiv/fmod, measured:
        # fdiv(-7,2) = -4, fmod(-7,2) = 1 — floored, not C-truncated)
        "CREATE OR REPLACE TEMPORARY FUNCTION dd_fdiv(a DOUBLE, b DOUBLE) "
        "RETURNS DOUBLE RETURN floor(a / b)",
        "CREATE OR REPLACE TEMPORARY FUNCTION dd_fmod(a DOUBLE, b DOUBLE) "
        "RETURNS DOUBLE RETURN a - floor(a / b) * b",
        # round away from zero to the next even number (double result)
        "CREATE OR REPLACE TEMPORARY FUNCTION dd_even(x DOUBLE) "
        "RETURNS DOUBLE RETURN "
        "(CASE WHEN x < 0 THEN -1.0 ELSE 1.0 END) * "
        "(CASE WHEN CAST(ceil(abs(x)) AS BIGINT) % 2 = 0 "
        "THEN ceil(abs(x)) ELSE ceil(abs(x)) + 1 END)",
        # DuckDB's signbit(-0.0) is false — plain sign test matches it
        "CREATE OR REPLACE TEMPORARY FUNCTION dd_signbit(x DOUBLE) "
        "RETURNS BOOLEAN RETURN x < 0",
        "CREATE OR REPLACE TEMPORARY FUNCTION dd_isfinite(x DOUBLE) "
        "RETURNS BOOLEAN RETURN NOT isnan(x) "
        "AND abs(x) <> CAST('Infinity' AS DOUBLE)",
        "CREATE OR REPLACE TEMPORARY FUNCTION dd_isinf(x DOUBLE) "
        "RETURNS BOOLEAN RETURN abs(x) = CAST('Infinity' AS DOUBLE)",
        # unicode(): codepoint of the first character, -1 for ''
        "CREATE OR REPLACE TEMPORARY FUNCTION dd_unicode(s STRING) "
        "RETURNS INT RETURN CASE WHEN length(s) = 0 THEN -1 "
        "ELSE ascii(s) END",
    ):
        spark.sql(stmt)
    _register_libm_shims(spark)
    _register_distance_shims(spark)
    _register_text_shims(spark)
    _register_json_shims(spark)
    _register_hash_shims(spark)



def _register_json_shims(spark: SparkSession) -> None:
    """DuckDB JSON functions whose semantics differ from Spark's
    get_json_object family: json_extract returns JSON TEXT (strings stay
    quoted), json() canonicalizes, json_keys/json_valid/json_merge_patch
    have no Spark spelling. Arrow-vectorized; path support covers the
    $.a.b[i] subset DuckDB documents."""
    import json as _json

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _parse(v):
        try:
            return _json.loads(v), True
        except (TypeError, ValueError):
            return None, False

    _STEP = re.compile(
        r"\.([A-Za-z_]\w*)"          # .key
        r"|\[\s*#?(-?\d+)\s*\]"      # [i], [-i], [#-i] (from the end)
        r"|\[(\*)\]"                 # [*] wildcard (list results)
        r'|\."([^"]*)"'              # ."quoted key"
    )
    _MISSING = object()

    def _walk(obj, path: str):
        """Resolve a DuckDB JSON path against a parsed document; returns
        a LIST of matches ([] for no match — [*] may multi-match).
        Supports $-paths with [i]/[-i]/[#-i]/[*], bare top-level keys,
        and RFC 6901 JSON Pointer ('/a/0')."""
        if not path:
            return []
        if path[0] == "/":
            # JSON Pointer: ~1 -> '/', ~0 -> '~'; numeric segment = index
            for seg in path.split("/")[1:]:
                seg = seg.replace("~1", "/").replace("~0", "~")
                if isinstance(obj, dict) and seg in obj:
                    obj = obj[seg]
                elif isinstance(obj, list) and re.fullmatch(r"\d+", seg):
                    i = int(seg)
                    if i >= len(obj):
                        return []
                    obj = obj[i]
                else:
                    return []
            return [obj]
        if path[0] != "$":
            # DuckDB: a non-$ path is a single top-level KEY lookup
            if isinstance(obj, dict) and path in obj:
                return [obj[path]]
            return []
        frontier = [obj]
        pos = 1
        while pos < len(path):
            m = _STEP.match(path, pos)
            if not m:
                return []
            pos = m.end()
            key = m.group(1) or m.group(4)
            nxt = []
            for cur in frontier:
                if m.group(3):  # [*]
                    if isinstance(cur, list):
                        nxt.extend(cur)
                    continue
                if key is not None:
                    if isinstance(cur, dict) and key in cur:
                        nxt.append(cur[key])
                    continue
                if isinstance(cur, list):
                    i = int(m.group(2))
                    if -len(cur) <= i < len(cur):
                        nxt.append(cur[i])
            frontier = nxt
        return frontier

    def _extract_one(doc: str, path: str):
        obj, ok = _parse(doc)
        if not ok or not path:
            return None
        hits = _walk(obj, path)
        # DuckDB: a resolved JSON null IS SQL NULL (same as no match)
        if not hits or hits[0] is None:
            return None
        return _json.dumps(hits[0], separators=(",", ":"))

    def jext(d, p):
        return pd.Series([_extract_one(a, b) for a, b in zip(d, p)])

    def _extract_list(doc: str, path: str):
        obj, ok = _parse(doc)
        if not ok or not path:
            return None
        return [
            None if h is None else _json.dumps(h, separators=(",", ":"))
            for h in _walk(obj, path)
        ]

    def jext_list(d, p):
        return pd.Series([_extract_list(a, b) for a, b in zip(d, p)])

    def _extract_str(doc: str, path: str):
        obj, ok = _parse(doc)
        if not ok or not path:
            return None
        hits = _walk(obj, path)
        if not hits or hits[0] is None:
            return None
        h = hits[0]
        if isinstance(h, str):
            return h
        if isinstance(h, bool):
            return "true" if h else "false"
        return _json.dumps(h, separators=(",", ":"))

    def jext_str(d, p):
        return pd.Series([_extract_str(a, b) for a, b in zip(d, p)])

    def _str_of(h):
        if h is None:
            return None
        if isinstance(h, str):
            return h
        if isinstance(h, bool):
            return "true" if h else "false"
        return _json.dumps(h, separators=(",", ":"))

    def _extract_str_list(doc: str, path: str):
        obj, ok = _parse(doc)
        if not ok or not path:
            return None
        return [_str_of(h) for h in _walk(obj, path)]

    def jext_str_list(d, p):
        return pd.Series([_extract_str_list(a, b) for a, b in zip(d, p)])

    def jvalid(s):
        return s.map(lambda v: _parse(v)[1] if v is not None else None)

    def jkeys(s):
        def keys(v):
            obj, ok = _parse(v)
            return list(obj.keys()) if ok and isinstance(obj, dict) else None
        return s.map(keys)

    def jcanon(s):
        def canon(v):
            obj, ok = _parse(v)
            return _json.dumps(obj, separators=(",", ":")) if ok else None
        return s.map(canon)

    def _structure(v):
        if v is None:
            return "NULL"
        if isinstance(v, bool):
            return "BOOLEAN"
        if isinstance(v, int):
            return "UBIGINT" if v >= 0 else "BIGINT"
        if isinstance(v, float):
            return "DOUBLE"
        if isinstance(v, str):
            return "VARCHAR"
        if isinstance(v, list):
            elems = [_structure(e) for e in v]
            return [_unify(elems)] if elems else ["NULL"]
        if isinstance(v, dict):
            return {k: _structure(x) for k, x in v.items()}
        return "JSON"

    def _unify(structs):
        first = structs[0]
        if all(s == first for s in structs):
            return first
        if all(isinstance(s, str) for s in structs):
            scalars = set(structs) - {"NULL"}
            if scalars <= {"UBIGINT", "BIGINT", "DOUBLE"}:
                if "DOUBLE" in scalars:
                    return "DOUBLE"
                return "BIGINT" if "BIGINT" in scalars else "UBIGINT"
            return "JSON"
        if all(isinstance(s, dict) for s in structs):
            keys = {k for s in structs for k in s}
            return {
                k: _unify([s[k] for s in structs if k in s]) for k in keys
            }
        if all(isinstance(s, list) for s in structs):
            return [_unify([s[0] for s in structs])]
        return "JSON"

    def jstructure(s):
        def one(v):
            obj, ok = _parse(v)
            if not ok:
                return None
            return _json.dumps(_structure(obj), separators=(",", ":"))

        return s.map(one)

    def jquote(s):
        return s.map(
            lambda v: _json.dumps(v, separators=(",", ":"))
            if v is not None
            else None
        )

    def jmerge(a, b):
        def patch(target, p):
            if not isinstance(p, dict):
                return p
            out = dict(target) if isinstance(target, dict) else {}
            for k, v in p.items():
                if v is None:
                    out.pop(k, None)
                else:
                    out[k] = patch(out.get(k), v)
            return out
        def one(x, y):
            tx, okx = _parse(x)
            ty, oky = _parse(y)
            if not (okx and oky):
                return None
            return _json.dumps(patch(tx, ty), separators=(",", ":"))
        return pd.Series([one(x, y) for x, y in zip(a, b)])

    def jcontains(a, b):
        def inside(hay, needle):
            """DuckDB containment: the needle value appears anywhere in
            the haystack tree (objects match on key-subset, arrays on
            element-subset)."""
            def matches(h, n):
                if isinstance(n, dict):
                    return isinstance(h, dict) and all(
                        k in h and matches(h[k], v) for k, v in n.items()
                    )
                if isinstance(n, list):
                    return isinstance(h, list) and all(
                        any(matches(e, v) for e in h) for v in n
                    )
                if isinstance(n, bool) or isinstance(h, bool):
                    return h is n if isinstance(n, bool) else False
                if isinstance(n, (int, float)) and isinstance(
                    h, (int, float)
                ):
                    return float(h) == float(n)
                return h == n
            if matches(hay, needle):
                return True
            if isinstance(hay, dict):
                return any(inside(v, needle) for v in hay.values())
            if isinstance(hay, list):
                return any(inside(e, needle) for e in hay)
            return False

        def one(x, y):
            hx, okx = _parse(x)
            ny, oky = _parse(y)
            if not (okx and oky):
                return None
            return inside(hx, ny)

        return pd.Series([one(x, y) for x, y in zip(a, b)])

    for name, fn, typ in (
        ("dd_json_extract", jext, "string"),
        ("dd_json_extract_list", jext_list, "array<string>"),
        ("dd_json_extract_str", jext_str, "string"),
        ("dd_json_extract_str_list", jext_str_list, "array<string>"),
        ("dd_json_valid", jvalid, "boolean"),
        ("dd_json_keys", jkeys, "array<string>"),
        ("dd_json_canon", jcanon, "string"),
        ("dd_json_merge_patch", jmerge, "string"),
        ("dd_json_structure", jstructure, "string"),
        ("dd_json_quote", jquote, "string"),
        ("dd_json_contains", jcontains, "boolean"),
    ):
        fn.__annotations__ = (
            {"d": pd.Series, "p": pd.Series, "return": pd.Series}
            if fn in (jext, jext_list, jext_str, jext_str_list, jmerge,
                      jcontains)
            else {"s": pd.Series, "return": pd.Series}
        )
        if fn in (jmerge, jcontains):
            fn.__annotations__ = {
                "a": pd.Series, "b": pd.Series, "return": pd.Series
            }
        spark.udf.register(name, pandas_udf(fn, typ))



def _register_hash_shims(spark: SparkSession) -> None:
    """DuckDB's ``hash()`` reproduced bit for bit (UBIGINT results ride
    as digit strings so the 64-bit unsigned range survives; the rewrite
    wraps the outermost call in CAST(… AS DECIMAL(20,0)) like the
    md5_number family). Arrow-batched; values cross as exact digit
    strings, never floats."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def hu64(s):
        def one(v):
            if v is None:
                return str(_DD_NULL_HASH)
            return str(_dd_murmur_fin(int(v)))
        return s.map(one)

    def hstr(s):
        def one(v):
            if v is None:
                return str(_DD_NULL_HASH)
            if isinstance(v, (bytes, bytearray)):
                return str(_dd_murmur64a(bytes(v)))
            return str(_dd_murmur64a(str(v).encode()))
        return s.map(one)

    def hdbl(x, isnull):
        import struct as _struct

        def one(v, n):
            if n:
                return str(_DD_NULL_HASH)
            v = float(v)
            if v == 0.0:  # DuckDB normalizes -0.0 before hashing
                v = 0.0
            bits = _struct.unpack("<Q", _struct.pack("<d", v))[0]
            return str(_dd_murmur_fin(bits))
        return pd.Series([one(v, n) for v, n in zip(x, isnull)])

    def hcomb(a, b):
        M, K = _DD_HASH_MASK, _DD_HASH_COMBINE_K

        def one(x, y):
            if x is None or y is None:
                return None
            return str(((int(x) * K) & M) ^ int(y))
        return pd.Series([one(x, y) for x, y in zip(a, b)])

    hu64.__annotations__ = {"s": pd.Series, "return": pd.Series}
    hstr.__annotations__ = {"s": pd.Series, "return": pd.Series}
    hdbl.__annotations__ = {"x": pd.Series, "isnull": pd.Series,
                            "return": pd.Series}
    hcomb.__annotations__ = {"a": pd.Series, "b": pd.Series,
                             "return": pd.Series}
    spark.udf.register("dd_hash_u64", pandas_udf(hu64, "string"))
    spark.udf.register("dd_hash_str", pandas_udf(hstr, "string"))
    spark.udf.register("dd_hash_dbl", pandas_udf(hdbl, "string"))
    spark.udf.register("dd_hash_combine", pandas_udf(hcomb, "string"))



def _register_text_shims(spark: SparkSession) -> None:
    """NFC normalization as an Arrow-vectorized shim (the JVM exposes no
    SQL spelling for java.text.Normalizer)."""
    import unicodedata

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def nfc(s):
        return s.map(
            lambda v: unicodedata.normalize("NFC", v) if v is not None else None
        )

    nfc.__annotations__ = {"s": pd.Series, "return": pd.Series}
    spark.udf.register("dd_nfc_normalize", pandas_udf(nfc, "string"))

    import re as _re

    def resc(s):
        return s.map(lambda v: _re.escape(v) if v is not None else None)

    resc.__annotations__ = {"s": pd.Series, "return": pd.Series}
    spark.udf.register("dd_regexp_escape", pandas_udf(resc, "string"))

    def lev_bytes(a, b):
        """DuckDB's levenshtein operates on UTF-8 BYTES (probed live:
        levenshtein('kitten','sätting') = 5, not the 4 a character-level
        distance gives) — Spark's builtin counts characters."""

        def one(x, y):
            if x is None or y is None:
                return None
            xb, yb = x.encode("utf-8"), y.encode("utf-8")
            prev = list(range(len(yb) + 1))
            for i, cx in enumerate(xb, 1):
                cur = [i]
                for j, cy in enumerate(yb, 1):
                    cur.append(min(
                        prev[j] + 1,
                        cur[j - 1] + 1,
                        prev[j - 1] + (cx != cy),
                    ))
                prev = cur
            return prev[-1]

        return pd.Series([one(x, y) for x, y in zip(a, b)])

    lev_bytes.__annotations__ = {
        "a": pd.Series, "b": pd.Series, "return": pd.Series
    }
    spark.udf.register("dd_lev_bytes", pandas_udf(lev_bytes, "long"))

    def rr_first(s, p, r):
        """DuckDB regexp_replace WITHOUT the 'g' flag replaces only the
        FIRST match (Spark's builtin always replaces all). Backslash
        backreferences (\\1) share syntax between DuckDB and Python re;
        the inline-flag prefix (?i) folded by the rewrite also parses."""

        def one(x, pat, rep):
            if x is None or pat is None or rep is None:
                return None
            return _re.sub(pat, rep, x, count=1)

        return pd.Series([one(*t) for t in zip(s, p, r)])

    rr_first.__annotations__ = {
        "s": pd.Series, "p": pd.Series, "r": pd.Series,
        "return": pd.Series,
    }
    spark.udf.register(
        "dd_regexp_replace_first", pandas_udf(rr_first, "string")
    )

    import calendar as _cal

    def age_seconds(a, b):
        """DuckDB age(x, y) flattened to seconds: swap so x >= y, split
        into months/days/micros with borrows from the SMALLER date's
        month, negate if swapped, then the client's 30-day-month
        flattening — each step probed on live DuckDB 1.0 (battery 14)."""

        def one(x, y):
            if x is None or y is None or x != x or y != y:
                return None
            x, y = x.to_pydatetime(), y.to_pydatetime()
            sign = 1
            if x < y:
                x, y, sign = y, x, -1
            m = 12 * (x.year - y.year) + (x.month - y.month)
            d = x.day - y.day
            us = (
                (x.hour - y.hour) * 3_600_000_000
                + (x.minute - y.minute) * 60_000_000
                + (x.second - y.second) * 1_000_000
                + (x.microsecond - y.microsecond)
            )
            if us < 0:
                d -= 1
                us += 86_400_000_000
            if d < 0:
                m -= 1
                d += _cal.monthrange(y.year, y.month)[1]
            return sign * ((m * 30 + d) * 86400.0 + us / 1e6)

        return pd.Series(
            [one(x, y) for x, y in zip(a, b)], dtype="float64"
        )

    age_seconds.__annotations__ = {
        "a": pd.Series, "b": pd.Series, "return": pd.Series
    }
    spark.udf.register("dd_age_seconds", pandas_udf(age_seconds, "double"))



def _register_distance_shims(spark: SparkSession) -> None:
    """Jaro / Jaro-Winkler / Damerau-Levenshtein as Arrow-vectorized
    pandas UDFs (loop-shaped algorithms with no HOF spelling). Semantics
    pinned to DuckDB 1.0: empty input → 0.0 similarity, Winkler prefix
    ≤ 4 at p = 0.1, Damerau is FULL DL (unrestricted transposition —
    dl('ca','abc') = 2, not OSA's 3)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def jaro(s1: str, s2: str) -> float:
        n1, n2 = len(s1), len(s2)
        if n1 == 0 or n2 == 0:
            return 0.0
        window = max(0, max(n1, n2) // 2 - 1)
        m1 = [False] * n1
        m2 = [False] * n2
        matches = 0
        for i, c in enumerate(s1):
            lo, hi = max(0, i - window), min(n2, i + window + 1)
            for j in range(lo, hi):
                if not m2[j] and s2[j] == c:
                    m1[i] = m2[j] = True
                    matches += 1
                    break
        if matches == 0:
            return 0.0
        t = 0
        k = 0
        for i in range(n1):
            if m1[i]:
                while not m2[k]:
                    k += 1
                if s1[i] != s2[k]:
                    t += 1
                k += 1
        t //= 2
        return (matches / n1 + matches / n2 + (matches - t) / matches) / 3

    def jaro_winkler(s1: str, s2: str) -> float:
        j = jaro(s1, s2)
        if j <= 0.7:  # standard boost threshold (DuckDB applies it too)
            return j
        prefix = 0
        for a, b in zip(s1[:4], s2[:4]):
            if a != b:
                break
            prefix += 1
        return j + prefix * 0.1 * (1 - j)

    def damerau(s1: str, s2: str) -> int:
        # full Damerau-Levenshtein (with alphabet bookkeeping)
        n1, n2 = len(s1), len(s2)
        maxdist = n1 + n2
        da: dict[str, int] = {}
        d = [[0] * (n2 + 2) for _ in range(n1 + 2)]
        d[0][0] = maxdist
        for i in range(n1 + 1):
            d[i + 1][0] = maxdist
            d[i + 1][1] = i
        for j in range(n2 + 1):
            d[0][j + 1] = maxdist
            d[1][j + 1] = j
        for i in range(1, n1 + 1):
            db = 0
            for j in range(1, n2 + 1):
                k = da.get(s2[j - 1], 0)
                l = db
                if s1[i - 1] == s2[j - 1]:
                    cost = 0
                    db = j
                else:
                    cost = 1
                d[i + 1][j + 1] = min(
                    d[i][j] + cost,
                    d[i + 1][j] + 1,
                    d[i][j + 1] + 1,
                    d[k][l] + (i - k - 1) + 1 + (j - l - 1),
                )
            da[s1[i - 1]] = i
        return d[n1 + 1][n2 + 1]

    def make_pair(f, cast):
        def shim(a, b):
            return pd.Series(
                [
                    cast(f(x if x is not None else "", y if y is not None else ""))
                    for x, y in zip(a, b)
                ]
            )

        shim.__annotations__ = {
            "a": pd.Series, "b": pd.Series, "return": pd.Series
        }
        return shim

    spark.udf.register("dd_jaro", pandas_udf(make_pair(jaro, float), "double"))
    spark.udf.register(
        "dd_jaro_winkler", pandas_udf(make_pair(jaro_winkler, float), "double")
    )
    spark.udf.register(
        "dd_damerau", pandas_udf(make_pair(damerau, int), "long")
    )



# DuckDB evaluates these through C libm; the JVM's Math intrinsics differ
# in the last ulp (measured: asin/acos/atan/atan2/exp/ln/log10/log2
# diverge on ordinary inputs). Under DuckDB-first serving they remap to
# Arrow-vectorized pandas UDFs calling Python's math module — the SAME
# libm DuckDB links, so results are bit-identical. Parity shims only:
# native sessions and the non-forced rewrite path keep JVM codegen trig.
_LIBM_FNS = (
    "sin", "cos", "tan", "asin", "acos", "atan",
    "exp", "ln", "log10", "log2", "sinh", "cosh", "tanh",
    # sqrt is IEEE-exact on both engines; it routes through the shim so
    # negative inputs RAISE like DuckDB instead of returning NaN
    "sqrt",
    # round-12 hunt E: Java's cbrt is correctly-rounded (cbrt(27) = 3.0)
    # while DuckDB's libm cbrt is not (3.0000000000000004) — the shim
    # calls the same C libm
    "cbrt",
)

_LIBM_RE = re.compile(
    r"\b(" + "|".join(_LIBM_FNS) + r"|atan2)\s*\(", re.IGNORECASE
)

_DEG_RAD_RE = re.compile(r"\b(degrees|radians)\s*\(", re.IGNORECASE)

_ROUND_RE = re.compile(r"\bround\s*\(", re.IGNORECASE)

# 180/π and π/180 as nearest doubles — DuckDB computes degrees/radians
# as one IEEE multiply by these constants, so a textual multiply matches
# it exactly (verified value-for-value; no UDF needed). CAST to DOUBLE:
# Spark parses bare decimal literals as DECIMAL, which would change the
# arithmetic.
_DEG_CONST = "CAST(57.29577951308232 AS DOUBLE)"

_RAD_CONST = "CAST(0.017453292519943295 AS DOUBLE)"



def _register_libm_shims(spark: SparkSession) -> None:
    import math

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    impl = {name: getattr(math, name) for name in _LIBM_FNS if name != "ln"}
    impl["ln"] = math.log

    # DuckDB raises on log/sqrt domain violations (probed live:
    # 'cannot take logarithm of zero' / 'of a negative number' /
    # 'cannot take square root of a negative number'); other libm
    # domain errors keep the NaN convention
    _DOMAIN_RAISERS = {"ln", "log10", "log2", "sqrt"}

    def make(f, name=None):
        def shim(s):
            def one(v):
                try:
                    return f(v)
                except (ValueError, OverflowError, TypeError):
                    if name in _DOMAIN_RAISERS and v == v:
                        if name == "sqrt":
                            raise ValueError(
                                "cannot take square root of a negative "
                                "number"
                            )
                        raise ValueError(
                            "cannot take logarithm of zero" if v == 0
                            else "cannot take logarithm of a negative "
                                 "number"
                        )
                    return float("nan")

            return s.astype("float64").map(one)

        # real annotation objects: the module-wide `from __future__ import
        # annotations` would otherwise leave unresolvable strings and
        # break pandas_udf's type inference
        shim.__annotations__ = {"s": pd.Series, "return": pd.Series}
        return shim

    # gamma/lgamma have NO Spark spelling at all (not just a divergent
    # one), so they rename to these shims unconditionally, not only
    # under DuckDB-first serving. Round-14 hunt G: CPython's
    # math.gamma/math.lgamma are its OWN Lanczos implementation, off
    # DuckDB's C-libm tgamma/lgamma by a final ulp (gamma(0.5):
    # …055159 vs libm's …05516; lgamma(0.5): …7004 vs …7001) — call
    # the same libm through ctypes; math.* stays the fallback where
    # libm.so.6 is absent
    def _lazy_libm(name: str, fallback):
        # ctypes handles cannot ride a cloudpickle closure — resolve
        # libm on the EXECUTOR, once per process
        state: dict = {}

        def call(v: float) -> float:
            f = state.get("f")
            if f is None:
                try:
                    import ctypes

                    lib = ctypes.CDLL("libm.so.6")
                    f = getattr(lib, name)
                    f.restype = ctypes.c_double
                    f.argtypes = [ctypes.c_double]
                except (OSError, AttributeError):
                    f = fallback
                state["f"] = f
            return f(v)

        return call

    impl["gamma"] = _lazy_libm("tgamma", math.gamma)
    impl["lgamma"] = _lazy_libm("lgamma", math.lgamma)
    for name, f in impl.items():
        spark.udf.register(
            f"dd_libm_{name}", pandas_udf(make(f, name), "double")
        )

    def nextafter_shim(a, b):
        return pd.Series(
            [
                math.nextafter(x, y)
                for x, y in zip(a.astype("float64"), b.astype("float64"))
            ]
        )

    nextafter_shim.__annotations__ = {
        "a": pd.Series, "b": pd.Series, "return": pd.Series
    }
    spark.udf.register("dd_libm_nextafter", pandas_udf(nextafter_shim, "double"))

    def atan2_shim(y, x):
        return pd.Series(
            [
                math.atan2(a, b)
                for a, b in zip(y.astype("float64"), x.astype("float64"))
            ]
        )

    atan2_shim.__annotations__ = {
        "y": pd.Series, "x": pd.Series, "return": pd.Series
    }
    spark.udf.register("dd_libm_atan2", pandas_udf(atan2_shim, "double"))

    # DuckDB rounds doubles as floor(v·10^p + 0.5)/10^p (ceil for
    # negatives) — calibrated bit-exact against it over 6k cases; Spark's
    # HALF_UP over the decimal representation disagrees within an ulp of
    # the .5 boundary, which is exactly where libm-exact inputs land.
    def round_shim(v, p):
        out = []
        for a, b in zip(v.astype("float64"), p):
            if a != a or a in (float("inf"), float("-inf")):
                out.append(a)
                continue
            power = 10.0 ** int(b)
            out.append(
                math.floor(a * power + 0.5) / power
                if a >= 0
                else math.ceil(a * power - 0.5) / power
            )
        return pd.Series(out)

    round_shim.__annotations__ = {
        "v": pd.Series, "p": pd.Series, "return": pd.Series
    }
    spark.udf.register("dd_libm_round", pandas_udf(round_shim, "double"))



_AT_ABS_RE = re.compile(r"(?<![\w\x00])@(?!\s*[>=<@])\s*")



_AT_ARITH_OP_RE = re.compile(r"\s*(\+|-|\*|//|/|%|\bDIV\b)\s*", re.IGNORECASE)



def _rewrite_at_abs(s: str) -> str:
    """DuckDB's prefix ``@x`` absolute-value operator → ``abs(x)``.
    Postgres generic-operator precedence: ``@`` binds LOOSER than
    arithmetic but tighter than comparisons (``@ -2 - 3`` is abs(-5)=5,
    ``@ -2 = 2`` is true) — so consume the whole arithmetic chain.
    Each pass consumes one ``@``, so nested ``@ @ x`` terminates."""
    while m := _AT_ABS_RE.search(s):
        end = _primary_end(s, m.end())
        if end <= m.end():
            return s  # dangling '@' — leave it to fail at parse time
        while op := _AT_ARITH_OP_RE.match(s, end):
            nxt = _primary_end(s, op.end())
            if nxt <= op.end():
                break
            end = nxt
        inner = s[m.end() : end]
        s = s[: m.start()] + f"abs({inner})" + s[end:]
    return s



_MUL_OP_BEFORE_RE = re.compile(r"(?:[*%]|(?<![\w.\x00])DIV)\s*$", re.IGNORECASE)


def _dividend_back(s: str, end: int) -> int | None:
    """Start of the one primary ending at ``end`` (exclusive) on the left
    of a ``/`` — a windowed aggregate ``agg(x) OVER (…)`` is one primary:
    on consuming the OVER keyword, keep walking through the space to the
    aggregate call — or None for an operand the rewrite leaves alone
    (nothing, CASE…END, a named window)."""
    j = end - 1
    while j >= 0:
        if s[j] in " \t\n:":
            # a gap inside a primary only when it precedes the frame
            # of an OVER clause ("agg(x) OVER (…)" is one operand) or
            # a postfix '::' cast (the cast's operand is the primary)
            k = j
            while k >= 0 and s[k] in " \t\n":
                k -= 1
            wm = re.search(r"([A-Za-z_]\w*)$", s[: k + 1])
            if wm and wm.group(1).upper() == "OVER":
                j = k
            elif k >= 1 and s[k] == ":" and s[k - 1] == ":" and j + 1 < end:
                j = k - 2
                while j >= 0 and s[j] in " \t\n":
                    j -= 1
            else:
                break
        elif s[j] in ")]":
            depth, openc = 1, "(" if s[j] == ")" else "["
            closec = s[j]
            j -= 1
            while j >= 0 and depth:
                if s[j] == closec:
                    depth += 1
                elif s[j] == openc:
                    depth -= 1
                j -= 1
        elif s[j].isalnum() or s[j] in "_.\x00":
            w_end = j + 1
            while j >= 0 and (s[j].isalnum() or s[j] in "_.\x00"):
                j -= 1
            if s[j + 1 : w_end].upper() == "OVER":
                while j >= 0 and s[j] in " \t\n":
                    j -= 1
        else:
            break
    start = j + 1
    operand = s[start:end].strip().upper()
    prev_word = re.search(r"([A-Za-z_]\w*)\s*$", s[:start])
    if (
        not operand
        or operand in ("END", "OVER")
        or (prev_word and prev_word.group(1).upper() == "OVER")
    ):
        return None
    return start


def _rewrite_division(s: str, ieee: bool = False) -> str:
    """DuckDB's ``/`` ALWAYS returns DOUBLE (``SELECT typeof(10/4)`` →
    DOUBLE; decimal operands included) and division by zero yields NULL
    (ANSI Spark raises), while Spark keeps DECIMAL arithmetic when a
    decimal literal is involved — so ``p_size / 51.0`` diverges from
    DuckDB before any function ever runs. Rewriting ``l / r`` to
    ``try_divide(CAST(l AS DOUBLE), r)`` fixes the result type AND the
    zero behavior in one move; downstream mixed arithmetic then promotes
    identically in both engines.

    ``ieee`` (round 15, VERDICT r14 item 6): DuckDB 1.2 flipped
    ``ieee_floating_point`` on by default, so the reference's 1.4.1
    returns ±Infinity / NaN for division by zero instead of 1.0's
    NULL. Under ``SET duckdb_version_semantics='1.2'`` (or higher) the
    zero-divisor arm spells out IEEE 754: sign from numerator ×
    divisor-zero sign (signbit catches −0.0), NaN for 0/0 and NaN/0,
    NULL only for a NULL operand — ANSI Spark raises on double/0, so
    the CASE is explicit."""
    i = 0
    while i < len(s):
        if s[i] != "/":
            i += 1
            continue
        if (i > 0 and s[i - 1] == "/") or (i + 1 < len(s) and s[i + 1] == "/"):
            i += 1  # '//' integer division — not this operator
            continue
        j = i - 1
        while j >= 0 and s[j] in " \t\n":
            j -= 1
        end = j + 1
        start = _dividend_back(s, end)
        if start is None:
            i += 1  # CASE…END / named-window operands: leave untouched
            continue
        # '*', '%' and DIV (a lowered '//') share '/'s precedence and
        # associate left to right: the dividend of a * b / c is a * b
        while m := _MUL_OP_BEFORE_RE.search(s, 0, start):
            j = m.start() - 1
            while j >= 0 and s[j] in " \t\n":
                j -= 1
            prev = _dividend_back(s, j + 1)
            if prev is None:
                break
            start = prev
        operand = s[start:end]
        r_end = _primary_end(s, i + 1)
        right = s[i + 1 : r_end].strip()
        if not right:
            i += 1
            continue
        if ieee:
            # the zero-divisor arm multiplies by power(r, -1): Java's
            # Math.pow(±0.0, -1) is ±Infinity (sign of −0.0 preserved,
            # which neither a CAST-to-STRING probe nor a comparison
            # can see), so l × power(r, −1) reproduces the full IEEE
            # table — signed infinities, 0/0 and NaN/0 → NaN, NULL
            # operands → NULL — without tripping ANSI DIVIDE_BY_ZERO.
            # Operands bind ONCE through a single-element higher-order
            # transform (r16, ADVICE r15 item 2: the old spelling
            # spliced the divisor text three times and the numerator
            # twice, so a volatile divisor — rand() — could take
            # inconsistent branches and an expensive scalar subquery
            # was planned thrice); the lambda references x.n/x.d freely
            # without re-evaluating either.
            # element_at(…, 1), not […][0]: the generated text flows
            # through later dialect passes, where a bracket subscript
            # is DuckDB 1-based indexing and would be re-lowered.
            repl = (
                f"element_at(transform(array(named_struct("
                f"'n', CAST({operand} AS DOUBLE), "
                f"'d', CAST({right} AS DOUBLE))), "
                f"x -> if(x.d = 0.0d, x.n * power(x.d, -1), "
                f"try_divide(x.n, x.d))), 1)"
            )
        else:
            repl = f"try_divide(CAST({operand} AS DOUBLE), {right})"
        s = s[:start] + repl + s[r_end:]
        i = start + len(repl)
    return s



_PY_LAMBDA_RE = re.compile(
    r"\blambda\s+([A-Za-z_]\w*(?:\s*,\s*[A-Za-z_]\w*)*)\s*:",
    re.IGNORECASE,
)


def _rewrite_python_lambdas(s: str) -> str:
    """DuckDB 1.3+ Python-style lambdas — ``lambda x: expr`` /
    ``lambda x, y: expr`` → the arrow form ``(x, y) -> expr`` the rest
    of the layer already handles (round-13 version-policy item: the
    reference embeds DuckDB 1.4.1, main.go:355, which accepts BOTH
    spellings; the local 1.0 oracle only the arrow form — so these
    probes pin against the arrow equivalent). The body extends to the
    end of the enclosing argument: the first top-level ',' or
    unmatched closing bracket."""
    while m := _PY_LAMBDA_RE.search(s):
        i = m.end()
        depth = 0
        while i < len(s):
            c = s[i]
            if c in "([":
                depth += 1
            elif c in ")]":
                if depth == 0:
                    break
                depth -= 1
            elif c == "," and depth == 0:
                break
            i += 1
        names = [p.strip() for p in m.group(1).split(",")]
        # Spark's parser rejects parens around a SINGLE lambda param
        head = names[0] if len(names) == 1 else f"({', '.join(names)})"
        body = s[m.end():i].strip()
        s = s[: m.start()] + f"{head} -> {body}" + s[i:]
    return s


def _rewrite_int_div(s: str) -> str:
    """``a // b`` → ``a DIV nullif(b, 0)`` — both engines truncate
    toward zero on integers; the nullif makes a zero divisor yield NULL
    (DuckDB) instead of the ANSI divide-by-zero error (round-13 hunt
    F). Nonzero divisors are untouched by nullif."""
    i = 0
    while i < len(s):
        if not (s[i] == "/" and i + 1 < len(s) and s[i + 1] == "/"):
            i += 1
            continue
        r_end = _primary_end(s, i + 2)
        right = s[i + 2 : r_end].strip()
        if not right:
            i += 2
            continue
        repl = f" DIV nullif({right}, 0)"
        s = s[:i] + repl + s[r_end:]
        # Resume INSIDE the wrapped divisor (not past it) so a nested
        # `//` in a parenthesized right operand — `a // (b // c)` —
        # is rewritten on the next pass (round-14 ADVICE, medium).
        i = i + len(" DIV nullif(")
    return s


def _rewrite_try_mod(s: str) -> str:
    """DuckDB-first only: ``l % r`` → ``try_mod(l, r)`` — DuckDB's
    modulo by zero yields NULL where ANSI Spark raises; values agree for
    every nonzero divisor (both truncate toward the dividend's sign)."""
    i = 0
    while i < len(s):
        if s[i] != "%":
            i += 1
            continue
        j = i - 1
        while j >= 0 and s[j] in " \t\n":
            j -= 1
        end = j + 1
        start = _primary_back(s, end)
        operand = s[start:end]
        if not operand.strip():
            i += 1
            continue
        r_end = _primary_end(s, i + 1)
        right = s[i + 1 : r_end].strip()
        if not right:
            i += 1
            continue
        repl = f"try_mod({operand}, {right})"
        s = s[:start] + repl + s[r_end:]
        i = start + len(repl)
    return s



#  no whitespace before the paren: ``FROM db.tbl (alias_list)`` must
#  never read as a method call
_DOT_CALL_RE = re.compile(r"\.([A-Za-z_]\w*)\(")

# prefixes that are schema qualifiers, not method receivers — DuckDB
# resolves main.abs(-1) as the schema-qualified function
_DOT_CALL_SCHEMAS = {
    "main", "temp", "system", "memory",
    "pg_catalog", "information_schema",
}



def _rewrite_dot_calls(s: str) -> str:
    """DuckDB's method-call sugar: ``expr.fn(args)`` ≡ ``fn(expr,
    args)``, chainable left to right (``x.sqrt().round(2)``). Bare
    number and string-literal receivers stay untouched — they are
    parser errors in DuckDB too — as do the known schema qualifiers."""
    pos = 0
    while m := _DOT_CALL_RE.search(s, pos):
        dot = m.start()
        prev = s[dot - 1] if dot else ""
        if not (prev.isalnum() or prev in "_)]\x00"):
            pos = m.end()
            continue
        start = _primary_back(s, dot)
        primary = s[start:dot].strip()
        if primary.lower() in _DOT_CALL_SCHEMAS:
            # schema-qualified call: main.abs(-1) ≡ abs(-1) — strip the
            # qualifier (Spark resolves only bare function names)
            s = s[:start] + s[dot + 1 :]
            pos = start
            continue
        if (
            not primary
            or re.fullmatch(r"[+-]?\d+", primary)       # 5.abs() — parser
            or re.fullmatch(r"[+-]?\d*\.\d+", primary)   # 1.5.round() — error
            or re.fullmatch(r"\x00\d+\x00", primary)     # 'x'.fn() — error
        ):
            pos = m.end()
            continue
        # a dotted path keeps everything up to the LAST segment as the
        # receiver (t.x.abs() → abs(t.x)) — unless its head is a schema
        head = primary.split(".", 1)[0].lower()
        if head in _DOT_CALL_SCHEMAS:
            pos = m.end()
            continue
        open_idx = m.end() - 1
        close = _matching_paren(s, open_idx)
        inner = s[open_idx + 1 : close].strip()
        repl = f"{m.group(1)}({primary}" + (f", {inner}" if inner else "") + ")"
        s = s[:start] + repl + s[close + 1 :]
        pos = start  # rescan so the next link of a chain resolves
    return s

