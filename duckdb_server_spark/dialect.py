"""DuckDB-dialect SQL acceptance — the verbatim-SQL parity layer.

The reference's entire query capability is *verbatim DuckDB SQL* over the
wire: a Flight ticket carries raw SQL (main.go:199) straight into
``sql.Query`` on the embedded engine (main.go:229). A migrating user
therefore points an existing DuckDB client at the server and expects
``quantile_cont(...)``, ``SELECT * EXCLUDE (c)``, ``ASOF JOIN``,
``QUALIFY`` … to just work. Spark SQL parses most of DuckDB's surface
already (GROUP BY ALL, ORDER BY ALL, ``* EXCEPT``, lambdas); this module
closes the remaining dialect gap with

1. **registered SQL UDF aliases** (:func:`register_dialect_functions`) for
   DuckDB names whose Spark spelling differs but whose shape is a plain
   scalar call — pure ``RETURN <expression>`` bodies, so they inline into
   the Catalyst plan and stay inside whole-stage codegen (zero Python);
2. **a pre-parse string rewrite** (:func:`rewrite`) for constructs Spark's
   parser rejects outright: ``* EXCLUDE`` / ``* REPLACE``, ``QUALIFY``,
   the ``GLOB`` operator, DuckDB-only function names (``list_transform``,
   ``quantile_cont``, numeric ``trunc``, …), double-quoted identifiers,
   and ``ASOF JOIN`` (rewritten to the LEAD-bounded interval join — the
   same scale-safe spelling operators/asof.py uses);
3. **a statement router** (:func:`execute_statement` /
   :func:`run_script`) for DuckDB init-script statements that have no
   Spark equivalent: ``SET``/``INSTALL``/``LOAD``/``CREATE SECRET`` map
   onto engine config and the capability registry, ``CREATE VIEW``
   becomes a temp view over the rewritten query — so the reference's own
   bootstrap SQL (k8s/main.yaml:100-135) executes unmodified.

The serving entry point is :func:`run_sql`: try the statement as Spark
SQL first (native queries pay zero overhead — the rewrite never touches
them), and only on parse/analysis failure rewrite and retry. All
rewrites are string→string before parsing, so Catalyst sees an ordinary
query and every optimization (pushdown, pruning, AQE) applies untouched.

VERSION POLICY (round 13, VERDICT r12 item 8). The reference embeds
DuckDB **1.4.1** (main.go:355); the only DuckDB available in this
container for live differentials is **1.0.0**, so 1.0 semantics are
what every oracle pin verifies. Policy: **track the 1.0 oracle for
value semantics; accept 1.3+/1.4 SYNTAX forward-compatibly where the
lowering is version-independent.** Concretely:

* **Python-style lambdas** (1.3+: ``lambda x: expr``) — accepted and
  lowered to the arrow form (``_rewrite_python_lambdas``); both
  spellings produce the identical plan, so the pins run the arrow
  equivalent on the 1.0 oracle (tests/test_r13_version_policy.py).
* **Division/modulo by zero** — the 1.0 oracle yields NULL for ``/``,
  ``//`` and ``%`` (all probed); the serving layer matches via
  try_divide / DIV-nullif / try_mod. KNOWN 1.2+ divergence: DuckDB
  1.2 flipped ``ieee_floating_point`` on by default, making DOUBLE
  ``x / 0.0`` return ±inf/nan in the reference's 1.4.1. The engine
  follows its verifiable oracle (NULL) BY DEFAULT; since round 15
  (VERDICT r14 item 6) ``SET duckdb_version_semantics='1.2'`` (or any
  higher version) switches ``/`` to the documented IEEE behavior
  (sign-correct ±Infinity incl. −0.0 divisors, NaN for 0/0,
  tests/test_r15_version_switch.py pins both positions).
* **map[key] extraction** (round-14 sweep, VERDICT r13 item 8):
  the 1.0 oracle returns the LIST of matches (``[]`` missing, ``[v]``
  present — probed live; the subscript rewrite reproduces exactly
  that), while DuckDB's 1.2 release notes list "map[key] returns the
  value directly" as a breaking change — the reference's 1.4.1
  returns ``v``/NULL. Default follows the verifiable 1.0 oracle
  (tests/test_r14_version_policy.py); the same
  ``SET duckdb_version_semantics`` switch selects the 1.2+ direct
  value (tests/test_r15_version_switch.py). A future 1.4-oracle
  container can validate the reference's exact behavior with no code
  change — one SET in the init script.
* Everything else pinned by the dialect batteries (list_sort null
  defaults, string→int casts, ORDER BY null placement, …) is pinned
  at 1.0 behavior for the same reason: a live differential beats a
  from-memory changelog. Round-14 sweep of the 1.1–1.4 notes for
  SEMANTIC deltas to already-implemented functions found exactly the
  two recorded above (ieee_floating_point, map[key]); new features
  with no 1.0 equivalent (MERGE INTO upstream in 1.4 — this engine's
  s13 merge predates it; FILL window function; UUIDv7) are
  implemented — where implemented — against their documented public
  semantics and flagged in their own docstrings.
"""

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
    _mask,
    _matching_paren,
    _rewrite_cast_types,
    _split_top_commas,
    _unmask,
)
from duckdb_server_spark.dialect_rewrites.exprs import (  # noqa: F401
    _column_kinds,
    _depth_at,
    _rewrite_asof,
    _rewrite_datediff_units,
    _rewrite_distinct_on,
    _fold_const_int_intervals,
    _rewrite_dyn_interval,
    _rewrite_exclude,
    _inline_named_windows,
    _rewrite_exclude_frames,
    _rewrite_std_pivot_count,
    _rewrite_unordered_rank,
    _rewrite_filter_shorthand,
    _rewrite_fn_names,
    _rewrite_generate_subscripts,
    _rewrite_glob,
    _rewrite_hex_cast,
    _rewrite_lateral_unnest,
    _rewrite_parallel_unnest,
    _rewrite_lateral_values,
    _rewrite_len,
    _rewrite_list_aggregate,
    _rewrite_list_comprehension,
    _rewrite_order_null_defaults,
    _rewrite_list_literals,
    _rewrite_median,
    _rewrite_ordered_aggs,
    _rewrite_qualify,
    _rewrite_range,
    _rewrite_regexp_extract_all,
    _rewrite_regexp_replace,
    _rewrite_slice,
    _rewrite_star_replace,
    _rewrite_strftime,
    _rewrite_string_split,
    _rewrite_struct_map,
    _rewrite_subscripts,
    _rewrite_time_bucket,
    _rewrite_trim_swap,
    _rewrite_window_filter,
    _rewrite_windowed_distinct,
    _rewrite_xor,
)
from duckdb_server_spark.dialect_rewrites.breadth import (  # noqa: F401
    _fold_time_arithmetic,
    _rewrite_any_all,
    _rewrite_at_time_zone,
    _rewrite_collate,
    _rewrite_concat_nullskip,
    _rewrite_interval_cmp,
    _rewrite_list_null_concat,
    _rewrite_date_arith,
    _rewrite_extract_epoch,
    _rewrite_decimal_literal_casts,
    _rewrite_avg_decimal,
    _rewrite_bitstring_casts,
    _rewrite_float_int_casts,
    _rewrite_string_int_casts,
    _rewrite_fetch_limit,
    _rewrite_from_first_subquery,
    _rewrite_hash,
    _rewrite_ignore_nulls,
    _rewrite_indexed_lambdas,
    _rewrite_json_arrows,
    _rewrite_materialized_cte,
    _rewrite_percent_limit,
    _rewrite_positional_join,
    _rewrite_postfix_factorial,
    _rewrite_power,
    _rewrite_shift_ops,
    _rewrite_regexp_split_to_table,
    _rewrite_similar_to,
    _rewrite_struct_literals,
    _rewrite_templates,
    _rewrite_tilde_ops,
    _rewrite_typed_literals,
    _rewrite_underscore_numerics,
    _rewrite_unpivot_aliases,
    _rewrite_using_sample,
    _rewrite_window_chain,
)
from duckdb_server_spark.dialect_rewrites.macros import (  # noqa: F401
    _rewrite_at_abs,
    _rewrite_division,
    _rewrite_dot_calls,
    _rewrite_int_div,
    _rewrite_python_lambdas,
    _rewrite_try_mod,
    register_dialect_functions,
)
from duckdb_server_spark.dialect_rewrites.nested import (  # noqa: F401
    _rewrite_interval_chain_arith,
    _rewrite_interval_epoch,
    _rewrite_interval_fields,
    _rewrite_interval_varchar,
    _rewrite_libm,
    _rewrite_list_set_ops,
    _rewrite_string_array_casts,
    _rewrite_in_subquery_3vl,
    _rewrite_nested_comparisons,
    json_list_casts,
)
from duckdb_server_spark.dialect_rewrites.statements import (  # noqa: F401
    _EXECUTE_RE,
    _FILE_READ_HINT_RE,
    _PIVOT_RE,
    _SEQVAL_HINT_RE,
    _TEMP_VIEW_CAP,
    _catalog_tables,
    _count_frame,
    _duck_type_name,
    _duckdb_first,
    _expand_macros,
    _materialize,
    _resolve_file_reads,
    _run_execute,
    _run_pivot,
    _track_temp_view,
    bind_parameters,
    dialect_state,
    execute_statement,
    run_script,
    serving_dialect,
    show_tables_frame,
    split_statements,
    table_info_frame,
)
from duckdb_server_spark.dialect_rewrites.prepare import (  # noqa: F401
    _COLUMNS_FN_RE,
    _RECURSIVE_RE,
    _UNION_BY_NAME_RE,
    _expand_columns_fn,
    _resolve_embedded_pivots,
    _resolve_union_by_name,
    _run_recursive_cte,
    has_parameters,
    neutralize_parameters,
)



def rewrite(sql: str, spark=None, duckdb_first: bool = False) -> str:
    """Full DuckDB→Spark dialect rewrite (string to string, no parsing).
    Safe only for DuckDB-dialect input — e.g. ``trunc`` is renamed to the
    numeric shim and subscripts shift to 0-based — which is why
    :func:`run_sql` tries native Spark first. When a session is supplied,
    polymorphic dispatch (``len``) resolves argument types from the
    catalog schemas of the referenced tables instead of name heuristics.
    ``duckdb_first`` (the serving mode) additionally routes the
    libm-divergent numeric family through bit-identical shims."""
    # round 15 (VERDICT r14 item 6): the two documented 1.2+ SEMANTIC
    # deltas (ieee_floating_point division, map[key] direct value) flip
    # behind `SET duckdb_version_semantics='1.2'` (or '1.4'); the
    # default stays the verifiable 1.0 oracle
    vsem_modern = False
    if spark is not None:
        vs = dialect_state(spark).settings.get(
            "duckdb_version_semantics", "1.0")
        try:
            vsem_modern = tuple(
                int(x) for x in vs.split(".")[:2]) >= (1, 2)
        except ValueError:
            # DialectError: run_sql re-raises instead of silently
            # falling back to native Spark with the setting ignored
            raise DialectError(
                f"SET duckdb_version_semantics: {vs!r} is not a "
                "DuckDB version (expected e.g. '1.0' or '1.4')"
            ) from None
    masked, table = _mask(sql)
    # DuckDB string literals are escape-free ('\s+' is backslash-s-plus);
    # Spark's parser processes backslash escapes ('\s+' becomes s-plus).
    # Double every backslash in the ORIGINAL literals so Spark
    # reconstructs the byte-identical string — regex patterns survive.
    # Entries appended by later rewrites are authored Spark-escaped.
    for i, entry in enumerate(table):
        if entry.startswith("'"):
            table[i] = entry.replace("\\", "\\\\")
    masked = _rewrite_python_lambdas(masked)
    masked = _rewrite_concat_nullskip(masked, table)
    masked = _rewrite_list_null_concat(masked)
    masked = _rewrite_list_comprehension(masked)
    masked = _rewrite_struct_literals(masked, table)
    masked = _rewrite_positional_join(masked, spark, table)
    masked = _rewrite_list_set_ops(masked)
    masked = _rewrite_dot_calls(masked)
    masked = _rewrite_interval_chain_arith(masked, table)
    masked = _rewrite_interval_epoch(masked, table)
    masked = _rewrite_interval_fields(masked, table)
    masked = _rewrite_interval_cmp(masked, table)
    masked = _rewrite_templates(masked, table)
    masked = _rewrite_similar_to(masked, table)
    masked = _rewrite_collate(masked, table)
    masked = _rewrite_in_subquery_3vl(masked)
    masked = _rewrite_underscore_numerics(masked)
    masked = _rewrite_materialized_cte(masked)
    masked = _rewrite_fetch_limit(masked)
    masked = _rewrite_percent_limit(masked)
    masked = _rewrite_regexp_split_to_table(masked)
    masked = _rewrite_using_sample(masked)
    masked = _rewrite_at_time_zone(masked)
    masked = _rewrite_indexed_lambdas(masked)
    masked = _fold_time_arithmetic(masked, table)
    masked = _rewrite_typed_literals(masked, table)
    masked = _rewrite_extract_epoch(masked, table)
    masked = _rewrite_decimal_literal_casts(masked)
    masked = _rewrite_string_int_casts(masked, table)
    masked = _rewrite_bitstring_casts(masked, table)
    masked = _rewrite_unpivot_aliases(masked, table)
    masked = _rewrite_std_pivot_count(masked, table)
    masked = _rewrite_postfix_factorial(masked)
    masked = _rewrite_power(masked)
    masked = _rewrite_at_abs(masked)
    masked = _rewrite_tilde_ops(masked, table)
    masked = _rewrite_json_arrows(masked, table)
    masked = _rewrite_shift_ops(masked)
    masked = _rewrite_any_all(masked)
    masked = _rewrite_ignore_nulls(masked)
    masked = _rewrite_filter_shorthand(masked)
    masked = _rewrite_window_chain(masked)
    masked = _rewrite_windowed_distinct(masked)
    masked = _rewrite_list_literals(masked)
    kinds = (_column_kinds(spark, masked, table)
             if spark is not None else None)
    masked = _rewrite_nested_comparisons(masked, table, kinds)
    # drop the DML filter-context markers (balanced: name( -> ( )
    masked = re.sub(r"(?i)__dd_boolctx\s*\(", "(", masked)
    masked = _rewrite_len(masked, kinds)
    masked = _rewrite_float_int_casts(masked, kinds)
    masked = _rewrite_avg_decimal(masked, kinds)
    masked = _rewrite_median(masked, kinds)
    masked = _rewrite_date_arith(masked, kinds)
    masked = _rewrite_hash(masked, table, kinds)
    masked = _rewrite_string_split(masked, table)
    masked = _rewrite_regexp_replace(masked, table)
    masked = _rewrite_regexp_extract_all(masked)
    masked = _rewrite_slice(masked, table, kinds)
    masked = _rewrite_lateral_unnest(masked)
    masked = _rewrite_generate_subscripts(masked)
    masked = _rewrite_from_first_subquery(masked)
    masked = _rewrite_range(masked)
    masked = _fold_const_int_intervals(masked)
    masked = _rewrite_time_bucket(masked, table, kinds)
    masked = _rewrite_dyn_interval(masked)
    masked = _rewrite_hex_cast(masked, table)
    masked = _rewrite_trim_swap(masked)
    masked = _rewrite_xor(masked)
    masked = _rewrite_strftime(masked, table)
    masked = _rewrite_datediff_units(masked, table)
    masked = _rewrite_interval_varchar(masked, table)
    # literal blob casts decode DuckDB's \xNN escapes into a hex literal
    # (Spark's X'…') — a plain CAST(AS BINARY) would keep the backslash
    # bytes verbatim, a silent value divergence
    def _blob_lit(mm: re.Match) -> str:
        # NB: the literal table has already been backslash-doubled for
        # Spark's escaping parser (see above), so DuckDB's \xNN arrives
        # here as \\xNN
        lit = _literal_value(table[int(mm.group(1))])
        if lit is None or not re.search(r"\\\\x[0-9A-Fa-f]{2}", lit):
            return mm.group(0)
        raw = re.sub(
            r"\\\\x([0-9A-Fa-f]{2})",
            lambda h: chr(int(h.group(1), 16)),
            lit,
        )
        raw = raw.replace("\\\\", "\\").encode("latin-1", errors="ignore")
        return f"X'{raw.hex()}'"

    masked = re.sub(
        r"\x00(\d+)\x00\s*::\s*BLOB\b", _blob_lit, masked,
        flags=re.IGNORECASE,
    )
    masked = re.sub(
        r"\bCAST\s*\(\s*\x00(\d+)\x00\s+AS\s+BLOB\s*\)", _blob_lit, masked,
        flags=re.IGNORECASE,
    )
    masked = _rewrite_cast_types(masked)
    masked = _rewrite_string_array_casts(masked)
    masked = _rewrite_struct_map(masked, table)
    masked = _rewrite_ordered_aggs(masked)
    masked = _rewrite_lateral_values(masked)
    # a VARCHAR cast of a BINARY column takes DuckDB's escaped blob
    # rendering (dd_blob_str), not the raw-bytes reinterpretation
    if kinds and any(k == "binary" for k in kinds.values()):
        def _bin_cast(mm: re.Match) -> str:
            col = mm.group(1)
            if kinds.get(col.split(".")[-1].lower()) == "binary":
                return f"dd_blob_str({col})"
            return mm.group(0)

        masked = re.sub(
            r"\bCAST\s*\(\s*([A-Za-z_][\w.]*)\s+AS\s+STRING\s*\)",
            _bin_cast,
            masked,
            flags=re.IGNORECASE,
        )
        masked = re.sub(
            r"\b([A-Za-z_][\w.]*)\s*::\s*STRING\b",
            _bin_cast,
            masked,
            flags=re.IGNORECASE,
        )
    # DuckDB `a // b` integer division → Spark DIV (both truncate toward
    # zero on integers: -7//2 = -3 on each engine; DuckDB 1.0's decimal
    # `//` is effectively float division — integer operands are the
    # portable surface). Round-13 hunt F: a zero divisor yields NULL in
    # DuckDB where ANSI Spark raises — nullif on the divisor closes the
    # last by-zero operator (`/` and `%` already route through
    # try_divide/try_mod).
    masked = _rewrite_int_div(masked)
    masked = _rewrite_parallel_unnest(masked)
    masked = _rewrite_fn_names(masked)
    if duckdb_first:
        masked = _rewrite_libm(masked, ieee=vsem_modern)
    masked = _rewrite_list_aggregate(masked, table)
    masked = _rewrite_subscripts(masked, kinds, table,
                                 map_direct=vsem_modern)
    masked = _rewrite_distinct_on(masked)
    masked = _inline_named_windows(masked)
    masked = _rewrite_unordered_rank(masked)
    masked = _rewrite_window_filter(masked)
    masked = _rewrite_exclude_frames(masked)
    masked = _rewrite_exclude(masked)
    masked = _rewrite_star_replace(masked, spark)
    masked = _rewrite_glob(masked, table)
    masked = _rewrite_asof(masked)
    masked = _rewrite_qualify(masked)
    # LAST: later passes copy ORDER BY keys into PARTITION BY lists
    # (exclude frames), so the null-default annotation runs after them
    masked = _rewrite_order_null_defaults(masked)
    return _unmask(masked, table)



# ---------------------------------------------------------------------------
# serving entry
# ---------------------------------------------------------------------------


_SUMMARIZE_RE = re.compile(
    r"^\s*SUMMARIZE\s+(.+?)\s*;?\s*$", re.IGNORECASE | re.DOTALL
)

_DESCRIBE_RE = re.compile(
    r"^\s*DESC(?:RIBE)?\s+(?:TABLE\s+)?([A-Za-z_][\w.]*)\s*;?\s*$", re.IGNORECASE
)

# DuckDB allows DESCRIBE as a table subquery — ``SELECT … FROM
# (DESCRIBE t)`` (round 15, hunt H wave 5); the describe frame
# materializes as a temp view and the name splices in, the embedded-
# PIVOT template.
_EMBEDDED_DESCRIBE_RE = re.compile(
    r"\(\s*DESC(?:RIBE)?\s+(?:TABLE\s+)?([A-Za-z_][\w.]*)\s*\)",
    re.IGNORECASE,
)


def _resolve_embedded_describes(spark: SparkSession, sql: str) -> str:
    import hashlib

    masked, table_ = _mask(sql)
    while m := _EMBEDDED_DESCRIBE_RE.search(masked):
        name = m.group(1)
        df = describe_frame(spark, spark.table(name))
        vname = "__dd_desc_" + hashlib.md5(
            name.encode()).hexdigest()[:10]
        df.createOrReplaceTempView(vname)
        _track_temp_view(spark, vname)
        masked = masked[: m.start()] + vname + masked[m.end() :]
    return _unmask(masked, table_)

# DuckDB SHOW TABLES returns a single `name` column; SHOW <table> is an
# alias of DESCRIBE. Spark-specific SHOW forms (DATABASES/FUNCTIONS/…)
# fall through to native.
_SHOW_TABLES_RE = re.compile(r"^\s*SHOW\s+(?:ALL\s+)?TABLES\s*;?\s*$", re.IGNORECASE)

_SHOW_TABLE_RE = re.compile(
    r"^\s*SHOW\s+(?!TABLES\b|DATABASES\b|SCHEMAS\b|VIEWS\b|FUNCTIONS\b"
    r"|COLUMNS\b|PARTITIONS\b|CREATE\b|TBLPROPERTIES\b|CATALOGS\b)"
    r"([A-Za-z_][\w.]*)\s*;?\s*$",
    re.IGNORECASE,
)

_CURRENT_SETTING_RE = re.compile(
    r"\bcurrent_setting\s*\(\s*'([^']*)'\s*\)", re.IGNORECASE
)



def _settings(spark: SparkSession) -> dict[str, str]:
    """Engine settings as current_setting() and duckdb_settings() show
    them: the defaults, overridden by SET (DialectState.settings)."""
    import os as _os

    return {
        "threads": str(_os.cpu_count() or 1),
        "memory_limit": "128GB",
        "access_mode": "read_only",
        "default_order": "asc",
        **dialect_state(spark).settings,
    }


def _resolve_current_setting(spark: SparkSession, sql: str) -> str:
    settings = _settings(spark)

    def sub(m):
        key = m.group(1).lower()
        val = settings.get(key)
        if val is None:
            raise ValueError(f"current_setting: unknown setting {key!r}")
        return val if re.fullmatch(r"-?\d+", val) else f"'{val}'"

    return _CURRENT_SETTING_RE.sub(sub, sql)



_META_TVF_RE = re.compile(
    r"\b(pragma_table_info\s*\(|duckdb_tables\s*\(\s*\)|"
    r"duckdb_columns\s*\(\s*\)|information_schema\s*\.\s*(?:tables|columns)|"
    r"parquet_schema\s*\(|parquet_metadata\s*\(|parquet_file_metadata\s*\(|"
    r"duckdb_indexes\s*\(\s*\)|duckdb_settings\s*\(\s*\)|"
    r"duckdb_databases\s*\(\s*\))",
    re.IGNORECASE,
)



def _resolve_meta_tvfs(spark: SparkSession, sql: str) -> str:
    """Metadata table functions / information_schema views → temp views
    built from the session catalog (DuckDB exposes its catalog this way;
    GUI clients and ORMs query them constantly)."""
    from pyspark.sql import types as T

    def tables_frame(info_schema: bool) -> DataFrame:
        if info_schema:
            schema = T.StructType([
                T.StructField("table_catalog", T.StringType(), True),
                T.StructField("table_schema", T.StringType(), True),
                T.StructField("table_name", T.StringType(), True),
                T.StructField("table_type", T.StringType(), True),
            ])
            rows = [("memory", "main", t.name, "VIEW")
                    for t in _catalog_tables(spark)]
        else:
            schema = T.StructType([
                T.StructField("database_name", T.StringType(), True),
                T.StructField("schema_name", T.StringType(), True),
                T.StructField("table_name", T.StringType(), True),
                T.StructField("temporary", T.BooleanType(), True),
                T.StructField("column_count", T.IntegerType(), True),
            ])
            rows = [
                ("memory", "main", t.name, True,
                 len(spark.table(t.name).schema.fields))
                for t in _catalog_tables(spark)
            ]
        return spark.createDataFrame(rows, schema)

    def columns_frame(info_schema: bool) -> DataFrame:
        rows = []
        for t in _catalog_tables(spark):
            for i, f in enumerate(spark.table(t.name).schema.fields):
                if info_schema:
                    rows.append(
                        ("memory", "main", t.name, f.name, i + 1,
                         _duck_type_name(f.dataType),
                         "YES" if f.nullable else "NO")
                    )
                else:
                    rows.append(
                        ("memory", "main", t.name, f.name, i,
                         _duck_type_name(f.dataType), f.nullable)
                    )
        if info_schema:
            schema = T.StructType([
                T.StructField("table_catalog", T.StringType(), True),
                T.StructField("table_schema", T.StringType(), True),
                T.StructField("table_name", T.StringType(), True),
                T.StructField("column_name", T.StringType(), True),
                T.StructField("ordinal_position", T.IntegerType(), True),
                T.StructField("data_type", T.StringType(), True),
                T.StructField("is_nullable", T.StringType(), True),
            ])
        else:
            schema = T.StructType([
                T.StructField("database_name", T.StringType(), True),
                T.StructField("schema_name", T.StringType(), True),
                T.StructField("table_name", T.StringType(), True),
                T.StructField("column_name", T.StringType(), True),
                T.StructField("column_index", T.IntegerType(), True),
                T.StructField("data_type", T.StringType(), True),
                T.StructField("is_nullable", T.BooleanType(), True),
            ])
        return spark.createDataFrame(rows, schema)

    def register(name: str, df: DataFrame) -> str:
        df.createOrReplaceTempView(name)
        _track_temp_view(spark, name)
        return name

    def _pq_files(pattern: str) -> list[str]:
        import glob as _glob

        return sorted(_glob.glob(pattern)) or [pattern]

    def parquet_file_metadata_frame(pattern: str) -> DataFrame:
        import pyarrow.parquet as _pq

        rows = []
        for f in _pq_files(pattern):
            md = _pq.ParquetFile(f).metadata
            rows.append((
                f, md.created_by, md.num_rows, md.num_row_groups,
                int(float(md.format_version)), None, None,
            ))
        return spark.createDataFrame(rows, T.StructType([
            T.StructField("file_name", T.StringType(), True),
            T.StructField("created_by", T.StringType(), True),
            T.StructField("num_rows", T.LongType(), True),
            T.StructField("num_row_groups", T.LongType(), True),
            T.StructField("format_version", T.LongType(), True),
            T.StructField("encryption_algorithm", T.StringType(), True),
            T.StructField("footer_signing_key_metadata", T.StringType(), True),
        ]))

    def parquet_schema_frame(pattern: str) -> DataFrame:
        import pyarrow.parquet as _pq

        rows = []
        for f in _pq_files(pattern):
            sch = _pq.ParquetFile(f).schema
            arrow = sch.to_arrow_schema()
            rows.append((
                f, "schema", None, None, "REQUIRED", len(arrow.names),
                None, None, None, None, None,
            ))
            for i in range(len(sch)):
                c = sch.column(i)
                rows.append((
                    f, c.name, c.physical_type, c.length or None,
                    "OPTIONAL" if c.max_definition_level > 0 else "REQUIRED",
                    None,
                    None if c.converted_type in (None, "NONE")
                    else str(c.converted_type),
                    c.scale or None, c.precision or None, None,
                    str(c.logical_type),
                ))
        return spark.createDataFrame(rows, T.StructType([
            T.StructField("file_name", T.StringType(), True),
            T.StructField("name", T.StringType(), True),
            T.StructField("type", T.StringType(), True),
            T.StructField("type_length", T.LongType(), True),
            T.StructField("repetition_type", T.StringType(), True),
            T.StructField("num_children", T.LongType(), True),
            T.StructField("converted_type", T.StringType(), True),
            T.StructField("scale", T.LongType(), True),
            T.StructField("precision", T.LongType(), True),
            T.StructField("field_id", T.LongType(), True),
            T.StructField("logical_type", T.StringType(), True),
        ]))

    def parquet_metadata_frame(pattern: str) -> DataFrame:
        import pyarrow.parquet as _pq

        rows = []
        for f in _pq_files(pattern):
            md = _pq.ParquetFile(f).metadata
            for i in range(md.num_row_groups):
                rg = md.row_group(i)
                for j in range(rg.num_columns):
                    c = rg.column(j)
                    st = c.statistics
                    has_mm = st is not None and st.has_min_max
                    rows.append((
                        f, i, rg.num_rows, rg.num_columns,
                        rg.total_byte_size, j, c.file_offset, c.num_values,
                        c.path_in_schema, c.physical_type,
                        str(st.min) if has_mm else None,
                        str(st.max) if has_mm else None,
                        st.null_count if st is not None else None,
                        (st.distinct_count or None) if st is not None else None,
                        str(st.min) if has_mm else None,
                        str(st.max) if has_mm else None,
                        c.compression,
                        ", ".join(c.encodings),
                        None, c.dictionary_page_offset, c.data_page_offset,
                        c.total_compressed_size, c.total_uncompressed_size,
                    ))
        return spark.createDataFrame(rows, T.StructType([
            T.StructField("file_name", T.StringType(), True),
            T.StructField("row_group_id", T.LongType(), True),
            T.StructField("row_group_num_rows", T.LongType(), True),
            T.StructField("row_group_num_columns", T.LongType(), True),
            T.StructField("row_group_bytes", T.LongType(), True),
            T.StructField("column_id", T.LongType(), True),
            T.StructField("file_offset", T.LongType(), True),
            T.StructField("num_values", T.LongType(), True),
            T.StructField("path_in_schema", T.StringType(), True),
            T.StructField("type", T.StringType(), True),
            T.StructField("stats_min", T.StringType(), True),
            T.StructField("stats_max", T.StringType(), True),
            T.StructField("stats_null_count", T.LongType(), True),
            T.StructField("stats_distinct_count", T.LongType(), True),
            T.StructField("stats_min_value", T.StringType(), True),
            T.StructField("stats_max_value", T.StringType(), True),
            T.StructField("compression", T.StringType(), True),
            T.StructField("encodings", T.StringType(), True),
            T.StructField("index_page_offset", T.LongType(), True),
            T.StructField("dictionary_page_offset", T.LongType(), True),
            T.StructField("data_page_offset", T.LongType(), True),
            T.StructField("total_compressed_size", T.LongType(), True),
            T.StructField("total_uncompressed_size", T.LongType(), True),
        ]))

    def indexes_frame() -> DataFrame:
        state = dialect_state(spark)
        rows = [
            ("memory", "main", ix, tbl, False, False, None)
            for ix, tbl in sorted(state.indexes.items())
        ]
        return spark.createDataFrame(rows, T.StructType([
            T.StructField("database_name", T.StringType(), True),
            T.StructField("schema_name", T.StringType(), True),
            T.StructField("index_name", T.StringType(), True),
            T.StructField("table_name", T.StringType(), True),
            T.StructField("is_unique", T.BooleanType(), True),
            T.StructField("is_primary", T.BooleanType(), True),
            T.StructField("sql", T.StringType(), True),
        ]))

    def settings_frame() -> DataFrame:
        rows = [
            (k, v, "", "VARCHAR", "GLOBAL")
            for k, v in sorted(_settings(spark).items())
        ]
        return spark.createDataFrame(rows, T.StructType([
            T.StructField("name", T.StringType(), True),
            T.StructField("value", T.StringType(), True),
            T.StructField("description", T.StringType(), True),
            T.StructField("input_type", T.StringType(), True),
            T.StructField("scope", T.StringType(), True),
        ]))

    def databases_frame() -> DataFrame:
        rows = [("memory", None, "duckdb")]
        for db in spark.catalog.listDatabases():
            if db.name != "default":
                rows.append((db.name, None, "duckdb"))
        return spark.createDataFrame(rows, T.StructType([
            T.StructField("database_name", T.StringType(), True),
            T.StructField("path", T.StringType(), True),
            T.StructField("type", T.StringType(), True),
        ]))

    for fn_name, builder in (
        ("parquet_file_metadata", parquet_file_metadata_frame),
        ("parquet_metadata", parquet_metadata_frame),
        ("parquet_schema", parquet_schema_frame),
    ):
        while m := re.search(rf"\b{fn_name}\s*\(", sql, re.IGNORECASE):
            close = _matching_paren(sql, m.end() - 1)
            arg = sql[m.end() : close].strip().strip("'\"")
            import hashlib as _hashlib

            view = register(
                f"__dd_{fn_name[:10]}_"
                + _hashlib.md5(arg.encode()).hexdigest()[:10],
                builder(arg),
            )
            sql = sql[: m.start()] + view + sql[close + 1 :]
    sql = re.sub(
        r"\bduckdb_indexes\s*\(\s*\)",
        lambda _m: register("__dd_meta_indexes", indexes_frame()),
        sql, flags=re.IGNORECASE,
    )
    sql = re.sub(
        r"\bduckdb_settings\s*\(\s*\)",
        lambda _m: register("__dd_meta_settings", settings_frame()),
        sql, flags=re.IGNORECASE,
    )
    sql = re.sub(
        r"\bduckdb_databases\s*\(\s*\)",
        lambda _m: register("__dd_meta_databases", databases_frame()),
        sql, flags=re.IGNORECASE,
    )
    while m := re.search(r"\bpragma_table_info\s*\(", sql, re.IGNORECASE):
        close = _matching_paren(sql, m.end() - 1)
        arg = sql[m.end() : close].strip().strip("'\"")
        view = register(
            f"__dd_ti_{re.sub(r'[^A-Za-z0-9_]', '_', arg)}",
            table_info_frame(spark, arg),
        )
        sql = sql[: m.start()] + view + sql[close + 1 :]
    sql = re.sub(
        r"\bduckdb_tables\s*\(\s*\)",
        lambda _m: register("__dd_meta_tables", tables_frame(False)),
        sql, flags=re.IGNORECASE,
    )
    sql = re.sub(
        r"\bduckdb_columns\s*\(\s*\)",
        lambda _m: register("__dd_meta_columns", columns_frame(False)),
        sql, flags=re.IGNORECASE,
    )
    sql = re.sub(
        r"\binformation_schema\s*\.\s*tables\b",
        lambda _m: register("__dd_is_tables", tables_frame(True)),
        sql, flags=re.IGNORECASE,
    )
    sql = re.sub(
        r"\binformation_schema\s*\.\s*columns\b",
        lambda _m: register("__dd_is_columns", columns_frame(True)),
        sql, flags=re.IGNORECASE,
    )
    return sql

_DESCRIBE_SELECT_RE = re.compile(
    r"^\s*DESC(?:RIBE)?\s+(SELECT\b.+?)\s*;?\s*$", re.IGNORECASE | re.DOTALL
)



def describe_frame(spark: SparkSession, df: DataFrame) -> DataFrame:
    """DuckDB ``DESCRIBE`` output shape: (column_name, column_type, null,
    key, default, extra) — schema metadata only, no data scan. ``null`` is
    'YES' and key/default/extra are NULL for every view/scan-backed
    relation, matching DuckDB over the same parquet."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField(c, T.StringType(), True)
            for c in ("column_name", "column_type", "null", "key", "default", "extra")
        ]
    )
    rows = [
        (f.name, _duck_type_name(f.dataType), "YES", None, None, None)
        for f in df.schema.fields
    ]
    return spark.createDataFrame(rows, schema)

_UNPIVOT_RE = re.compile(
    r"^\s*UNPIVOT\s+(\(.*?\)|[A-Za-z_][\w.]*)\s+ON\s+(.+?)\s+"
    r"INTO\s+NAME\s+([A-Za-z_]\w*)\s+VALUE\s+([A-Za-z_]\w*)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)



def _flatten_schemas(sql: str, schemas: set) -> str:
    """``schema.table`` → ``table`` for CREATE SCHEMA names, at relation
    positions only (FROM/JOIN/INTO/UPDATE/TABLE keywords), so a table
    ALIAS that happens to share a schema name keeps its column
    references untouched."""
    masked, table = _mask(sql)
    pat = re.compile(
        r"(\b(?:FROM|JOIN|INTO|UPDATE|TABLE)\s+)("
        + "|".join(re.escape(s) for s in sorted(schemas))
        + r")\.",
        re.IGNORECASE,
    )
    return _unmask(pat.sub(lambda m: m.group(1), masked), table)



# Analysis failing on a ``dd_*`` shim means the session skipped
# ``session.bootstrap``'s function registration.
_MISSING_SHIM_RE = re.compile(r"UNRESOLVED_ROUTINE\].*?`dd_\w+`")


def run_sql(spark: SparkSession, sql: str) -> DataFrame:
    """Execute SQL, accepting both Spark and DuckDB dialect. Native Spark
    SQL takes the first path untouched (analysis is forced via ``.schema``
    so unresolved DuckDB names surface here, not at action time); on
    parse/analysis failure the DuckDB rewrite is applied and retried. If
    the rewrite is a no-op the original error propagates. The DuckDB
    ``SUMMARIZE t`` statement routes to the one-pass sketch aggregate
    (engine.summarize_frame)."""
    if m := _SUMMARIZE_RE.match(sql):
        from duckdb_server_spark.engine import summarize_frame

        return summarize_frame(spark, m.group(1))
    if m := _EXECUTE_RE.match(sql):
        # EXECUTE of a PREPAREd statement (prepared via the init script /
        # run_script; execution itself is an ordinary read-only query)
        return _run_execute(spark, m)
    if m := _DESCRIBE_RE.match(sql):
        return describe_frame(spark, spark.table(m.group(1)))
    if m := _DESCRIBE_SELECT_RE.match(sql):
        return describe_frame(spark, run_sql(spark, m.group(1)))
    if _SHOW_TABLES_RE.match(sql):
        return show_tables_frame(spark)
    if m := _SHOW_TABLE_RE.match(sql):
        return describe_frame(spark, spark.table(m.group(1)))
    if m := _PIVOT_RE.match(sql):
        return _run_pivot(spark, m)
    if m := _UNPIVOT_RE.match(sql):
        # DuckDB `UNPIVOT t ON c1, c2 INTO NAME k VALUE v` → Spark's
        # native UNPIVOT clause (same semantics, different spelling).
        tbl, cols, name_col, val_col = m.groups()
        return run_sql(
            spark,
            f"SELECT * FROM {tbl} UNPIVOT ({val_col} FOR {name_col} "
            f"IN ({cols}))",
        )
    state = dialect_state(spark)
    if state.macros:
        sql = _expand_macros(sql, state.macros)
    if state.sequences and _SEQVAL_HINT_RE.search(sql):
        from duckdb_server_spark import ddl

        return ddl.run_sequence_query(spark, state, sql)
    if state.enums:
        from duckdb_server_spark import ddl

        sql = ddl.resolve_enums(spark, state, sql)
    if state.schemas:
        sql = _flatten_schemas(sql, state.schemas)
    if _FILE_READ_HINT_RE.search(sql):
        sql = _resolve_file_reads(spark, sql)
    if _META_TVF_RE.search(sql):
        sql = _resolve_meta_tvfs(spark, sql)
    if _CURRENT_SETTING_RE.search(sql):
        sql = _resolve_current_setting(spark, sql)
    if _COLUMNS_FN_RE.search(sql):
        sql = _expand_columns_fn(spark, sql)
    if _UNION_BY_NAME_RE.search(sql):
        sql = _resolve_union_by_name(spark, sql)
    if re.search(r"\(\s*PIVOT\b", sql, re.IGNORECASE):
        sql = _resolve_embedded_pivots(spark, sql)
    if _EMBEDDED_DESCRIBE_RE.search(sql):
        sql = _resolve_embedded_describes(spark, sql)
    if _duckdb_first(state):
        # DuckDB-first mode — the Flight serving default (wrapped per
        # request via serving_dialect) and the ``SET dialect='duckdb'``
        # opt-in for embedded sessions: rewrite FIRST, so SQL that is
        # valid in both dialects with different semantics (2-arg
        # ltrim/rtrim argument order, 1-based subscripts) gets DuckDB
        # semantics instead of Spark's. Embedded native-Spark sessions
        # never pay this — the default path below tries spark.sql
        # untouched.
        if em := re.match(
            r"\s*EXPLAIN\s+(ANALYZE\s+)?(.*)$", sql, re.IGNORECASE | re.DOTALL
        ):
            # DuckDB's EXPLAIN shape: (explain_key, explain_value) rows.
            # The plan text is this engine's (Catalyst), which is the
            # honest answer to "explain this query" here.
            inner_df = run_sql(spark, em.group(2))
            key = "analyzed_plan" if em.group(1) else "physical_plan"
            plan = inner_df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
            import pyspark.sql.types as T

            schema = T.StructType(
                [
                    T.StructField("explain_key", T.StringType()),
                    T.StructField("explain_value", T.StringType()),
                ]
            )
            return spark.createDataFrame([(key, plan)], schema)
        try:
            text = rewrite(sql, spark, duckdb_first=True)
            try:
                df = spark.sql(text)
            except AnalysisException as exc:
                # a string column's list cast: only the analyzer knows
                # the operand's type, so retry what it rejects once
                if (text := json_list_casts(text, exc)) is None:
                    raise
                df = spark.sql(text)
            df.schema
            return df
        except DialectError:
            raise  # native fallback would run different semantics
        except Exception as exc:
            if _MISSING_SHIM_RE.search(str(exc)):
                raise  # an unregistered dd_* shim is a bug, not Spark input
            # fall through: maybe it was Spark-dialect input
    try:
        df = spark.sql(sql)
        df.schema  # force analysis
        return df
    except DialectError:
        raise  # e.g. a read-only gate denial: no other spelling may run
    except Exception as first_err:  # ParseException / AnalysisException
        if _RECURSIVE_RE.match(sql):
            # native recursive CTE failed (UNION-distinct form) → the
            # fixpoint route
            return _run_recursive_cte(spark, sql)
        try:
            rewritten = rewrite(sql, spark)
        except ValueError:
            raise first_err from None
        if " ".join(rewritten.split()) == " ".join(sql.split()):
            raise
        df = spark.sql(rewritten)
        df.schema
        return df

