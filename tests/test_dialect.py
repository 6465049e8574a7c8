"""DuckDB-dialect acceptance layer (dialect.py).

Pure string-rewrite tests run without Spark; execution tests share the
session fixture. The differential (byte-identical SQL on both engines)
lives in the declared queries s18/s18b/s18c.
"""

from __future__ import annotations

import re

import pytest

from duckdb_server_spark.dialect import (
    dialect_state,
    register_dialect_functions,
    rewrite,
    run_script,
    run_sql,
    serving_dialect,
    split_statements,
)
from duckdb_server_spark.dialect_rewrites.core import DUCK_TYPES, STORAGE_TYPES

SF_DIR = "/root/testdata/sf0.001"


# --- pure rewrite tests (no Spark) -----------------------------------------


def test_exclude_paren_and_bare():
    assert rewrite("SELECT * EXCLUDE (a, b) FROM t") == "SELECT * EXCEPT (a, b) FROM t"
    assert rewrite("SELECT * EXCLUDE a FROM t") == "SELECT * EXCEPT (a) FROM t"


def test_exclude_frame_rewrites_algebraically():
    q = "sum(x) OVER (ORDER BY y ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING EXCLUDE CURRENT ROW)"
    out = rewrite("SELECT " + q + " FROM t")
    # frame sum minus the current row's contribution, NULL when no
    # non-null arguments remain (exact bookkeeping, fuzz-verified)
    assert "EXCLUDE" not in out
    assert "- coalesce((x), 0)" in out and "CASE WHEN" in out
    out = rewrite(
        "SELECT sum(x) OVER (PARTITION BY p ORDER BY y EXCLUDE TIES) FROM t"
    )
    assert "PARTITION BY p, y" in out and "EXCLUDE" not in out
    # NO OTHERS is the default and simply drops
    out = rewrite("SELECT sum(x) OVER (ORDER BY y EXCLUDE NO OTHERS) FROM t")
    # round 12: unannotated ASC keys gain DuckDB's NULLS LAST default
    assert out == "SELECT sum(x) OVER (ORDER BY y NULLS LAST ) FROM t"


def test_star_replace():
    out = rewrite("SELECT * REPLACE (upper(a) AS a) FROM t")
    assert out == "SELECT * EXCEPT (a), upper(a) AS a FROM t"


def test_star_exclude_then_replace_merges():
    out = rewrite("SELECT * EXCLUDE (b) REPLACE (upper(a) AS a) FROM t")
    assert out == "SELECT * EXCEPT (b, a), upper(a) AS a FROM t"


def test_function_renames():
    out = rewrite("SELECT quantile_cont(x, 0.5), regexp_matches(s, 'a'), trunc(x) FROM t")
    assert "percentile(x, 0.5)" in out
    assert "regexp_like(s, 'a')" in out
    assert "dd_trunc(x)" in out


def test_rename_skips_string_literals():
    out = rewrite("SELECT 'trunc(x) EXCLUDE (a)' AS s FROM t")
    assert "'trunc(x) EXCLUDE (a)'" in out


def test_double_quoted_identifiers_become_backticks():
    assert rewrite('SELECT "my col" FROM "my table"') == "SELECT `my col` FROM `my table`"


def test_list_literal_to_array():
    assert rewrite("SELECT [1, 2, 3]") == "SELECT array(1, 2, 3)"
    # indexing brackets are NOT literals: DuckDB 1-based → try_element_at
    assert rewrite("SELECT l[1] FROM t") == "SELECT try_element_at(l, 1) FROM t"


def test_subscripts_become_try_element_at():
    # 1-based + NULL-out-of-range == try_element_at exactly; map string
    # keys ride along; expression indices get the INT cast Spark wants
    assert (
        rewrite("SELECT p[1] * p[2] FROM t")
        == "SELECT try_element_at(p, 1) * try_element_at(p, 2) FROM t"
    )
    assert rewrite("SELECT m['k'] FROM t") == "SELECT try_element_at(m, 'k') FROM t"
    # runtime-0 index must read NULL (DuckDB) rather than error (Spark)
    assert (
        rewrite("SELECT w[i + 1] FROM t")
        == "SELECT try_element_at(w, nullif(CAST(i + 1 AS INT), 0)) FROM t"
    )
    assert "CAST(NULL AS INT)" in rewrite("SELECT w[0] FROM t")
    # round 12: slice bounds normalize (negative/zero starts clamp)
    assert rewrite("SELECT e[2:4] FROM t").startswith("SELECT slice(e, greatest(1,")


def test_list_aggregate():
    # round 12: literal numeric lists fold exactly at rewrite time
    # (DECIMAL domain); non-literal lists keep the element-typed
    # aggregate with SQL NULL semantics
    out = rewrite("SELECT list_aggregate([1.0, 2.0], 'sum')")
    assert "CAST(3.0 AS DECIMAL(38,1))" in out
    out = rewrite("SELECT list_aggregate(x, 'sum') FROM t")
    assert "aggregate(filter(x" in out and "IS NOT NULL" in out


def test_glob_operator():
    out = rewrite("SELECT * FROM t WHERE name GLOB 'a*b?'")
    assert "RLIKE '^a.*b.$'" in out


def test_string_split_expands_to_quoted_split():
    out = rewrite("SELECT string_split(s, '#') FROM t")
    assert out == "SELECT split(s, concat('\\\\Q', '#', '\\\\E')) FROM t"


def test_qualify_wraps_and_strips_tail_qualifiers():
    out = rewrite(
        "SELECT a, row_number() OVER (ORDER BY b) AS rn FROM t QUALIFY rn = 1 ORDER BY t.a"
    )
    assert out.startswith("SELECT * EXCEPT (__dss_qualify) FROM (")
    assert "WHERE __dss_qualify" in out
    assert out.rstrip().endswith("ORDER BY a NULLS LAST")


def test_asof_backward_rewrite_shape():
    out = rewrite(
        "SELECT e.x, o.y FROM e ASOF JOIN o ON e.k = o.k AND e.ts >= o.ts"
    )
    assert "LEAD(__r.ts) OVER (PARTITION BY k ORDER BY __r.ts NULLS LAST )" in out
    assert "__asof_bound > e.ts" in out or "__asof_bound IS NULL" in out
    assert "ASOF" not in out


def test_asof_left_and_forward():
    out = rewrite("SELECT 1 FROM e ASOF LEFT JOIN o ON e.k = o.k AND e.ts <= o.ts")
    assert "LEFT JOIN" in out
    assert "LAG(__r.ts)" in out


def test_spark_sql_passes_through_unchanged():
    q = "SELECT transform(a, x -> x + 1) FROM t GROUP BY ALL"
    assert rewrite(q) == q


def test_split_statements_respects_literals():
    stmts = split_statements("SET a='x;y'; SELECT 1;")
    assert stmts == ["SET a='x;y'", "SELECT 1"]


# --- execution tests -------------------------------------------------------


@pytest.fixture(scope="module")
def sql_session(spark):
    from duckdb_server_spark.session import register_views

    register_dialect_functions(spark)
    register_views(spark, SF_DIR, ("orders", "events"))
    return spark


def test_run_sql_native_fast_path(sql_session):
    df = run_sql(sql_session, "SELECT count(*) AS n FROM orders")
    assert df.collect()[0].n > 0


def test_run_sql_dialect_fallback(sql_session):
    df = run_sql(sql_session, "SELECT * EXCLUDE (o_orderdate) FROM orders LIMIT 1")
    assert "o_orderdate" not in df.columns


def test_run_sql_bad_sql_raises_original(sql_session):
    with pytest.raises(Exception):
        run_sql(sql_session, "SELECT definitely_not_a_column FROM orders")


def test_dd_trunc_semantics(sql_session):
    row = sql_session.sql(
        "SELECT dd_trunc(-3.77) AS a, dd_trunc(3.77) AS b, dd_trunc(-3.77, 1) AS c"
    ).collect()[0]
    assert (row.a, row.b, row.c) == (-3.0, 3.0, -3.7)


def test_reference_init_script_state(sql_session):
    run_script(
        sql_session,
        """
        SET secret_directory='/tmp/x';
        INSTALL httpfs;
        LOAD httpfs;
        CREATE VIEW dialect_smoke AS (SELECT 42 AS answer);
        """,
    )
    st = dialect_state(sql_session)
    assert st.settings["secret_directory"] == "/tmp/x"
    assert "httpfs" in st.loaded
    assert sql_session.table("dialect_smoke").collect()[0].answer == 42


def test_s3_secret_maps_to_hadoop_conf(sql_session):
    run_script(
        sql_session,
        """CREATE PERSISTENT SECRET (
               TYPE s3, KEY_ID 'k', SECRET 's',
               ENDPOINT 'localhost:7070', USE_SSL false, URL_STYLE 'path'
           );""",
    )
    hconf = sql_session.sparkContext._jsc.hadoopConfiguration()
    assert hconf.get("fs.s3a.access.key") == "k"
    assert hconf.get("fs.s3a.path.style.access") == "true"


def test_flight_server_accepts_duckdb_dialect(sql_session):
    """End-to-end serving-path parity: raw DuckDB SQL through Flight."""
    from duckdb_server_spark.server import resolve_query_frame

    df = resolve_query_frame(
        sql_session, "SELECT * EXCLUDE (o_orderdate) FROM orders LIMIT 1"
    )
    assert "o_orderdate" not in df.columns and "o_orderkey" in df.columns
    # read-only gate still applies to dialect input
    import pyarrow.flight as flight

    with pytest.raises(flight.FlightServerError, match="read-only server"):
        resolve_query_frame(sql_session, "DROP TABLE orders")
    assert sql_session.catalog.tableExists("orders")


def test_division_dividend_spans_multiplicative_run():
    """DuckDB evaluates ``*``, ``%`` and ``/`` left to right, so the
    dividend of ``a * b / c`` is ``a * b``; a binary ``-`` ends the run."""
    out = rewrite("SELECT a * b / c, x - y * z / w FROM t", duckdb_first=True)
    assert out == (
        "SELECT try_divide(CAST(a * b AS DOUBLE), c), "
        "x - try_divide(CAST(y * z AS DOUBLE), w) FROM t"
    )
    out = rewrite("SELECT a % b / c FROM t", duckdb_first=True)
    assert out == "SELECT try_divide(CAST(try_mod(a, b) AS DOUBLE), c) FROM t"


@pytest.mark.parametrize("sql", ["SELECT 1 AS varchar", "SELECT x AS hugeint"])
def test_type_named_aliases_are_not_cast_targets(sql):
    assert rewrite(sql, duckdb_first=True) == sql


_LITERAL_TEXT = {"BOOLEAN": "true", "DATE": "2020-01-01",
                 "TIMESTAMP": "2020-01-01 00:00:00"}


@pytest.mark.parametrize("name", sorted(DUCK_TYPES))
def test_type_name_means_one_spark_type(sql_session, name):
    """Casts (both spellings), typed literals and ALTER COLUMN TYPE take
    the shared map's Spark type; CREATE TABLE takes its storage spelling."""
    def dtype(spark_type):
        return sql_session.sql(
            f"SELECT CAST(NULL AS {spark_type}) AS c").schema["c"].dataType

    want = DUCK_TYPES[name]
    lit = _LITERAL_TEXT.get(want, "1")
    with serving_dialect():
        for sql in (f"SELECT CAST(NULL AS {name}) AS c",
                    f"SELECT NULL::{name} AS c",
                    f"SELECT {name} '{lit}' AS c"):
            got = run_sql(sql_session, sql).schema["c"].dataType
            assert got == dtype(want), sql
    t = "tn_" + re.sub(r"\W", "_", name.lower())
    run_script(sql_session, f"""
        CREATE TABLE {t}_alter AS SELECT CAST(NULL AS STRING) AS c;
        ALTER TABLE {t}_alter ALTER COLUMN c TYPE {name};
        CREATE TABLE {t}_stored (c {name});
    """)
    assert sql_session.table(f"{t}_alter").schema["c"].dataType == dtype(want)
    assert (sql_session.table(f"{t}_stored").schema["c"].dataType
            == dtype(STORAGE_TYPES[name]))


def test_typeof_matches_describe(sql_session):
    """typeof() and DESCRIBE spell every scalar warehouse column alike."""
    from duckdb_server_spark.session import TABLES, register_views

    register_views(sql_session, SF_DIR)
    for table in TABLES:
        described = {
            r.column_name: r.column_type
            for r in run_sql(sql_session, f"DESCRIBE {table}").collect()
            if not re.search(r"\[|STRUCT|MAP", r.column_type)
        }
        cols = ", ".join(f"typeof({c}) AS {c}" for c in described)
        with serving_dialect():
            row = run_sql(sql_session, f"SELECT {cols} FROM {table} LIMIT 1")
            assert row.collect()[0].asDict() == described, table


def test_regexp_replace_flag_shim():
    out = rewrite("SELECT regexp_replace(s, '[0-9]', '', 'g') FROM t")
    assert out == "SELECT regexp_replace(s, '[0-9]', '') FROM t"
    out = rewrite("SELECT regexp_replace(s, 'a', 'b', 'gi') FROM t")
    assert "'(?i)a'" in out
    # non-global forms route to the first-match-only shim (battery 34 —
    # DuckDB replaces only the first match without 'g')
    out = rewrite("SELECT regexp_replace(s, 'a', 'b', 'i') FROM t")
    assert "dd_regexp_replace_first" in out and "'(?i)a'" in out
    out = rewrite("SELECT regexp_replace(s, 'a', 'b') FROM t")
    assert "dd_regexp_replace_first" in out


def test_summarize_statement_routes(sql_session):
    df = run_sql(sql_session, "SUMMARIZE orders")
    rows = {r.column_name: r for r in df.collect()}
    assert "o_totalprice" in rows
    assert rows["o_totalprice"].approx_unique > 0


def test_create_table_as_routes_to_materialized_view(sql_session):
    run_script(
        sql_session,
        "CREATE TABLE init_tbl AS SELECT o_orderstatus, count(*) AS n "
        "FROM orders GROUP BY ALL;",
    )
    rows = sql_session.table("init_tbl").collect()
    assert len(rows) >= 2 and all(r.n > 0 for r in rows)


def test_pivot_statement(sql_session):
    df = run_sql(
        sql_session,
        "PIVOT orders ON o_orderstatus USING count(*) GROUP BY o_orderpriority",
    )
    assert "o_orderpriority" in df.columns and len(df.columns) >= 3
    assert df.count() == 5


def test_unpivot_statement(sql_session):
    df = run_sql(
        sql_session,
        "UNPIVOT (SELECT o_orderkey, o_totalprice AS a, o_totalprice * 2 AS b "
        "FROM orders LIMIT 3) ON a, b INTO NAME k VALUE v",
    )
    rows = df.collect()
    assert len(rows) == 6
    assert {r.k for r in rows} == {"a", "b"}


def test_copy_to_statement(sql_session, tmp_path):
    out = str(tmp_path / "copy_out.parquet")
    run_script(
        sql_session,
        f"COPY (SELECT o_orderkey, o_totalprice FROM orders "
        f"WHERE o_orderkey < 32) TO '{out}' (FORMAT PARQUET);",
    )
    back = sql_session.read.parquet(out)
    assert back.count() > 0 and set(back.columns) == {"o_orderkey", "o_totalprice"}

    out_csv = str(tmp_path / "copy_out.csv")
    run_script(sql_session, f"COPY orders TO '{out_csv}' (FORMAT CSV, HEADER);")
    csv_back = sql_session.read.option("header", "true").csv(out_csv)
    assert "o_orderkey" in csv_back.columns


# --- file-reading table functions (read_parquet / bare-path FROM) ----------


def test_read_parquet_function(sql_session):
    df = run_sql(
        sql_session,
        f"SELECT count(*) AS n FROM read_parquet('{SF_DIR}/nation.parquet')",
    )
    assert df.collect()[0].n == 25


def test_read_parquet_glob_and_list(sql_session):
    glob = run_sql(
        sql_session,
        f"SELECT count(*) AS n FROM read_parquet('{SF_DIR}/natio*.parquet')",
    ).collect()[0].n
    listed = run_sql(
        sql_session,
        f"SELECT count(*) AS n FROM read_parquet(['{SF_DIR}/nation.parquet'])",
    ).collect()[0].n
    assert glob == listed == 25


def test_bare_path_from(sql_session):
    df = run_sql(
        sql_session,
        f"SELECT r_name FROM '{SF_DIR}/region.parquet' ORDER BY r_name",
    )
    assert [r.r_name for r in df.collect()][0] == "AFRICA"


def test_read_csv_with_options(sql_session, tmp_path):
    p = tmp_path / "t.csv"
    p.write_text("a|b\n1|x\n2|y\n")
    df = run_sql(
        sql_session,
        f"SELECT sum(a) AS s, count(b) AS n FROM read_csv('{p}', delim='|', header=true)",
    )
    row = df.collect()[0]
    assert (row.s, row.n) == (3, 2)


def test_read_json_ndjson(sql_session, tmp_path):
    p = tmp_path / "t.jsonl"
    p.write_text('{"a": 1}\n{"a": 2}\n')
    df = run_sql(sql_session, f"SELECT sum(a) AS s FROM read_json_auto('{p}')")
    assert df.collect()[0].s == 3


def test_read_filename_option(sql_session):
    df = run_sql(
        sql_session,
        f"SELECT DISTINCT filename FROM read_parquet('{SF_DIR}/region.parquet', filename=true)",
    )
    rows = df.collect()
    assert len(rows) == 1 and rows[0].filename.endswith("region.parquet")


def test_read_literal_not_in_from_untouched(sql_session):
    # a path-looking literal outside FROM/JOIN position must stay a string
    df = run_sql(sql_session, "SELECT 'x.parquet' AS s")
    assert df.collect()[0].s == "x.parquet"


# --- DESCRIBE ---------------------------------------------------------------


def test_describe_table(sql_session):
    rows = run_sql(sql_session, "DESCRIBE orders").collect()
    byname = {r.column_name: r.column_type for r in rows}
    assert byname["o_orderkey"] == "BIGINT"
    assert byname["o_orderpriority"] == "VARCHAR"
    assert byname["o_totalprice"] == "DOUBLE"
    assert all(r["null"] == "YES" and r.key is None for r in rows)


def test_describe_select(sql_session):
    rows = run_sql(
        sql_session,
        "DESCRIBE SELECT o_orderkey, o_totalprice * 2 AS dbl FROM orders",
    ).collect()
    assert [(r.column_name, r.column_type) for r in rows] == [
        ("o_orderkey", "BIGINT"),
        ("dbl", "DOUBLE"),
    ]


# --- CREATE MACRO ------------------------------------------------------------


def test_macro_scalar_and_nested(sql_session):
    run_script(
        sql_session,
        "CREATE MACRO add_one(x) AS x + 1;"
        "CREATE MACRO add_two(x) AS add_one(add_one(x));",
    )
    assert run_sql(sql_session, "SELECT add_two(40) AS v").collect()[0].v == 42


def test_macro_default_param(sql_session):
    run_script(
        sql_session, "CREATE MACRO scaled(x, k := 10) AS x * k;"
    )
    assert run_sql(sql_session, "SELECT scaled(4) AS v").collect()[0].v == 40
    assert run_sql(sql_session, "SELECT scaled(4, k := 3) AS v").collect()[0].v == 12


def test_macro_table_form(sql_session):
    run_script(
        sql_session,
        "CREATE MACRO top_orders(k) AS TABLE "
        "SELECT o_orderkey FROM orders ORDER BY o_totalprice DESC LIMIT k;",
    )
    assert len(run_sql(sql_session, "SELECT * FROM top_orders(3)").collect()) == 3


def test_macro_param_not_substituted_in_literals(sql_session):
    run_script(sql_session, "CREATE MACRO tag(x) AS concat('x=', CAST(x AS STRING));")
    assert run_sql(sql_session, "SELECT tag(7) AS v").collect()[0].v == "x=7"


def test_drop_macro(sql_session):
    run_script(sql_session, "CREATE MACRO doomed(x) AS x; DROP MACRO doomed;")
    assert "doomed" not in dialect_state(sql_session).macros


def test_spark_create_function_not_swallowed(sql_session):
    run_script(
        sql_session,
        "CREATE OR REPLACE TEMPORARY FUNCTION sq(x INT) RETURNS INT RETURN x * x;",
    )
    assert run_sql(sql_session, "SELECT sq(9) AS v").collect()[0].v == 81


# --- INSERT INTO / DROP ------------------------------------------------------


def test_insert_into_values_and_select(sql_session):
    run_script(
        sql_session,
        "CREATE TABLE ins_t AS SELECT 1 AS a, 'x' AS b;"
        "INSERT INTO ins_t VALUES (2, 'y'), (3, 'z');"
        "INSERT INTO ins_t SELECT 4, 'w';",
    )
    rows = sorted((r.a, r.b) for r in sql_session.table("ins_t").collect())
    assert rows == [(1, "x"), (2, "y"), (3, "z"), (4, "w")]
    run_script(sql_session, "DROP TABLE ins_t;")
    assert not sql_session.catalog.tableExists("ins_t")


def test_insert_with_column_list_fills_nulls(sql_session):
    run_script(
        sql_session,
        "CREATE TABLE ins_c AS SELECT 1 AS a, 'x' AS b;"
        "INSERT INTO ins_c (a) VALUES (9);",
    )
    rows = {(r.a, r.b) for r in sql_session.table("ins_c").collect()}
    assert rows == {(1, "x"), (9, None)}
    run_script(sql_session, "DROP TABLE IF EXISTS ins_c;")


def test_drop_missing_without_if_exists_raises(sql_session):
    with pytest.raises(ValueError, match="does not exist"):
        run_script(sql_session, "DROP VIEW no_such_view_xyz;")


# --- verbatim-oracle parity (the serving-path contract) ---------------------
#
# The catalog's ORACLE strings are genuine DuckDB SQL. A representative
# subset — chosen to exercise every structural rewrite added for the
# verbatim sweep (subscripts, range/generate_series, len dispatch,
# backslash literals, ordered aggregates, struct/map, lateral VALUES,
# strftime/datediff, embedded PIVOT, UNION BY NAME, hex casts) — must run
# byte-identically through run_sql and match DuckDB.
# tools/dialect_coverage.py sweeps the full corpus (198/204).

_VERBATIM_NAMES = [
    "j09_lateral_explode",      # unnest in select list
    "b43_token_topk",           # \s+ literal escaping + unnest
    "b21_lang_id",              # len dispatch on lambda filters
    "b49_repetition_filter",    # expression subscripts, range()
    "b59_rag_chunks",           # 3-arg stepped range, list_slice
    "b60_kmeans_train",         # list(v ORDER BY j), list_zip subscripts
    "b04_simhash",              # '0x' hex cast
    "a10_collect_aggs",         # string_agg ORDER BY → listagg
    "a14_distinct_on",          # DISTINCT ON
    "a18_pivot_dynamic",        # embedded PIVOT
    "a21_retention_cohorts",    # strftime + quoted datediff unit
    "u04_union_by_name",        # UNION ALL BY NAME
    "fn_struct_map",            # struct_pack := / map() / map_extract
    "fn_datetime_extract",      # week()
    "fn_array_core",            # [1:8] slice, len(embedding)
    "fn_regexp_extract_all",    # group-0 default
    "s17_time_series_gapfill",  # generate_series timestamps
    "s07b_range_series",        # range table function column name
    "fn_udtf_lateral",          # comma-lateral range(1,6) i
    "w10_window_filter",        # FILTER on a window aggregate
    "p15_columns_regex",        # COLUMNS('re') expansion
    "b11b_lsh_multiprobe",      # xor(), lateral VALUES, hyperplanes
    "w07b_exclude_frames",      # EXCLUDE CURRENT ROW / TIES algebra
    "q2_transitive_closure",    # WITH RECURSIVE UNION-distinct fixpoint
    "b14_label_centroids",      # generate_subscripts+unnest → posexplode
]


@pytest.fixture(scope="module")
def verbatim_ctx(spark):
    import duckdb

    from duckdb_server_spark import catalog
    from duckdb_server_spark.session import register_views

    catalog.load_all()
    register_dialect_functions(spark)
    register_views(spark, SF_DIR)
    con = duckdb.connect()
    import os

    for t in ("region nation customer supplier part orders lineitem "
              "events documents embeddings").split():
        p = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')"
            )
    return catalog.ORACLE, con


def _vcanon(rows):
    def cell(v):
        if isinstance(v, float):
            return round(v, 6)
        if isinstance(v, list):
            return tuple(cell(x) for x in v)
        return v

    return sorted([tuple(cell(c) for c in r) for r in rows], key=repr)


@pytest.mark.parametrize("name", _VERBATIM_NAMES)
def test_verbatim_oracle_parity(name, spark, verbatim_ctx):
    oracle, con = verbatim_ctx
    sql = oracle[name]
    assert _vcanon(run_sql(spark, sql).collect()) == _vcanon(
        con.execute(sql).fetchall()
    )


# Rows that only match under the DuckDB-first SERVING mode (the Flight
# wire default): libm-exact numeric shims, DuckDB round/division typing,
# 2-arg trim argument order, and the mixed plain+recursive CTE route.
_SERVING_VERBATIM_NAMES = [
    "fn_trig",             # dd_libm_* shims + bit-exact round
    "fn_numeric_core",     # degrees/radians consts, double division
    "fn_string_declared",  # 2-arg ltrim/rtrim argument order
    "b58_fuzzy_dedup_e2e", # leading plain CTEs before the recursive one
    "b33b_audio_decode",   # integer sample replay incl. zero crossings
]


@pytest.mark.parametrize("name", _SERVING_VERBATIM_NAMES)
def test_serving_verbatim_oracle_parity(name, spark, verbatim_ctx):
    from duckdb_server_spark.dialect import serving_dialect

    oracle, con = verbatim_ctx
    sql = oracle[name]
    with serving_dialect():
        srows = run_sql(spark, sql).collect()
    assert _vcanon(srows) == _vcanon(con.execute(sql).fetchall())


def test_copy_from_statement(sql_session, tmp_path):
    p = tmp_path / "seed.csv"
    p.write_text("a,b\n1,x\n2,y\n")
    run_script(
        sql_session,
        f"CREATE TABLE cf_t AS SELECT 0 AS a, 'z' AS b;"
        f"COPY cf_t FROM '{p}' (FORMAT CSV, HEADER);",
    )
    rows = sorted((r.a, r.b) for r in sql_session.table("cf_t").collect())
    assert rows == [(0, "z"), (1, "x"), (2, "y")]
    run_script(sql_session, "DROP TABLE cf_t;")


def test_forced_duckdb_dialect_mode(sql_session):
    from duckdb_server_spark.dialect import dialect_state

    st = dialect_state(sql_session)
    # ambiguous-valid SQL: 2-arg ltrim is (string, chars) in DuckDB but
    # (chars, string) in Spark — only the forced mode gives DuckDB's answer
    sql = "SELECT ltrim('xxhello', 'x') AS v"
    assert run_sql(sql_session, sql).collect()[0].v == ""  # Spark semantics
    run_script(sql_session, "SET dialect='duckdb';")
    try:
        assert run_sql(sql_session, sql).collect()[0].v == "hello"
        # 1-based subscripts too
        assert run_sql(sql_session, "SELECT ([10, 20])[1] AS v").collect()[0].v == 10
        # plain Spark SQL still executes in forced mode
        assert run_sql(sql_session, "SELECT 1 AS one").collect()[0].one == 1
    finally:
        st.settings.pop("dialect", None)


def test_prepare_execute_deallocate(sql_session):
    run_script(
        sql_session,
        "PREPARE topq AS SELECT count(*) AS n FROM orders "
        "WHERE o_totalprice > $1 AND o_orderstatus = $2;",
    )
    n1 = run_sql(sql_session, "EXECUTE topq(100000, 'F')").collect()[0].n
    n2 = run_sql(sql_session, "EXECUTE topq(0, 'F')").collect()[0].n
    direct = run_sql(
        sql_session,
        "SELECT count(*) AS n FROM orders WHERE o_totalprice > 100000 "
        "AND o_orderstatus = 'F'",
    ).collect()[0].n
    assert n1 == direct and n2 >= n1
    run_script(sql_session, "DEALLOCATE topq;")
    with pytest.raises(ValueError, match="no prepared statement"):
        run_sql(sql_session, "EXECUTE topq(1, 'F')")


def test_recursive_cte_with_trailing_cte(sql_session):
    df = run_sql(
        sql_session,
        "WITH RECURSIVE seq(n) AS ("
        " SELECT 1 UNION SELECT n + 1 FROM seq WHERE n < 5), "
        "doubles AS (SELECT n * 2 AS d FROM seq) "
        "SELECT sum(d) AS s FROM doubles",
    )
    assert df.collect()[0].s == 30


# --- code-review regression pins -------------------------------------------


def test_macro_argument_not_captured_by_later_param(sql_session):
    """add1(y, 1) with params (x, y): the column y passed as the FIRST
    argument must not be rewritten to the second parameter's value
    (simultaneous, not sequential, substitution)."""
    run_script(
        sql_session,
        "CREATE OR REPLACE MACRO add_pair(x, y) AS x + y;"
        "CREATE TABLE mac_t AS SELECT 10 AS y;",
    )
    try:
        assert run_sql(sql_session, "SELECT add_pair(y, 1) AS v FROM mac_t").collect()[0].v == 11
    finally:
        run_script(sql_session, "DROP TABLE mac_t; DROP MACRO add_pair;")


def test_date_part_keeps_quoted_unit():
    # date_diff expands to the boundary-crossing expression (DuckDB
    # counts unit boundaries, not complete units — test_r8_dialect_b9)
    out = rewrite("SELECT date_part('year', d), date_diff('day', a, b) FROM t")
    assert "date_part('year', d)" in out
    assert "datediff(CAST(b AS DATE), CAST(a AS DATE))" in out


def test_strftime_literal_runs_stay_words():
    # one quoted java run, SQL-escaped - per-char quoting would
    # corrupt the pattern to y'e'a'r
    out = rewrite("SELECT strftime(d, '%Y year') FROM t")
    assert "date_format(d, 'yyyy ''year''')" in out


def test_union_by_name_sees_shared_cte(sql_session):
    df = run_sql(
        sql_session,
        "WITH c AS (SELECT 1 AS a, 'x' AS b) "
        "SELECT * FROM (SELECT a, b FROM c UNION ALL BY NAME "
        "SELECT b, a FROM c) ORDER BY a",
    )
    assert [ (r.a, r.b) for r in df.collect() ] == [(1, "x"), (1, "x")]


def test_describe_matches_duckdb_all_tables(sql_session):
    """DESCRIBE parity across every warehouse table — covers FLOAT[],
    TIMESTAMP, and the scalar spellings in one sweep."""
    import os

    import duckdb

    from duckdb_server_spark.session import register_views

    tables = ("region nation customer supplier part orders lineitem "
              "events documents embeddings").split()
    register_views(sql_session, SF_DIR, tables)
    con = duckdb.connect()
    for t in tables:
        p = os.path.join(SF_DIR, f"{t}.parquet")
        if not os.path.exists(p):
            continue
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        ours = [tuple(r) for r in run_sql(sql_session, f"DESCRIBE {t}").collect()]
        assert ours == con.execute(f"DESCRIBE {t}").fetchall(), t


def test_forced_dialect_sweep_matches_ltrim(sql_session):
    """Under SET dialect='duckdb', the one semantics-ambiguous oracle row
    (2-arg ltrim/rtrim) matches DuckDB too."""
    import os

    import duckdb

    from duckdb_server_spark import catalog
    from duckdb_server_spark.session import register_views

    catalog.load_all()
    register_views(sql_session, SF_DIR, ("part",))
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW part AS SELECT * FROM read_parquet("
        f"'{os.path.join(SF_DIR, 'part.parquet')}')"
    )
    st = dialect_state(sql_session)
    st.settings["dialect"] = "duckdb"
    try:
        sql = catalog.ORACLE["fn_string_declared"]
        ours = sorted([tuple(r) for r in run_sql(sql_session, sql).collect()], key=repr)
        assert ours == sorted(con.execute(sql).fetchall(), key=repr)
    finally:
        st.settings.pop("dialect", None)


def test_show_tables_duckdb_shape(sql_session):
    df = run_sql(sql_session, "SHOW TABLES")
    assert df.columns == ["name"]
    names = [r.name for r in df.collect()]
    assert "orders" in names and not any(n.startswith("__dd_") for n in names)


def test_show_table_is_describe_alias(sql_session):
    a = [tuple(r) for r in run_sql(sql_session, "SHOW orders").collect()]
    b = [tuple(r) for r in run_sql(sql_session, "DESCRIBE orders").collect()]
    assert a == b


def test_serving_dialect_is_thread_scoped(sql_session):
    """The DuckDB-first serving default must not leak across threads:
    a wire-serving thread and an embedded-native thread sharing the
    SparkSession each keep their own semantics for both-dialect-valid
    SQL (2-arg ltrim argument order)."""
    import threading

    from duckdb_server_spark.dialect import serving_dialect

    sql = "SELECT ltrim('xxabc', 'x') AS v"
    results: dict[str, str] = {}
    barrier = threading.Barrier(2)

    def serving():
        barrier.wait()
        with serving_dialect():
            results["serving"] = run_sql(sql_session, sql).collect()[0].v

    def native():
        barrier.wait()
        results["native"] = run_sql(sql_session, sql).collect()[0].v

    ts = [threading.Thread(target=serving), threading.Thread(target=native)]
    for t_ in ts:
        t_.start()
    for t_ in ts:
        t_.join()
    assert results["serving"] == "abc"  # DuckDB order
    assert results["native"] == ""      # Spark order
