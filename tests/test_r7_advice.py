"""Regression pins for the round-6 ADVICE items (all fixed in 58c2443 /
follow-ups; these tests lock each cited failure scenario so a rewrite
refactor cannot silently reintroduce them). Every execution test is
differential: the byte-identical statement runs on DuckDB via the shared
``duck`` fixture and the row sets must agree.

Scenarios (ADVICE r6, dialect.py line refs as of round 5):
1. ``_run_recursive_cte`` corrupting string literals / same-named
   columns via unmasked name substitution.
2. ``_rewrite_distinct_on`` dropping a leading WITH clause (CTE
   shadowing a real table) and splicing a trailing LIMIT into the
   window ordering.
3. ``len()`` dispatch guessing array-ness from a column-name allowlist
   instead of the catalog schema.
4. ``_WINDOW_FILTER_RE`` failing on parenthesized aggregate arguments
   and mishandling DISTINCT.
5. Unbounded server-lifetime caches (__dd_read_* views); a PIVOT
   discovers its columns on every execution, so its answer follows the
   data.
"""

from __future__ import annotations

import pytest

from duckdb_server_spark.dialect import (
    _TEMP_VIEW_CAP,
    dialect_state,
    execute_statement,
    register_dialect_functions,
    rewrite,
    run_sql,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def sql_session(spark):
    from duckdb_server_spark.session import register_views

    register_dialect_functions(spark)
    register_views(spark, SF_DIR, ("orders", "nation", "region"))
    return spark


def _both(spark, duck, sql: str):
    """Run byte-identical SQL on both engines; return sorted row tuples."""
    ours = sorted(tuple(r) for r in run_sql(spark, sql).collect())
    theirs = sorted(tuple(r) for r in duck.execute(sql).fetchall())
    return ours, theirs


# --- 1. recursive CTE name inside a string literal / column name -----------


def test_recursive_cte_name_in_string_literal(sql_session, duck):
    # CTE named ``t``; every step appends the LITERAL '/t' to a path.
    # The old re.sub(\bt\b) on unmasked text corrupted the literal.
    sql = (
        "WITH RECURSIVE t(n, path) AS ("
        "  SELECT 1, '/t'"
        "  UNION ALL"
        "  SELECT n + 1, path || '/t' FROM t WHERE n < 4"
        ") SELECT n, path FROM t ORDER BY n"
    )
    ours, theirs = _both(sql_session, duck, sql)
    assert ours == theirs
    assert ours[-1][1] == "/t/t/t/t"


def test_recursive_cte_name_shared_by_column(sql_session, duck):
    # A column named identically to the CTE: substitution on identifiers
    # must hit only table references (view-registration makes this moot).
    sql = (
        "WITH RECURSIVE r(r) AS ("
        "  SELECT 1 UNION ALL SELECT r + 1 FROM r WHERE r < 3"
        ") SELECT r FROM r ORDER BY r"
    )
    ours, theirs = _both(sql_session, duck, sql)
    assert ours == theirs == [(1,), (2,), (3,)]


# --- 2. DISTINCT ON: leading WITH (shadowing), trailing LIMIT --------------


def test_distinct_on_preserves_shadowing_cte(sql_session, duck):
    # ``nation`` the CTE shadows ``nation`` the table; the old rewrite
    # discarded s[:m.start()] and ran against the BASE table — 25 rows
    # of wrong data instead of the CTE's 2.
    sql = (
        "WITH nation AS (SELECT 0 AS n_regionkey, 'a' AS n_name"
        " UNION ALL SELECT 0, 'b')"
        " SELECT DISTINCT ON (n_regionkey) n_regionkey, n_name"
        " FROM nation ORDER BY n_regionkey, n_name"
    )
    ours, theirs = _both(sql_session, duck, sql)
    assert ours == theirs == [(0, "a")]


def test_distinct_on_trailing_limit_stays_outer(sql_session, duck):
    # LIMIT must bound the outer result, not leak into the window ORDER.
    sql = (
        "SELECT DISTINCT ON (n_regionkey) n_regionkey, n_name"
        " FROM nation ORDER BY n_regionkey, n_name LIMIT 2"
    )
    ours, theirs = _both(sql_session, duck, sql)
    assert ours == theirs
    assert len(ours) == 2


# --- 3. len() dispatch is schema-aware, not name-keyed ---------------------


def test_len_on_string_column_named_tokens(sql_session, duck):
    # 'tokens' sits in the legacy array-name allowlist; the column here
    # is a STRING — catalog dispatch must pick length(), not size().
    sql_session.sql(
        "SELECT 'abcde' AS tokens UNION ALL SELECT 'xy'"
    ).createOrReplaceTempView("hostile_str")
    duck.execute(
        "CREATE OR REPLACE VIEW hostile_str AS "
        "SELECT 'abcde' AS tokens UNION ALL SELECT 'xy'"
    )
    sql = "SELECT len(tokens) AS l FROM hostile_str ORDER BY l"
    ours, theirs = _both(sql_session, duck, sql)
    assert ours == theirs == [(2,), (5,)]


def test_len_on_array_column_with_arbitrary_name(sql_session, duck):
    # An array column named nothing the allowlist knows: catalog
    # dispatch must pick size().
    sql_session.sql(
        "SELECT array(1, 2, 3) AS zzq_items UNION ALL SELECT array(9)"
    ).createOrReplaceTempView("hostile_arr")
    duck.execute(
        "CREATE OR REPLACE VIEW hostile_arr AS "
        "SELECT [1, 2, 3] AS zzq_items UNION ALL SELECT [9]"
    )
    sql = "SELECT len(zzq_items) AS l FROM hostile_arr ORDER BY l"
    ours, theirs = _both(sql_session, duck, sql)
    assert ours == theirs == [(1,), (3,)]


# --- 4. windowed FILTER: parenthesized args; DISTINCT fails closed ---------


def test_window_filter_with_paren_argument(sql_session, duck):
    sql = (
        "SELECT n_nationkey,"
        " sum(n_nationkey * (n_regionkey + 1)) FILTER (WHERE n_nationkey % 2 = 0)"
        " OVER (PARTITION BY n_regionkey) AS s"
        " FROM nation ORDER BY n_nationkey"
    )
    ours, theirs = _both(sql_session, duck, sql)
    assert ours == theirs


def test_window_filter_distinct_fails_closed(sql_session):
    with pytest.raises(Exception):
        run_sql(
            sql_session,
            "SELECT count(DISTINCT n_name) FILTER (WHERE n_nationkey > 1)"
            " OVER (PARTITION BY n_regionkey) FROM nation",
        ).collect()


def test_plain_aggregate_filter_untouched():
    # Non-window FILTER is native Spark; the rewrite must skip it.
    s = "SELECT sum(a*(b+1)) FILTER (WHERE c) FROM t"
    assert rewrite(s) == s


# --- 5. server-lifetime caches stay bounded --------------------------------


def test_pivot_cache_invalidated_on_write(sql_session):
    """A PIVOT's answer follows its source: after a write route (CREATE
    TABLE, INSERT) and after the view is replaced behind the dialect's
    back (what Engine.create_table does), the same statement shows the
    new pivot columns and values, as DuckDB does."""

    def pivot(table):
        return [r.asDict() for r in run_sql(
            sql_session, f"PIVOT {table} ON k USING sum(v)"
        ).collect()]

    execute_statement(sql_session, "CREATE TABLE __adv_w AS SELECT 'a' AS k, 1 AS v")
    assert pivot("__adv_w") == [{"a": 1}]
    execute_statement(sql_session, "INSERT INTO __adv_w VALUES ('b', 2)")
    assert pivot("__adv_w") == [{"a": 1, "b": 2}]
    execute_statement(sql_session, "DROP TABLE __adv_w")

    sql_session.createDataFrame(
        [("a", 1), ("b", 2)], "k STRING, v INT"
    ).createOrReplaceTempView("__adv_p")
    assert pivot("__adv_p") == [{"a": 1, "b": 2}]
    sql_session.createDataFrame(
        [("a", 10), ("c", 30)], "k STRING, v INT"
    ).createOrReplaceTempView("__adv_p")
    assert pivot("__adv_p") == [{"a": 10, "c": 30}]
    sql_session.catalog.dropTempView("__adv_p")


def test_file_read_views_are_bounded(sql_session):
    state = dialect_state(sql_session)
    before = len(state.temp_views)
    for i in range(4):
        run_sql(
            sql_session,
            "SELECT count(*) AS n FROM "
            f"read_parquet('{SF_DIR}/nation.parquet') WHERE n_nationkey >= {i}",
        ).collect()
    assert len(state.temp_views) <= _TEMP_VIEW_CAP
    # distinct statements may add views, but the LRU keeps the total capped
    assert len(state.temp_views) >= min(before, 1)
