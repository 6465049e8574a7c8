"""Round-16 ADVICE pins (ADVICE.md written by the r15 advisor).

1. (medium) _rewrite_std_pivot_count only matched the bare
   ``PIVOT (count(…) FOR …)`` shape: an aliased count
   (``count(*) AS n``) or a multi-aggregate pivot containing count
   stayed native, keeping Spark's NULL cells where DuckDB fills 0 —
   silent divergence. The agg list is now parsed: any count in any
   position coalesces, the single-aliased-agg naming split (DuckDB
   ``{value}_{alias}`` vs Spark ``{value}``) is reconciled by
   renaming, and the one textually unreconcilable shape (unaliased
   count(*) among multiple aggs) fails closed.
2. (low) the IEEE division lowering spliced the divisor text three
   times and the numerator twice — a volatile divisor could take
   inconsistent branches. Operands now bind ONCE through a
   single-element transform(array(named_struct(…))) lambda.
3. (low) ``SET duckdb_version_semantics='bogus'`` was accepted by the
   generic SET handler and only raised at the next rewrite.
   Validation moved into the SET path.
4. (low) the POSITIONAL JOIN derived-side LIMIT-0 schema probe ran
   raw DuckDB text through native spark.sql — DuckDB-only syntax the
   pipeline could lower (list literals, ::casts) hard-errored. The
   probe text now runs through rewrite() first.
5. (low) _run_copy's single-file COPY TO leaked the
   ``.__dd_copy_tmp__`` directory when the one-part-file assertion
   failed, and rmtree'd a pre-existing directory at the target
   unconditionally. try/finally removes the tmp dir on every path;
   a non-engine-written target directory is refused.

Plus the r16 bench steal probe (VERDICT r15 item 3): unit-pinned on
synthetic /proc/stat tick pairs, including the measured r15 contended
reading (steal=1109 vs user=581 → ratio 0.66 → host_contended).
"""

from __future__ import annotations

import os

import duckdb
import pytest

from duckdb_server_spark.dialect import (
    dialect_state,
    register_dialect_functions,
    run_script,
    run_sql,
    serving_dialect,
)


@pytest.fixture(scope="module")
def sqls(spark):
    register_dialect_functions(spark)
    return spark


def _both(spark, sql: str):
    if ";" in sql:
        duck = duckdb.connect()
        for part in (p for p in sql.split(";") if p.strip()):
            cur = duck.execute(part)
        dd = sorted(map(tuple, cur.fetchall()), key=repr)
        with serving_dialect(True):
            sp = sorted(
                map(tuple, run_script(spark, sql)[-1].collect()), key=repr
            )
    else:
        dd = sorted(map(tuple, duckdb.sql(sql).fetchall()), key=repr)
        with serving_dialect(True):
            sp = sorted(map(tuple, run_sql(spark, sql).collect()), key=repr)
    assert repr(sp) == repr(dd), f"{sql!r}: spark={sp} duckdb={dd}"
    return sp


def _both_with_cols(spark, sql: str):
    """Value AND column-name parity (pivot naming is the point here)."""
    duck_cur = duckdb.sql(sql)
    dcols = [d[0] for d in duck_cur.description]
    dd = sorted(map(tuple, duck_cur.fetchall()), key=repr)
    with serving_dialect(True):
        df = run_sql(spark, sql)
        sp = sorted(map(tuple, df.collect()), key=repr)
    assert df.columns == dcols, f"{sql!r}: cols {df.columns} != {dcols}"
    assert repr(sp) == repr(dd), f"{sql!r}: spark={sp} duckdb={dd}"


_PIVOT_BASE = (
    "WITH t(g,c,v) AS (VALUES ('x','a',1),('x','b',2),('y','a',3)) "
)


class TestPivotCountShapes:
    @pytest.mark.parametrize("sql", [
        # original bare shape still works
        "SELECT * FROM t PIVOT (count(v) FOR c IN ('a','b')) ORDER BY g",
        # aliased single count: DuckDB names a_n/b_n, Spark ignores the
        # alias — the wrap must rename AND zero-fill
        "SELECT * FROM t PIVOT (count(v) AS n FOR c IN ('a','b')) "
        "ORDER BY g",
        # count in a multi-aggregate pivot, both positions
        "SELECT * FROM t PIVOT (count(v) AS n, sum(v) AS s "
        "FOR c IN ('a','b')) ORDER BY g",
        "SELECT * FROM t PIVOT (sum(v) AS s, count(v) AS n "
        "FOR c IN ('a','b')) ORDER BY g",
        # IN-list value aliases compose with the agg alias
        "SELECT * FROM t PIVOT (count(v) AS n FOR c IN "
        "('a' AS ca,'b' AS cb)) ORDER BY g",
        # unaliased count(expr) among multiple aggs: both engines use
        # the raw text suffix — no rename needed, still zero-filled
        "SELECT * FROM t PIVOT (count(v), sum(v) AS s "
        "FOR c IN ('a','b')) ORDER BY g",
    ])
    def test_count_pivot_parity(self, sqls, sql):
        _both_with_cols(sqls, _PIVOT_BASE + sql)

    def test_unaliased_count_star_multi_agg_fails_closed(self, sqls):
        sql = (_PIVOT_BASE + "SELECT * FROM t PIVOT (count(*), "
               "sum(v) AS s FOR c IN ('a','b'))")
        with serving_dialect(True), pytest.raises(Exception) as ei:
            run_sql(sqls, sql).collect()
        assert "count" in str(ei.value).lower()


class TestIEEEDivisionSingleEval:
    def test_divisor_text_spliced_once(self, sqls):
        from duckdb_server_spark.dialect import rewrite

        state = dialect_state(sqls)
        old = state.settings.get("duckdb_version_semantics")
        state.settings["duckdb_version_semantics"] = "1.4"
        try:
            out = rewrite(
                "SELECT o_totalprice / (SELECT max(o_orderkey) "
                "FROM orders) AS r FROM orders", sqls)
        finally:
            if old is None:
                state.settings.pop("duckdb_version_semantics", None)
            else:
                state.settings["duckdb_version_semantics"] = old
        assert out.count("SELECT max") == 1, out
        assert out.lower().count("o_totalprice") == 1, out

    def test_ieee_values_still_exact(self, sqls):
        # the full IEEE table through the single-eval lowering
        with serving_dialect(True):
            run_script(sqls, "SET duckdb_version_semantics='1.4'")
            try:
                row = run_sql(
                    sqls,
                    "SELECT 1.5 / 0 AS pinf, -2 / 0.0 AS ninf, "
                    "0.0 / 0 AS nan_, CAST(NULL AS DOUBLE) / 0 AS n, "
                    "7 / 2 AS plain").collect()[0]
            finally:
                run_script(sqls, "SET duckdb_version_semantics='1.0'")
        import math
        assert row["pinf"] == math.inf and row["ninf"] == -math.inf
        assert math.isnan(row["nan_"]) and row["n"] is None
        assert row["plain"] == 3.5

    def test_volatile_divisor_consistent_branch(self, sqls):
        # rand()-derived divisor in (0.5, 1.5]: with the divisor bound
        # once, the result is never NULL/Inf (those would need a second
        # draw hitting 0 in a different branch) — 64 rows pin it
        with serving_dialect(True):
            run_script(sqls, "SET duckdb_version_semantics='1.4'")
            try:
                rows = run_sql(
                    sqls,
                    "SELECT 1 / (0.5 + rand()) AS r FROM range(64)"
                ).collect()
            finally:
                run_script(sqls, "SET duckdb_version_semantics='1.0'")
        import math
        for r in rows:
            assert r.r is not None and math.isfinite(r.r)
            assert 0.4 < r.r <= 2.0


class TestVersionSemanticsSet:
    def test_bogus_version_raises_at_set(self, sqls):
        with serving_dialect(True), pytest.raises(Exception) as ei:
            run_script(sqls, "SET duckdb_version_semantics = 'bogus'")
        assert "version" in str(ei.value).lower()
        # and the bad value was NOT retained
        st = dialect_state(sqls)
        assert st.settings.get("duckdb_version_semantics", "1.0") != "bogus"


class TestPositionalJoinDuckOnlyProbe:
    @pytest.mark.parametrize("sql", [
        # derived sides WITHOUT alias column lists, using syntax only
        # the rewrite pipeline can lower — the probe must survive
        "SELECT * FROM (SELECT [1,2] AS l, 1::TINYINT AS c) "
        "POSITIONAL JOIN (SELECT 7 AS r)",
        "SELECT * FROM (SELECT unnest([1,2,3]) AS a) POSITIONAL JOIN "
        "(SELECT unnest(['x','y']) AS b)",
        "SELECT * FROM (SELECT 10 // 3 AS q) POSITIONAL JOIN "
        "(SELECT 'z' AS z)",
    ])
    def test_duckdb_only_derived_sides(self, sqls, sql):
        _both(sqls, sql)


class TestCopyTmpCleanup:
    def test_zero_part_failure_removes_tmp(self, sqls, tmp_path):
        """Force the one-part assertion down the failure path by
        monkeying the glob result is brittle; instead assert the
        SUCCESS path leaves no tmp dir and the failure path (foreign
        target dir) both refuses and cleans up."""
        target = str(tmp_path / "out.csv")
        with serving_dialect(True):
            run_script(
                sqls,
                f"COPY (SELECT 1 AS a, 'x' AS b) TO '{target}' "
                "(FORMAT CSV, HEADER)")
        assert os.path.isfile(target)
        assert not os.path.exists(target + ".__dd_copy_tmp__")

    def test_foreign_directory_refused_and_tmp_cleaned(self, sqls, tmp_path):
        target = tmp_path / "precious"
        target.mkdir()
        (target / "user_data.txt").write_text("do not delete")
        with serving_dialect(True), pytest.raises(Exception) as ei:
            run_script(
                sqls,
                f"COPY (SELECT 1 AS a) TO '{target}' (FORMAT CSV)")
        assert "refusing" in str(ei.value).lower()
        # user data intact, tmp dir gone
        assert (target / "user_data.txt").read_text() == "do not delete"
        assert not os.path.exists(str(target) + ".__dd_copy_tmp__")

    def test_engine_written_directory_still_replaced(self, sqls, tmp_path):
        target = str(tmp_path / "out2.csv")
        # simulate a stale Spark part-dir at the target
        os.makedirs(target)
        open(os.path.join(target, "_SUCCESS"), "w").close()
        with serving_dialect(True):
            run_script(
                sqls,
                f"COPY (SELECT 42 AS a) TO '{target}' (FORMAT CSV)")
        assert os.path.isfile(target)


class TestStealProbe:
    def _ticks(self, **over):
        base = dict(user=1000, nice=0, system=500, idle=5000, iowait=0,
                    irq=0, softirq=0, steal=100, guest=0, guest_nice=0)
        base.update(over)
        return base

    def test_quiet_host_not_contended(self):
        import bench
        pre = self._ticks()
        post = self._ticks(user=1600, steal=110)
        ticks, ratio, contended = bench._steal_probe(pre, post)
        assert ticks == 10 and ratio < 0.05 and not contended

    def test_r15_contended_reading_flags(self):
        # the measured r15 excursion: steal=1109 vs user=581 ticks
        import bench
        pre = self._ticks()
        post = self._ticks(user=1000 + 581, steal=100 + 1109)
        ticks, ratio, contended = bench._steal_probe(pre, post)
        assert ticks == 1109 and ratio > 0.5 and contended

    def test_missing_procfs_degrades(self):
        import bench
        assert bench._steal_probe(None, self._ticks()) == (None, None, False)

    def test_live_snapshot_shape(self):
        import bench
        t = bench._cpu_ticks()
        if t is None:
            pytest.skip("no /proc/stat")
        assert t["user"] > 0 and "steal" in t
