"""Round-15 concurrency-soak hardening (VERDICT r14 item 3): the
serving façade shares one DialectState across the Flight thread pool;
its wire-input temp-view LRU previously evicted with unguarded
``next(iter())``/``del`` — two concurrent requests could race a
KeyError or evict a just-inserted entry. It now mutates under
``DialectState.lru_lock`` (catalog drops happen
OUTSIDE the lock — a py4j call must not serialize every request).

The full mixed-workload soak (test_server.py::
test_sustained_concurrency_soak_10x) was additionally run 5×
consecutively under a 16-process CPU burner (the r14 close-out flake's
reproduction recipe) — results recorded in BENCH_NOTES item 32. This
file pins the race class directly, deterministically, without a
server: many threads hammering the LRU helpers on one state."""

from __future__ import annotations

import concurrent.futures
import threading


def test_temp_view_lru_thread_safety(spark):
    from duckdb_server_spark.dialect import (
        _TEMP_VIEW_CAP,
        dialect_state,
    )
    from duckdb_server_spark.dialect_rewrites.statements import (
        _track_temp_view,
    )

    df = spark.range(1)
    state = dialect_state(spark)
    state.temp_views.clear()
    errors: list[BaseException] = []
    barrier = threading.Barrier(8)

    def worker(w: int):
        try:
            barrier.wait(timeout=30)
            for i in range(300):
                name = f"__dd_read_race_{w}_{i % 80}"
                df.createOrReplaceTempView(name)
                _track_temp_view(spark, name)
        except BaseException as exc:  # noqa: BLE001 — recording all
            errors.append(exc)

    with concurrent.futures.ThreadPoolExecutor(max_workers=8) as pool:
        list(pool.map(worker, range(8)))
    assert not errors, errors[:3]
    assert len(state.temp_views) <= _TEMP_VIEW_CAP


def test_pivot_cache_lru_thread_safety(spark, sf_dir):
    import os

    from duckdb_server_spark.dialect import (
        register_dialect_functions,
        run_sql,
        serving_dialect,
    )

    register_dialect_functions(spark)
    path = os.path.join(sf_dir, "nation.parquet")
    spark.read.parquet(path).createOrReplaceTempView("nation_soak")
    errors: list[BaseException] = []
    barrier = threading.Barrier(6)

    def worker(w: int):
        try:
            barrier.wait(timeout=30)
            for i in range(12):
                # distinct and repeated statements run concurrently
                agg = ("sum(n_nationkey)" if (w + i) % 2
                       else "count(n_name)")
                run_sql(
                    spark,
                    f"PIVOT (SELECT * FROM nation_soak WHERE "
                    f"n_nationkey > {i % 5}) ON n_regionkey "
                    f"USING {agg}",
                ).collect()
        except BaseException as exc:  # noqa: BLE001
            errors.append(exc)

    with serving_dialect(True):
        with concurrent.futures.ThreadPoolExecutor(max_workers=6) as pool:
            list(pool.map(worker, range(6)))
    assert not errors, errors[:3]
