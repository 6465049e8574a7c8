"""Self-tests of the benchmark's own logic (no server needed).

    python -m pytest perfbench -q
"""

from __future__ import annotations

import math
import os
import sys

import pyarrow as pa
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import client  # noqa: E402
import datagen  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402
from oracle import Oracle, canonical, matches  # noqa: E402


@pytest.mark.parametrize("name", sorted(workloads.CLIENTS))
def test_same_seed_same_requests_other_seed_other_requests(name):
    first = workloads.schedule(name, 7)
    assert first == workloads.schedule(name, 7)
    assert first != workloads.schedule(name, 8)
    assert len(first) == workloads.CLIENTS[name]
    assert all(client_requests for client_requests in first)


def test_dashboard_rounds_cover_every_template():
    flat = [r for c in workloads.schedule("dashboard", 3) for r in c]
    assert len(flat) == len(workloads.TEMPLATES) * workloads.DASHBOARD_ROUNDS
    assert {r.name for r in flat} == set(workloads.TEMPLATES)
    assert len({r.sql for r in flat}) > len(workloads.TEMPLATES)


def test_lookup_clients_cycle_all_shapes_and_keys_are_skewed():
    sched = workloads.schedule("lookup", 5)
    for requests in sched:
        assert {r.name for r in requests[:len(workloads.LOOKUP_SHAPES)]} == set(
            workloads.LOOKUP_SHAPES)
        assert all(r.prepared and r.sql.count("?") == 1 for r in requests)
    keys = [r.params[0] for c in sched for r in c if r.name == "order_by_key"]
    top = max(keys.count(k) for k in set(keys))
    assert top > 10  # hot keys recur ...
    assert len(set(keys)) > len(keys) // 4  # ... and the tail does not


def test_lookup_repeat_pattern_is_the_same_for_every_seed():
    def pattern(seed):
        seen, out = {}, []
        for c in workloads.schedule("lookup", seed):
            for r in c:
                out.append(seen.setdefault((r.name, r.params), len(seen)))
        return out

    assert pattern(1) == pattern(2)
    assert workloads.schedule("lookup", 1) != workloads.schedule("lookup", 2)


def test_export_ranges_do_not_repeat():
    flat = [r.sql for c in workloads.schedule("export", 9) for r in c]
    assert len(flat) == len(set(flat)) == workloads.EXPORT_POOL


def test_percentile_needs_ten_samples_beyond_it():
    assert stats.percentile(list(range(99)), 90) is None
    assert stats.percentile(list(range(1, 101)), 90) == 90
    assert stats.percentile(list(range(1, 21)), 50) == 10
    assert stats.percentile(list(range(1, 20)), 50) is None
    assert stats.percentile([], 50) is None


def test_failures_miss_every_latency():
    assert stats.median([1.0, 2.0, math.inf]) == 2.0
    assert stats.median([1.0, math.inf, math.inf]) == math.inf
    values = [float(v) for v in range(1, 101)]
    values[-1] = math.inf
    assert stats.percentile(values, 90) == 90.0


def test_error_rate_arithmetic():
    assert stats.error_rate(10, 0, 0) == 0.0
    assert stats.error_rate(10, 1, 2) == pytest.approx(0.3)
    with pytest.raises(ValueError):
        stats.error_rate(0, 0, 0)


def test_qps_follows_the_equal_mix_not_the_window_mix():
    import run

    cheap = workloads.Request("cheap", "SELECT 1")
    dear = workloads.Request("dear", "SELECT 2")
    table = pa.table({"x": [1]})

    def sample(request, sent, cycle):
        return run.Sample(request, sent, sent, sent + cycle / 2, sent + cycle, table)

    # Client 0 ran three cheap (1 s) requests, client 1 one dear (3 s) one.
    window = run.Window(0.0, [[sample(cheap, t, 1.0) for t in (0.0, 1.0, 2.0)],
                              [sample(dear, 0.0, 3.0)]], [3, 1])
    answers = {cheap: canonical(table), dear: canonical(table)}
    checked = run.check(window, answers)
    assert checked.qps == pytest.approx(2 / ((1.0 + 3.0) / 2))  # clients / mean cycle
    assert checked.rows_per_s() == pytest.approx(checked.qps)
    assert checked.balanced(lambda s: s.done - s.sent) == pytest.approx((0.5 + 1.5) / 2)
    window.samples[1][0].error = "boom"
    assert run.check(window, answers).qps == 0.0


def test_host_annotations_steal_ratio():
    before = dict.fromkeys(stats._CPU_FIELDS, 0)
    after = dict(before, user=60, system=20, steal=20, idle=100)
    out = stats.host_annotations(before, after)
    assert out["steal_ratio"] == pytest.approx(0.2)
    assert out["nproc"] == os.cpu_count()


def test_self_time_subtracts_covered_children_only():
    ms = 1_000_000
    spans = [
        {"id": 1, "name": "server.do_get", "start_ns": 0, "end_ns": 10 * ms, "parent": None},
        {"id": 2, "name": "server.resolve", "start_ns": 1 * ms, "end_ns": 7 * ms, "parent": 1},
        {"id": 3, "name": "catalyst.analyze", "start_ns": 2 * ms, "end_ns": 5 * ms, "parent": 2},
        # pulled after DoGet returned: covers none of it
        {"id": 4, "name": "server.stream", "start_ns": 10 * ms, "end_ns": 30 * ms, "parent": 1},
    ]
    assert stats.self_times(spans) == pytest.approx(
        {"server.do_get": 4.0, "server.resolve": 3.0, "catalyst.analyze": 3.0,
         "server.stream": 20.0})


def test_layer_metrics_per_request():
    ms = 1_000_000
    spans = [
        {"id": 1, "name": "server.get_flight_info", "start_ns": 0, "end_ns": 4 * ms,
         "parent": None, "extra": {"queue_ns": 2 * ms}},
        {"id": 2, "name": "catalyst.analyze", "start_ns": 0, "end_ns": 1 * ms, "parent": 1,
         "extra": {"ok": False}},
        {"id": 3, "name": "catalyst.analyze", "start_ns": 1 * ms, "end_ns": 2 * ms, "parent": 1,
         "extra": {"ok": True}},
        {"id": 4, "name": "server.stream", "start_ns": 5 * ms, "end_ns": 9 * ms, "parent": None,
         "extra": {"first_ns": 6 * ms, "batches": 3, "bytes": 300}},
    ]
    jobs = [{"id": 1, "tasks": 4, "ms": 10}, {"id": 2, "tasks": 2, "ms": 30}]
    out = stats.layer_metrics({"spans": spans, "jobs": jobs}, requests=2)
    assert out["server.handler_queue_ms"] == pytest.approx(2.0)
    assert out["server.get_flight_info_ms"] == pytest.approx(2.0)
    assert out["catalyst.analyze_calls_per_req"] == 1.0
    assert out["catalyst.analyze_ok_ratio"] == 0.5
    assert out["server.stream_ttfb_ms"] == pytest.approx(1.0)
    assert out["server.batches_per_req"] == 1.5
    assert out["exec.jobs_per_req"] == 1.0
    assert out["exec.tasks_per_req"] == 3.0
    assert out["exec.job_ms"] == 20.0


def test_canonical_ignores_row_order_names_and_representation():
    a = pa.table({"k": pa.array([2, 1], pa.int32()), "v": [0.1 + 0.2, 1.5],
                  "t": pa.array([0, 1_000_000], pa.timestamp("us", tz="UTC"))})
    b = pa.table({"x": pa.array([1, 2], pa.int64()), "y": [1.5, 0.3],
                  "z": pa.array([1_000_000, 0], pa.timestamp("us"))})
    assert matches(a, canonical(b))


def test_client_codec_agrees_with_the_server_codec():
    pytest.importorskip("duckdb_server_spark")
    from duckdb_server_spark import flightsql

    sql = "SELECT * FROM orders WHERE o_orderkey = ?"
    assert client.statement_query(sql) == flightsql.encode_command_statement_query(sql)
    assert client.create_prepared_request(sql) == flightsql.encode_action_create_prepared_request(sql)
    assert client.prepared_statement_query(b"h-1") == \
        flightsql.encode_command_prepared_statement_query(b"h-1")
    assert client.close_prepared_request(b"h-1") == \
        flightsql.encode_action_close_prepared_request(b"h-1")
    body = flightsql.encode_action_create_prepared_result(b"h-1", b"schema-bytes")
    assert client.prepared_handle(body) == b"h-1"


@pytest.fixture(scope="module")
def oracle(tmp_path_factory):
    warehouse = datagen.ensure_warehouse(str(tmp_path_factory.mktemp("wh") / "warehouse"))
    o = Oracle(warehouse)
    yield o
    o.close()


def test_warehouse_is_deterministic():
    a, b = datagen.build_tables(), datagen.build_tables()
    assert all(a[name].equals(b[name]) for name in a)
    assert a["lineitem"].num_rows == datagen.N_LINEITEM


def test_oracle_rejects_a_corrupted_answer(oracle):
    request = workloads.schedule("lookup", 1)[0][0]
    expected = oracle.answer(request)
    raw = oracle.con.execute(request.sql, list(request.params)).arrow()
    assert raw.num_rows >= 1
    assert matches(raw, expected)
    column = raw.column(0).to_pylist()
    column[0] = column[0] + 1
    corrupted = raw.set_column(0, raw.field(0), pa.array(column, raw.field(0).type))
    assert not matches(corrupted, expected)
    assert not matches(raw.slice(0, 0), expected)


def test_oracle_answers_every_template(oracle):
    flat = [r for c in workloads.schedule("dashboard", 2) for r in c]
    answers = oracle.answers(flat)
    assert set(answers) == set(flat)
    assert all(t.num_rows >= 1 for t in answers.values())
