"""Arithmetic of the report: percentiles, error rate, host annotations and
per-layer figures from a span dump."""

from __future__ import annotations

import math
import os
import statistics
from collections import defaultdict

# A percentile is reported only when at least this many samples lie
# beyond it, so one outlier cannot set it.
TAIL_SAMPLES = 10


def percentile(values: list[float], p: float) -> float | None:
    """Nearest-rank ``p``-th percentile (0 < p < 100), or None when fewer
    than ``TAIL_SAMPLES`` samples lie beyond it. Failed requests enter as
    ``math.inf``: they miss every latency limit."""
    n = len(values)
    rank = math.ceil(p / 100 * n)
    if n == 0 or n - rank < TAIL_SAMPLES:
        return None
    return sorted(values)[rank - 1]


def median(values: list[float]) -> float:
    """Median; with failures entered as ``math.inf`` it turns infinite once
    half the requests failed."""
    return statistics.median(values) if values else math.nan


def error_rate(attempted: int, failed: int, mismatched: int) -> float:
    """(failed + answered wrongly) / attempted."""
    if attempted <= 0:
        raise ValueError("no request was attempted")
    return (failed + mismatched) / attempted


# ---------------------------------------------------------------------------
# Host-noise annotations (not metrics): they mark contended runs.
# ---------------------------------------------------------------------------

_CPU_FIELDS = ("user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal")


def cpu_ticks() -> dict[str, int] | None:
    """The aggregate ``cpu`` line of /proc/stat, or None off Linux."""
    try:
        with open("/proc/stat") as fh:
            fields = fh.readline().split()
    except OSError:
        return None
    return {name: int(v) for name, v in zip(_CPU_FIELDS, fields[1:])}


def host_annotations(before: dict[str, int] | None, after: dict[str, int] | None) -> dict:
    """``nproc``, 1-minute load average, and the hypervisor steal ratio
    (steal ticks / busy ticks, busy = user + nice + system + steal) between
    two ``cpu_ticks`` snapshots."""
    out: dict = {"nproc": os.cpu_count(), "loadavg_1m": round(os.getloadavg()[0], 2)}
    if before and after:
        delta = {k: after[k] - before[k] for k in _CPU_FIELDS}
        busy = delta["user"] + delta["nice"] + delta["system"] + delta["steal"]
        out["steal_ratio"] = round(delta["steal"] / busy, 4) if busy else 0.0
    return out


# ---------------------------------------------------------------------------
# Per-layer figures from a traced window
# ---------------------------------------------------------------------------

HANDLERS = ("get_flight_info", "do_get", "do_action", "do_put")


def self_times(spans: list[dict]) -> dict[str, float]:
    """Total self time per span name in ms: a span's duration minus the part
    of it its children cover. Children of one span run on its thread one
    after another, so they do not overlap each other; a result stream,
    pulled after ``DoGet`` returned, covers none of its parent."""
    by_id = {span["id"]: span for span in spans}
    child_ns: dict[int, int] = defaultdict(int)
    for span in spans:
        parent = by_id.get(span["parent"])
        if parent is not None:
            covered = (min(span["end_ns"], parent["end_ns"])
                       - max(span["start_ns"], parent["start_ns"]))
            child_ns[parent["id"]] += max(covered, 0)
    out: dict[str, float] = defaultdict(float)
    for span in spans:
        own = span["end_ns"] - span["start_ns"] - child_ns.get(span["id"], 0)
        out[span["name"]] += max(own, 0) / 1e6
    return dict(out)


def layer_metrics(dump: dict, requests: int) -> dict[str, float]:
    """Per-request layer figures for one traced window of ``requests``
    completed requests. Times are ms per request unless named otherwise."""
    if requests <= 0:
        raise ValueError("traced window completed no request")
    spans, jobs = dump["spans"], dump["jobs"]
    total_ms: dict[str, float] = defaultdict(float)
    calls: dict[str, int] = defaultdict(int)
    ok: dict[str, int] = defaultdict(int)
    queue_ms: list[float] = []
    stream_first_ms: list[float] = []
    batches = nbytes = 0
    for span in spans:
        name = span["name"]
        total_ms[name] += (span["end_ns"] - span["start_ns"]) / 1e6
        calls[name] += 1
        extra = span["extra"]
        ok[name] += bool(extra.get("ok"))
        if extra.get("queue_ns") is not None:
            queue_ms.append(extra["queue_ns"] / 1e6)
        if name == "server.stream":
            batches += extra["batches"]
            nbytes += extra["bytes"]
            if extra["first_ns"] is not None:
                stream_first_ms.append((extra["first_ns"] - span["start_ns"]) / 1e6)
    per = 1.0 / requests
    out = {
        "server.handler_queue_ms": statistics.fmean(queue_ms) if queue_ms else 0.0,
        "server.resolve_calls_per_req": calls["server.resolve"] * per,
        "server.gate_calls_per_req": calls["server.gate"] * per,
        "server.gate_ms": total_ms["server.gate"] * per,
        "server.stream_ms": total_ms["server.stream"] * per,
        "server.stream_ttfb_ms": statistics.fmean(stream_first_ms) if stream_first_ms else 0.0,
        "server.batches_per_req": batches * per,
        "server.bytes_per_req": nbytes * per,
        "dialect.rewrite_calls_per_req": calls["dialect.rewrite"] * per,
        "dialect.rewrite_ms": total_ms["dialect.rewrite"] * per,
        "dialect.run_sql_ms": total_ms["dialect.run_sql"] * per,
        "catalyst.analyze_calls_per_req": calls["catalyst.analyze"] * per,
        "catalyst.analyze_ms": total_ms["catalyst.analyze"] * per,
        "catalyst.analyze_ok_ratio": (ok["catalyst.analyze"] / calls["catalyst.analyze"]
                                      if calls["catalyst.analyze"] else 1.0),
        "exec.jobs_per_req": len(jobs) * per,
        "exec.tasks_per_req": sum(j["tasks"] for j in jobs) * per,
        "exec.job_ms": sum(j["ms"] for j in jobs) * per,
    }
    for handler in HANDLERS:
        out[f"server.{handler}_ms"] = total_ms[f"server.{handler}"] * per
    return out
