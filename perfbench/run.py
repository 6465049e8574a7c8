#!/usr/bin/env python3
"""Serving-path benchmark: a closed-loop Flight SQL client against the
server running as its own process.

    python3 perfbench/run.py --workload {dashboard,lookup,export,all} \\
        --seed N --seconds S --trace {0,1}

Run from the repository root. One run:

1. builds the sf0.1-shaped warehouse under ``.perfbench/`` on first use
   (``datagen.py``);
2. spawns ``python -m duckdb_server_spark.server --warehouse ... --port 0``
   (``--trace 1``: ``perfbench/traced_server.py``, the same server with
   spans) with ``SPARK_GRAFT_CPUS=$(nproc)`` and ``SPARK_LOCAL_DIRS``
   inside ``.perfbench/``, and times spawn → first answered ``SELECT 1``
   (``setup_s``). DuckDB computes the answer of every scheduled request
   meanwhile;
3. per workload: an untimed warm-up, in which each client sends the first
   requests of its schedule (one pass over its templates or lookup shapes),
   then ``--seconds`` of closed-loop load (clients send their next
   request when the previous answer has arrived). ``--trace 1`` splits
   that time into two windows, untraced then traced, and reports the
   per-layer figures of the traced one and the difference of the two
   latency medians as the tracing overhead;
4. checks every answer against DuckDB, stops the server and prints a
   report, then one JSON line: ``correct``, ``attempted``, ``failed`` and
   ``metrics`` (end-to-end metrics with ``--trace 0``, per-layer metrics
   with ``--trace 1``).

Exits non-zero, printing no result, if the server cannot be built or
started from the current directory.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import queue
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402
from client import Session  # noqa: E402
from oracle import Oracle, matches  # noqa: E402

WORK_DIR = ".perfbench"
BOOT_TIMEOUT_S = 150.0

END_TO_END = {  # name: unit
    "setup_s": "s",
    "qps": "req/s",
    "latency_p50_ms": "ms",
    "ttfb_p50_ms": "ms",
    "rows_per_s": "rows/s",
    "server_rss_peak_mb": "MB",
}
PER_LAYER = {
    "server.handler_queue_ms": "ms",
    "server.get_flight_info_ms": "ms",
    "server.do_get_ms": "ms",
    "server.resolve_calls_per_req": "count",
    "server.gate_calls_per_req": "count",
    "server.gate_ms": "ms",
    "server.stream_ms": "ms",
    "server.stream_ttfb_ms": "ms",
    "server.batches_per_req": "count",
    "server.bytes_per_req": "bytes",
    "dialect.rewrite_calls_per_req": "count",
    "dialect.rewrite_ms": "ms",
    "dialect.run_sql_ms": "ms",
    "catalyst.analyze_calls_per_req": "count",
    "catalyst.analyze_ms": "ms",
    "catalyst.analyze_ok_ratio": "ratio",
    "exec.jobs_per_req": "count",
    "exec.tasks_per_req": "count",
    "exec.job_ms": "ms",
    "session.bootstrap_s": "s",
    "session.register_views_s": "s",
    "trace.latency_p50_ms": "ms",
    "trace.overhead_ms": "ms",
}
# Reported only where the workload sends the RPC (lookup).
REPORT_ONLY_LAYER = {"server.do_action_ms": "ms", "server.do_put_ms": "ms"}


class BenchError(RuntimeError):
    """The run cannot produce a result."""


# ---------------------------------------------------------------------------
# Server process
# ---------------------------------------------------------------------------


class ServerProcess:
    """The server in its own process group, so stopping it stops the JVM
    and Python workers it starts."""

    def __init__(self, root: str, warehouse: str, work: str, traced: bool):
        local = os.path.join(work, "spark-local")
        tmp = os.path.join(work, "tmp")
        os.makedirs(local, exist_ok=True)
        os.makedirs(tmp, exist_ok=True)
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(os.cpu_count()), SPARK_LOCAL_DIRS=local,
                   TMPDIR=tmp, PYTHONDONTWRITEBYTECODE="1")
        java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        env["JAVA_TOOL_OPTIONS"] = (env.get("JAVA_TOOL_OPTIONS", "") + " " + java_opts).strip()
        entry = ["perfbench/traced_server.py"] if traced else ["-m", "duckdb_server_spark.server"]
        self.log_path = os.path.join(work, "server.log")
        self.lines: queue.Queue[str | None] = queue.Queue()
        self.spawned = time.monotonic()
        with open(self.log_path, "w") as log:
            self.proc = subprocess.Popen(
                [sys.executable, *entry, "--warehouse", warehouse, "--port", "0"],
                cwd=root, env=env, text=True, start_new_session=True,
                stdin=subprocess.PIPE if traced else subprocess.DEVNULL,
                stdout=subprocess.PIPE, stderr=log)
        threading.Thread(target=self._read, daemon=True).start()

    def _read(self) -> None:
        for line in self.proc.stdout:
            self.lines.put(line.rstrip("\n"))
        self.lines.put(None)

    def _line(self, deadline: float) -> str:
        try:
            line = self.lines.get(timeout=max(deadline - time.monotonic(), 0.01))
        except queue.Empty:
            raise BenchError("server did not answer in time") from None
        if line is None:
            raise BenchError(f"server exited; see {self.log_path}:\n{self._log_tail()}")
        return line

    def _log_tail(self) -> str:
        with open(self.log_path, errors="replace") as fh:
            return "".join(fh.readlines()[-20:])

    def boot(self) -> tuple[int, float]:
        """Wait for the port, then send ``SELECT 1`` until answered.
        Returns (port, seconds from spawn to that answer)."""
        deadline = self.spawned + BOOT_TIMEOUT_S
        while True:
            line = self._line(deadline)
            if "port=" in line:
                port = int(line.rsplit("port=", 1)[1])
                break
        while True:
            session = Session(port)
            try:
                reply = session.statement("SELECT 1")
                if reply.table.num_rows != 1:
                    raise BenchError("SELECT 1 returned no row")
                return port, reply.done - self.spawned
            except BenchError:
                raise
            except Exception:
                if time.monotonic() > deadline:
                    raise
                time.sleep(0.1)
            finally:
                session.close()

    def command(self, text: str, timeout: float = 60.0) -> str:
        """Send a control command to the traced launcher; returns its reply."""
        self.proc.stdin.write(text + "\n")
        self.proc.stdin.flush()
        return self._line(time.monotonic() + timeout)

    def tree(self) -> list[int]:
        """Pids of the server and all its descendants."""
        children: dict[int, list[int]] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
        out, todo = [], [self.proc.pid]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, ()))
        return out

    def rss_peak_mb(self) -> float:
        """Sum over the process tree of each process's peak resident set
        (VmHWM), in MiB."""
        total_kb = 0
        for pid in self.tree():
            try:
                with open(f"/proc/{pid}/status") as fh:
                    for line in fh:
                        if line.startswith("VmHWM:"):
                            total_kb += int(line.split()[1])
            except OSError:
                continue
        return total_kb / 1024

    def stop(self) -> None:
        """Stop the whole process group and wait until every member ended."""
        pgid = self.proc.pid
        for sig, grace in ((signal.SIGTERM, 20.0), (signal.SIGKILL, 20.0)):
            try:
                os.killpg(pgid, sig)
            except ProcessLookupError:
                break
            deadline = time.monotonic() + grace
            while time.monotonic() < deadline:
                if self.proc.poll() is not None and not _group_alive(pgid):
                    break
                time.sleep(0.05)
            else:
                continue
            break
        try:
            self.proc.wait(timeout=5)
        except subprocess.TimeoutExpired:
            pass
        if self.proc.stdin:
            self.proc.stdin.close()


def _group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
    except ProcessLookupError:
        return False
    return True


# ---------------------------------------------------------------------------
# Closed-loop load
# ---------------------------------------------------------------------------


@dataclass
class Sample:
    request: workloads.Request
    sent: float
    first: float | None
    done: float              # last batch received
    free: float              # client ready for its next request (after close)
    table: object = None     # pyarrow.Table when answered
    error: str | None = None


@dataclass
class Window:
    """One timed window: its start, per-client samples, and where each
    client's schedule continues."""

    start: float
    samples: list[list[Sample]]
    next_index: list[int]


def send(session: Session, request: workloads.Request):
    if request.prepared:
        return session.prepared(request.sql, list(request.params))
    return session.statement(request.sql)


def closed_loop(sessions: list[Session], schedule: list[list[workloads.Request]],
                seconds: float, first_index: list[int]) -> Window:
    """Each client sends its next request once the previous answer has
    arrived, until ``seconds`` have passed; a request in flight at the
    deadline is completed and counted."""
    clients = len(sessions)
    samples: list[list[Sample]] = [[] for _ in range(clients)]
    next_index = list(first_index)
    gate = threading.Barrier(clients + 1)
    clock: dict[str, float] = {}

    def client(c: int) -> None:
        gate.wait()
        deadline = clock["start"] + seconds
        mine = schedule[c]
        i = first_index[c]
        while time.monotonic() < deadline:
            request = mine[i % len(mine)]
            i += 1
            sent = time.monotonic()
            try:
                reply = send(sessions[c], request)
            except Exception as exc:  # a failed request is a result, not a crash
                now = time.monotonic()
                samples[c].append(Sample(request, sent, None, now, now,
                                         error=f"{type(exc).__name__}: {exc}"[:500]))
                continue
            samples[c].append(Sample(request, reply.sent, reply.first_batch, reply.done,
                                     time.monotonic(), reply.table))
        next_index[c] = i

    threads = [threading.Thread(target=client, args=(c,)) for c in range(clients)]
    for t in threads:
        t.start()
    clock["start"] = time.monotonic()
    gate.wait()
    for t in threads:
        t.join()
    return Window(clock["start"], samples, next_index)


def warm_up(sessions: list[Session], schedule: list[list[workloads.Request]],
            count: int) -> None:
    """Untimed: each client sends the first ``count`` requests of its own
    schedule, so caches that key on the workload's hot keys or plans fill
    the way they would on a server already serving this traffic."""

    def client(c: int) -> None:
        for request in schedule[c][:count]:
            try:
                send(sessions[c], request)
            except Exception as exc:  # the timed window reports failures
                print(f"perfbench: warm-up {request.name} failed: {exc}", file=sys.stderr)

    threads = [threading.Thread(target=client, args=(c,)) for c in range(len(sessions))]
    for t in threads:
        t.start()
    for t in threads:
        t.join()


# ---------------------------------------------------------------------------
# Metrics
# ---------------------------------------------------------------------------


@dataclass
class Checked:
    attempted: int
    failed: int
    mismatched: int
    latencies_ms: list[float]        # every request; failures as inf
    by_shape: dict[str, list[Sample]]
    ok: set[int]                     # ids of correctly answered samples
    clients: int
    problems: list[str]

    def balanced(self, value, reduce=stats.median) -> float:
        """``reduce`` (the median by default) of ``value`` per template /
        lookup shape, averaged over shapes. The schedule mixes shapes in
        equal parts, but shapes differ in cost several-fold and a window
        holds only a few requests of each, so the plain figure would follow
        the window's mix; the per-shape average does not. Failed or wrong
        answers enter as inf."""
        return statistics.fmean(
            reduce([value(s) if id(s) in self.ok else math.inf for s in samples])
            for samples in self.by_shape.values())

    @property
    def qps(self) -> float:
        """Completed requests per second at the schedule's equal mix: in a
        closed loop each client completes one request per cycle (first RPC
        sent to ready for the next, so the close of a prepared statement
        counts), and throughput is clients / mean cycle time (Little's law).
        The mean cycle is averaged over shapes; any failure makes it 0."""
        return self.clients / self.balanced(lambda s: s.free - s.sent, statistics.fmean)

    def rows_per_s(self) -> float:
        """``qps`` times the mean rows of a request, averaged over shapes."""
        return self.qps * self.balanced(lambda s: s.table.num_rows, statistics.fmean)


def check(window: Window, answers: dict) -> Checked:
    """Verify every answer and derive the window's client-side figures."""
    failed = mismatched = 0
    latencies, problems = [], []
    by_shape: dict[str, list[Sample]] = {}
    ok: set[int] = set()
    for client in window.samples:
        for s in client:
            by_shape.setdefault(s.request.name, []).append(s)
            if s.error is not None:
                failed += 1
                problems.append(f"{s.request.name}: {s.error}")
            elif not matches(s.table, answers[s.request]):
                mismatched += 1
                problems.append(f"{s.request.name}: answer differs from DuckDB")
            else:
                ok.add(id(s))
            latencies.append((s.done - s.sent) * 1e3 if id(s) in ok else math.inf)
    attempted = sum(len(c) for c in window.samples)
    return Checked(attempted, failed, mismatched, latencies, by_shape, ok,
                   len(window.samples), problems)


def tracing(server: ServerProcess, window_no: int, work: str, fn):
    """Run ``fn`` with the launcher's span recording on; returns (fn's
    result, span dump)."""
    path = os.path.join(work, f"trace-{window_no}.json")
    if server.command("on") != "ok":
        raise BenchError("traced server refused 'on'")
    result = fn()
    if server.command(f"off {path}") != "ok":
        raise BenchError("traced server failed to write its spans")
    with open(path) as fh:
        return result, json.load(fh)


def run_workload(server: ServerProcess, port: int, name: str, seed: int, seconds: float,
                 trace: bool, answers: dict, work: str, window_no: int) -> dict:
    schedule = workloads.schedule(name, seed)
    sessions = [Session(port) for _ in range(workloads.CLIENTS[name])]
    if trace:  # two windows, so a traced run takes as long as an untraced one
        seconds /= 2
    try:
        t = time.monotonic()
        warm_up(sessions, schedule, workloads.WARMUP[name])
        print(f"perfbench: {name} warm-up {time.monotonic() - t:.1f}s", file=sys.stderr)
        window = closed_loop(sessions, schedule, seconds, [workloads.WARMUP[name]] * len(sessions))
        checked = check(window, answers)
        result = {"checked": [checked]}
        if trace:
            traced, dump = tracing(server, window_no, work, lambda: closed_loop(
                sessions, schedule, seconds, window.next_index))
            traced_checked = check(traced, answers)
            result["checked"].append(traced_checked)
            good = len(traced_checked.ok)
            layers = stats.layer_metrics(dump, max(good, 1))
            latency = (lambda s: (s.done - s.sent) * 1e3)
            layers["trace.latency_p50_ms"] = traced_checked.balanced(latency)
            layers["trace.overhead_ms"] = (layers["trace.latency_p50_ms"]
                                           - checked.balanced(latency))
            result["layers"] = layers
            result["self_ms"] = {k: v / max(good, 1) for k, v in stats.self_times(
                dump["spans"]).items()}
    finally:
        for session in sessions:
            session.close()
    return result


def end_to_end(checked: Checked, setup_s: float, rss_mb: float) -> dict[str, float]:
    return {
        "setup_s": setup_s,
        "qps": checked.qps,
        "latency_p50_ms": checked.balanced(lambda s: (s.done - s.sent) * 1e3),
        "ttfb_p50_ms": checked.balanced(lambda s: (s.first - s.sent) * 1e3),
        "rows_per_s": checked.rows_per_s(),
        "server_rss_peak_mb": rss_mb,
    }


# ---------------------------------------------------------------------------
# Main
# ---------------------------------------------------------------------------


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True, choices=[*workloads.CLIENTS, "all"])
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return parser.parse_args(argv)


def _raise_exit(signum, frame):
    raise SystemExit(128 + signum)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "duckdb_server_spark", "server.py")):
        print("perfbench: run from the repository root (duckdb_server_spark/ not found)",
              file=sys.stderr)
        return 2
    signal.signal(signal.SIGTERM, _raise_exit)
    names = list(workloads.CLIENTS) if args.workload == "all" else [args.workload]
    work = os.path.join(root, WORK_DIR)
    warehouse = datagen.ensure_warehouse(os.path.join(work, "warehouse"))
    ticks_before = stats.cpu_ticks()

    # DuckDB answers every scheduled request while the server boots.
    requests = {r for n in names for client in workloads.schedule(n, args.seed) for r in client}
    answers: dict = {}
    oracle_error: list[Exception] = []

    def answer_all() -> None:
        try:
            oracle = Oracle(warehouse)
            try:
                answers.update(oracle.answers(list(requests)))
            finally:
                oracle.close()
        except Exception as exc:  # re-raised on the main thread
            oracle_error.append(exc)

    oracle_thread = threading.Thread(target=answer_all)
    oracle_thread.start()
    server = ServerProcess(root, warehouse, work, bool(args.trace))
    results: dict[str, dict] = {}
    try:
        port, setup_s = server.boot()
        t = time.monotonic()
        oracle_thread.join()
        print(f"perfbench: boot {setup_s:.1f}s, oracle wait {time.monotonic() - t:.1f}s",
              file=sys.stderr)
        if oracle_error:
            raise oracle_error[0]
        for i, name in enumerate(names):
            results[name] = run_workload(server, port, name, args.seed, args.seconds,
                                         bool(args.trace), answers, work, i)
        rss_mb = server.rss_peak_mb()
        boot = json.loads(server.command("boot").split(" ", 1)[1]) if args.trace else {}
    finally:
        t = time.monotonic()
        server.stop()
        oracle_thread.join()
        print(f"perfbench: stop {time.monotonic() - t:.1f}s", file=sys.stderr)
    host = stats.host_annotations(ticks_before, stats.cpu_ticks())

    attempted = failed = 0
    metrics: dict[str, dict] = {}
    for name, result in results.items():
        prefix = f"{name}." if len(names) > 1 else ""
        checked = result["checked"]
        attempted += sum(c.attempted for c in checked)
        failed += sum(c.failed + c.mismatched for c in checked)
        e2e = end_to_end(checked[0], setup_s, rss_mb)
        report(name, args, checked, e2e, result, boot, host)
        if args.trace:
            layers = dict(result["layers"])
            layers["session.bootstrap_s"] = boot.get("bootstrap_s", math.nan)
            layers["session.register_views_s"] = boot.get("register_views_s", math.nan)
            chosen = {k: (layers[k], unit) for k, unit in PER_LAYER.items()}
        else:
            chosen = {k: (e2e[k], unit) for k, unit in END_TO_END.items()}
        for key, (value, unit) in chosen.items():
            metrics[prefix + key] = {"value": value, "unit": unit}
    correct = failed == 0 and all(math.isfinite(m["value"]) for m in metrics.values())
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


def report(name: str, args, checked: list[Checked], e2e: dict, result: dict, boot: dict,
           host: dict) -> None:
    """Human-readable lines; the JSON result line follows them."""
    first = checked[0]
    n = len(first.latencies_ms)
    print(f"== {name}  seed={args.seed} seconds={args.seconds:g} clients={workloads.CLIENTS[name]} "
          f"closed-loop  host={json.dumps(host)}")
    for key, unit in END_TO_END.items():
        print(f"  {key:<22} {e2e[key]:>14.4f} {unit}")
    p90 = stats.percentile(first.latencies_ms, 90)
    print(f"  {'latency_p90_ms':<22} " + (f"{p90:>14.4f} ms (n={n})" if p90 is not None else
          f"{'n/a':>14} (n={n} < {stats.TAIL_SAMPLES * 10} samples)"))
    rate = stats.error_rate(first.attempted, first.failed, first.mismatched)
    print(f"  {'error_rate':<22} {rate:>14.4f} ratio "
          f"(failed={first.failed} mismatched={first.mismatched} attempted={first.attempted})")
    for line in first.problems[:10]:
        print(f"    ! {line}", file=sys.stderr)
    print("  per shape (n, latency p50 ms): " + ", ".join(
        f"{shape}=({len(samples)}, {stats.median([(s.done - s.sent) * 1e3 for s in samples]):.0f})"
        for shape, samples in sorted(first.by_shape.items())))
    if "layers" in result:
        layers = dict(result["layers"], **{f"session.{k}": v for k, v in boot.items()})
        for key, unit in {**PER_LAYER, **REPORT_ONLY_LAYER}.items():
            value = layers.get(key)
            if value is not None:
                print(f"  {key:<32} {value:>14.4f} {unit}")
        print("  self time per request (ms): " + ", ".join(
            f"{k}={v:.1f}" for k, v in sorted(result["self_ms"].items())))


if __name__ == "__main__":
    try:
        sys.exit(main())
    except BenchError as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        sys.exit(1)
    except Exception:
        traceback.print_exc()
        sys.exit(1)
