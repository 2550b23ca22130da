"""Gateway benchmark for the kukur_spark engine.

    python3 perfbench/run.py --workload verbs_zipf --seed 1 --seconds 15 --trace 0

Workloads:

- ``verbs_zipf``: 2 closed-loop clients send a seeded verb mix (60%
  get_data, 25% get_plot_data, 10% tag-filtered search, 5% get_metadata)
  whose selectors follow Zipf(1.1) over ~1,000 series;
- ``export_bulk``: 1 closed-loop client fetches large results — full-range
  get_data per event type (~20k rows) and sql scans of lineitem (100k to
  600k rows), in whole cycles;
- ``analytics_sf01``: the 18 ``bench.py`` headline queries, timed as build
  plus ``count()`` inside the server process, in whole passes.

BENCHMARK.json gates the two Flight workloads on the metrics they share
(FLIGHT_E2E, FLIGHT_LAYERS).  ``analytics_sf01`` runs on request only: a
run costs about a minute, and it exercises none of the Flight-path layers.

Each run makes its call stream from the seed (``datagen.py``; the sf0.1
tables come from a fixed data seed and are written once per checkout),
launches the Flight server (``server.py``) in its own process twice to
time set-up, warms it with a fixed number of the workload's own calls,
drives the workload from this process for ``--seconds`` (once more if
the hypervisor stole much CPU meanwhile), checks every output against
DuckDB (``checks.py``) and prints three lines: the environment, the full
report (every metric by name, with its unit) and, last, the result
object.  ``--trace 1`` starts the server with the layer wrappers of
``tracing.py``, traces every second call (export cycle, analytics pass),
and reports per-layer metrics plus the tracing overhead (traced minus
untraced calls of the same run).
``--workload all`` runs the three workloads in turn.

Everything the run writes stays under ``.bench_build/perfbench`` in the
checkout; the full report, every call and, with tracing, the spans are
kept there as ``<workload>-seed<seed>-trace<0|1>.json``.  The exit code is
non-zero when any output is wrong or a call fails.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import itertools
import json
import math
import os
import shutil
import signal
import socket
import statistics
import subprocess
import sys
import tempfile
import threading
import time

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.flight as fl

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
if __name__ == "__main__":
    # run as a script, Python puts perfbench/ first on the path; the
    # package root goes there instead (kukur_spark, bench, perfbench.*)
    sys.path[0] = ROOT

from perfbench import checks, datagen, stats  # noqa: E402

WORKLOADS = ("verbs_zipf", "export_bulk", "analytics_sf01")
VERB_CLIENTS = 2
# server launches per run whose set-up time is measured (median reported);
# a traced run launches once and reports no set-up time
SETUP_REPEATS = 2
# warm-up before the measured window, counted in calls so that the
# server's state when the window opens (JIT-compiled code, plan cache)
# does not depend on how fast the host is.  verbs_zipf latency falls
# steeply for the first ~160 calls of a server's life and is nearly flat
# after them.  The cap keeps a run within its time on a slow host.
VERB_WARMUP_CALLS = 200
EXPORT_WARMUP_CYCLES = 5
WARMUP_CAP_SECONDS = 60.0
# a measured window during which the hypervisor took more than this share
# of the machine's CPU is measured again, once; the window with less
# steal is kept (the other's calls are checked like warm-up calls)
STEAL_LIMIT_PCT = 8.0
MAX_WINDOWS = 2
SERVER_DRIVER_MEMORY = "2g"


def _free_port() -> int:
    with socket.socket() as probe:
        probe.bind(("127.0.0.1", 0))
        return probe.getsockname()[1]


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _cpu_times() -> list[int]:
    with open("/proc/stat") as stat:
        return [int(x) for x in stat.readline().split()[1:]]


def _steal_pct(before: list[int], after: list[int]) -> float:
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta[:8])
    return 100.0 * delta[7] / total if total and len(delta) > 7 else 0.0


class VerbClient:
    """A Flight client speaking the Kukur JSON protocol (tickets and
    action bodies are JSON), one per load thread."""

    def __init__(self, port: int, api_key: str | None):
        self._conn = fl.connect(f"grpc://127.0.0.1:{port}")
        headers = [(b"x-api-key", api_key.encode())] if api_key else []
        self._options = fl.FlightCallOptions(headers=headers)

    def get(self, request: dict):
        ticket = fl.Ticket(json.dumps(request).encode())
        return self._conn.do_get(ticket, self._options).read_all()

    def action(self, kind: str, body: dict) -> list:
        action = fl.Action(kind, json.dumps(body).encode())
        return [
            json.loads(result.body.to_pybytes())
            for result in self._conn.do_action(action, self._options)
        ]

    def close(self) -> None:
        self._conn.close()


def _selector(tags: dict) -> dict:
    return {"source": datagen.SERIES_SOURCE, "tags": tags, "field": "value"}


def execute(client: VerbClient, call: dict, marker: dict):
    """Send one generated call; return the raw reply."""
    verb = call["verb"]
    if verb in ("get_data", "get_plot_data"):
        request = {
            "query": verb,
            "selector": _selector(call["tags"]),
            "start_date": call["start"],
            "end_date": call["end"],
            **marker,
        }
        if verb == "get_plot_data":
            request["interval_count"] = call["interval_count"]
        return client.get(request)
    if verb == "sql":
        return client.get(
            {
                "query": "sql",
                "statement": call["statement"],
                "sources": [datagen.LINEITEM_SOURCE],
                "args": call["args"],
                **marker,
            }
        )
    if verb == "search":
        body = {"search": {"source": datagen.SERIES_SOURCE, "tags": call["tags"]}, **marker}
        return client.action("search", body)
    if verb == "get_metadata":
        return client.action("get_metadata", {"selector": _selector(call["tags"]), **marker})
    raise ValueError(f"unknown verb {verb}")


def summarize_reply(call: dict, reply) -> dict:
    """What the checks need of a reply, so the reply can be dropped."""
    verb = call["verb"]
    if verb in ("get_data", "sql"):
        column = "value" if verb == "get_data" else "l_extendedprice"
        ts_sum = 0
        if verb == "get_data" and reply.num_rows:
            ts_sum = pc.sum(reply["ts"].cast(pa.int64())).as_py()
        total = pc.sum(reply[column]).as_py() if reply.num_rows else 0.0
        return {
            "rows": reply.num_rows,
            "value_sum": total or 0.0,
            "ts_sum": ts_sum,
            "arrow_bytes": reply.nbytes,
        }
    if verb == "get_plot_data":
        ts = reply["ts"].cast(pa.int64()).to_pylist()
        return {
            "points": list(zip(ts, reply["value"].to_pylist())),
            "arrow_bytes": reply.nbytes,
        }
    if verb == "search":
        return {"found": [item.get("tags", {}) for item in reply]}
    return {"series": reply[0].get("series", {}) if reply else {}}


class Recorder:
    """Client-side record of every measured call."""

    def __init__(self, trace: bool):
        self.trace = trace
        self.records: list[dict] = []
        # CPU time the hypervisor took from this machine during the
        # measured window, as a share of all CPU time
        self.steal_pct = 0.0
        self.window_steal_pct: list[float] = []
        self._lock = threading.Lock()
        self._next = 0

    def _marker(self, traced) -> tuple[int, dict]:
        with self._lock:
            index = self._next
            self._next += 1
        marker = {"bench_call_id": f"c{index}"}
        if self.trace and (index % 2 == 1 if traced is None else traced):
            marker["bench_trace"] = True
        return index, marker

    @contextlib.contextmanager
    def window(self):
        """Around the measured window: records the host's steal."""
        before = _cpu_times()
        yield
        self.steal_pct = _steal_pct(before, _cpu_times())

    def timed(self, client: VerbClient, call: dict, traced=None) -> None:
        """Send ``call`` and record it.  With tracing on, every second
        call is traced unless ``traced`` says otherwise."""
        index, marker = self._marker(traced)
        start = time.perf_counter()
        error = None
        try:
            reply = execute(client, call, marker)
        except Exception as exc:  # noqa: BLE001 - a failed call is counted, not fatal
            error = f"{type(exc).__name__}: {exc}"
        end = time.perf_counter()
        record = {
            "index": index,
            "call_id": marker["bench_call_id"],
            "traced": bool(marker.get("bench_trace")),
            "call": call,
            "start": start,
            "end": end,
            "ms": (end - start) * 1000,
            "error": error,
        }
        if error is None:
            record["summary"] = summarize_reply(call, reply)
        with self._lock:
            self.records.append(record)


# ---------------------------------------------------------------------------
# server lifetime
# ---------------------------------------------------------------------------


class Server:
    """One server process (and its JVM), in its own process group."""

    def __init__(self, run_dir: str, config_path: str, api_key, trace: bool, analytics: bool):
        self.port = _free_port()
        self.api_key = api_key
        env = dict(os.environ)
        tmp = os.path.join(run_dir, "tmp")
        os.makedirs(tmp, exist_ok=True)
        env.update(
            {
                "SPARK_GRAFT_CPUS": str(_nproc()),
                "SPARK_DRIVER_MEMORY": SERVER_DRIVER_MEMORY,
                "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
                "TMPDIR": tmp,
                "PYSPARK_SUBMIT_ARGS": (
                    f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" '
                    "pyspark-shell"
                ),
            }
        )
        command = [
            sys.executable,
            os.path.join(HERE, "server.py"),
            "--port",
            str(self.port),
            "--config",
            config_path,
        ]
        if trace:
            command.append("--trace")
        if analytics:
            command.append("--analytics")
        self._log = open(os.path.join(run_dir, f"server-{self.port}.log"), "wb")
        self.started = time.perf_counter()
        self.proc = subprocess.Popen(
            command,
            cwd=run_dir,
            env=env,
            stdin=subprocess.DEVNULL,
            stdout=self._log,
            stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        self.client: VerbClient | None = None

    def wait_ready(self, probe_tags: dict, timeout: float = 150.0) -> float:
        """Seconds from launch to the first successful verb reply."""
        deadline = self.started + timeout
        while True:
            if self.proc.poll() is not None:
                raise RuntimeError(f"server exited with {self.proc.returncode}; see {self._log.name}")
            if time.perf_counter() > deadline:
                raise RuntimeError("server did not answer in time")
            try:
                with socket.create_connection(("127.0.0.1", self.port), timeout=1):
                    break
            except OSError:
                time.sleep(0.01)
        self.client = VerbClient(self.port, self.api_key)
        while True:
            try:
                self.client.action("get_metadata", {"selector": _selector(probe_tags)})
                return time.perf_counter() - self.started
            except fl.FlightError:
                if self.proc.poll() is not None or time.perf_counter() > deadline:
                    raise
                time.sleep(0.01)

    def stop(self) -> None:
        """Kill the server and its JVM and wait until both have ended."""
        if self.client is not None:
            self.client.close()
            self.client = None
        try:
            os.killpg(self.proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        self.proc.wait()
        self._log.close()
        # the JVM was the server's child; once it is gone from the group
        # (reaped by whoever inherited it) nothing of this server is left
        deadline = time.monotonic() + 30
        while time.monotonic() < deadline:
            try:
                os.killpg(self.proc.pid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.02)
        raise RuntimeError(f"server process group {self.proc.pid} did not end")


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------


def run_verbs(server: Server, seed: int, seconds: float, trace: bool) -> tuple[list, Recorder]:
    """Warm up, then drive the verb mix for ``seconds``; return the
    warm-up records and the recorder of the measured calls."""
    # enough calls for any run: the server answers well under 60 a second
    stream = datagen.verbs_stream(
        seed, VERB_WARMUP_CALLS + int(60 * seconds) * MAX_WINDOWS + 200
    )
    # the first call of each verb pays its one-off compile cost
    first_of_each = list({call["verb"]: call for call in reversed(stream)}.values())
    clients = [VerbClient(server.port, None) for _ in range(VERB_CLIENTS)]
    try:
        warm = Recorder(False)
        for call in first_of_each:
            warm.timed(clients[0], call)
        _closed_loop(
            clients,
            iter(stream[:VERB_WARMUP_CALLS]),
            warm,
            time.perf_counter() + WARMUP_CAP_SECONDS,
        )
        # the window continues the stream where the warm-up stopped
        calls = iter(stream[len(warm.records) - len(first_of_each) :])
        recorder = measure(
            lambda rec: _closed_loop(clients, calls, rec, time.perf_counter() + seconds),
            trace,
            warm,
        )
    finally:
        for client in clients:
            client.close()
    return warm.records, recorder


def measure(run_window, trace: bool, warm: Recorder) -> Recorder:
    """Run the measured window (``run_window(recorder)``) and return its
    recorder.  A window with more than STEAL_LIMIT_PCT steal is run again
    (not when tracing, whose spans are keyed by call id)."""
    windows = []
    for _ in range(1 if trace else MAX_WINDOWS):
        recorder = Recorder(trace)
        with recorder.window():
            run_window(recorder)
        windows.append(recorder)
        if recorder.steal_pct <= STEAL_LIMIT_PCT:
            break
    kept = min(windows, key=lambda r: r.steal_pct)
    for other in windows:
        if other is not kept:
            warm.records.extend(other.records)
    kept.window_steal_pct = [r.steal_pct for r in windows]
    return kept


def _closed_loop(clients, calls, recorder: Recorder, deadline) -> None:
    """Each client sends its next call when its previous reply is in,
    until the calls run out or (if given) the deadline passes."""
    lock = threading.Lock()

    def loop(client: VerbClient) -> None:
        while deadline is None or time.perf_counter() < deadline:
            with lock:
                call = next(calls, None)
            if call is None:
                return
            recorder.timed(client, call)

    threads = [threading.Thread(target=loop, args=(c,)) for c in clients]
    for thread in threads:
        thread.start()
    for thread in threads:
        thread.join()


def run_export(server: Server, seed: int, seconds: float, trace: bool) -> tuple[list, Recorder]:
    """Warm up, then send whole export cycles until ``seconds`` have
    passed; return the warm-up records and the recorder of the measured
    calls."""
    client = VerbClient(server.port, datagen.API_KEY)
    cycles = itertools.count()
    try:
        # whole cycles: with fewer calls, compile and heap-sizing costs of
        # the large results spill into the measured window
        warm = Recorder(False)
        cap = time.perf_counter() + WARMUP_CAP_SECONDS
        for cycle in range(-EXPORT_WARMUP_CYCLES, 0):
            if time.perf_counter() > cap:
                break
            for call in datagen.export_cycle(seed, cycle):
                warm.timed(client, call)

        def window(recorder: Recorder) -> None:
            deadline = time.perf_counter() + seconds
            while time.perf_counter() < deadline:
                cycle = next(cycles)
                # whole cycles are traced or not, so both halves hold every size
                for call in datagen.export_cycle(seed, cycle):
                    recorder.timed(client, call, traced=cycle % 2 == 1)

        recorder = measure(window, trace, warm)
    finally:
        client.close()
    return warm.records, recorder


def run_analytics(server: Server, seed: int, seconds: float, tables_dir: str) -> dict:
    from bench import BENCH_QUERIES
    # enough orders for any run length; the server stops after ``seconds``
    orders = datagen.analytics_order(seed, 200, list(BENCH_QUERIES))
    body = {"tables_dir": tables_dir, "orders": orders, "seconds": seconds}
    return server.client.action("bench.analytics", body)[0]


# ---------------------------------------------------------------------------
# checks
# ---------------------------------------------------------------------------


def check_records(records: list[dict], tables_dir: str) -> list[str]:
    """Check every successful reply; return one line per mismatch (and
    mark the record)."""
    fixture = checks.SeriesFixture(os.path.join(tables_dir, "series.parquet"))
    lineitem = os.path.join(tables_dir, "lineitem.parquet")
    problems = []
    for record in records:
        if record["error"] is not None:
            problems.append(f"{record['call_id']}: {record['error']}")
            continue
        call, summary = record["call"], record["summary"]
        verb = call["verb"]
        if verb == "get_data":
            problem = fixture.check_get_data(call["tags"], call["start"], call["end"], summary)
        elif verb == "get_plot_data":
            problem = fixture.check_plot(
                call["tags"], call["start"], call["end"], call["interval_count"], summary["points"]
            )
        elif verb == "search":
            problem = fixture.check_search(call["tags"], summary["found"])
        elif verb == "sql":
            problem = checks.check_sql_export(lineitem, call["args"], summary)
        else:
            tags = summary["series"].get("tags")
            problem = None if tags == call["tags"] else f"get_metadata {call['tags']}: got {tags}"
        if problem is not None:
            record["error"] = problem
            problems.append(f"{record['call_id']}: {problem}")
    return problems


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------

# the metrics of the last output line, per workload and trace mode;
# BENCHMARK.json gates the two Flight workloads on exactly these
FLIGHT_E2E = ("setup_s", "get_data_p50_ms", "calls_per_s")
FLIGHT_LAYERS = (
    "flight.handler_ms",
    "flight.wire_ms",
    "flight.arrow_bytes",
    "flight.rows",
    "app.build_ms",
    "app.build_ms.get_data",
    "driver.py4j_calls",
    "driver.py4j_calls.get_data",
    "sources.plan_builds_ratio",
    "sources.cache_entries",
    "exec.to_arrow_ms",
    "spark.jobs",
    "spark.stages",
    "spark.shuffle_bytes",
    "driver.rss_peak_mb",
)
ANALYTICS_E2E = ("setup_s", "call_p50_ms", "calls_per_s", "queries_total_s", "queries_geomean_ms")

# which end-to-end metric each layer metric should move, and where
LAYER_MOVES = {
    "flight.handler_ms": "get_data_p50_ms on verbs_zipf; calls_per_s on export_bulk",
    "flight.wire_ms": "calls_per_s and arrow_mb_per_s (report) on export_bulk; get_data_p50_ms on verbs_zipf",
    "flight.arrow_bytes": "calls_per_s and arrow_mb_per_s (report) on export_bulk",
    "flight.rows": "calls_per_s and arrow_mb_per_s (report) on export_bulk",
    "app.build_ms": "get_data tail (report) and calls_per_s on verbs_zipf; barely export_bulk",
    "driver.py4j_calls": "get_data tail (report) and calls_per_s on verbs_zipf; barely export_bulk",
    "sources.plan_builds_ratio": "get_data_p50_ms on verbs_zipf; flat on analytics_sf01",
    "sources.cache_entries": "get_data_p50_ms on verbs_zipf; flat on analytics_sf01",
    "operators.plot.build_ms": "get_plot_data_p50_ms (report) and calls_per_s on verbs_zipf",
    "spark.jobs.get_plot_data": "get_plot_data_p50_ms (report) and calls_per_s on verbs_zipf",
    "exec.to_arrow_ms": "calls_per_s, export_p50_ms and arrow_mb_per_s (report) on export_bulk",
    "driver.rss_peak_mb": "calls_per_s, export_p50_ms and arrow_mb_per_s (report) on export_bulk",
    "workloads.build_ms.<q>": "queries_total_s and queries_geomean_ms on analytics_sf01",
    "exec.count_ms.<q>": "queries_total_s and queries_geomean_ms on analytics_sf01",
    "io.load_table_ms": "queries_total_s on analytics_sf01",
}


def _metric(value: float, unit: str, **extra) -> dict:
    return {"value": value, "unit": unit, **extra}


def _mean(values) -> float:
    values = list(values)
    return sum(values) / len(values) if values else 0.0


def flight_call_metrics(recorder: Recorder, label: str) -> dict:
    """End-to-end metrics of a closed-loop window of verb calls, plus the
    medians and tails of all calls (``<label>_*``) and of each verb."""
    records = recorder.records
    window = max(r["end"] for r in records) - min(r["start"] for r in records)
    received = sum(r.get("summary", {}).get("arrow_bytes", 0) for r in records)
    report = {
        "calls_per_s": _metric(
            len(records) / window,
            "1/s",
            window_s=window,
            steal_pct=recorder.steal_pct,
            windows_steal_pct=recorder.window_steal_pct,
        ),
        "arrow_mb_per_s": _metric(received / 1e6 / window, "MB/s", bytes=received),
    }
    report.update(stats.summarize(label, [r["ms"] for r in records]))
    by_verb: dict[str, list[float]] = {}
    for record in records:
        by_verb.setdefault(record["call"]["verb"], []).append(record["ms"])
    for verb, samples in sorted(by_verb.items()):
        report.update(stats.summarize(verb, samples))
    return report


def analytics_records(result: dict) -> list[dict]:
    return [
        {**timing, "pass": index, "error": None}
        for index, timings in enumerate(result["passes"])
        for timing in timings
    ]


def analytics_metrics(records: list[dict]) -> dict:
    """Each query's median over the passes; their sum and geometric mean.
    Calls are query executions, back to back in one thread."""
    by_query: dict[str, list[float]] = {}
    for record in records:
        by_query.setdefault(record["query"], []).append(record["ms"])
    medians = {q: statistics.median(v) for q, v in by_query.items()}
    busy = sum(r["ms"] for r in records) / 1000
    report = {
        "call_p50_ms": _metric(statistics.median(r["ms"] for r in records), "ms", n=len(records)),
        "calls_per_s": _metric(len(records) / busy, "1/s", busy_s=busy),
        "queries_total_s": _metric(sum(medians.values()) / 1000, "s", passes=1 + max(r["pass"] for r in records)),
        "queries_geomean_ms": _metric(math.exp(_mean(math.log(v) for v in medians.values())), "ms"),
    }
    for name, value in sorted(medians.items()):
        report[f"query_ms.{name}"] = _metric(value, "ms")
    return report


def overhead_report(records: list[dict], key) -> dict:
    """Tracing overhead: median of traced minus median of untraced calls
    of the same run, per verb (or query) and the median of those."""
    groups: dict[str, dict[bool, list[float]]] = {}
    for record in records:
        groups.setdefault(key(record), {True: [], False: []})[record["traced"]].append(record["ms"])
    out = {}
    for name, split in sorted(groups.items()):
        if split[True] and split[False]:
            delta = statistics.median(split[True]) - statistics.median(split[False])
            out[f"trace.overhead_p50_ms.{name}"] = _metric(
                delta, "ms", traced=len(split[True]), untraced=len(split[False])
            )
    if out:
        out["trace.overhead_p50_ms"] = _metric(statistics.median(m["value"] for m in out.values()), "ms")
    return out


def _call_kind(record: dict) -> str:
    """Verb, and for sql the ladder size, so traced and untraced calls
    are compared like for like."""
    verb = record["call"]["verb"]
    if verb == "sql" and "summary" in record:
        return f"sql.{round(record['summary']['rows'] / 100_000)}00k"
    return verb


def traced_rows(trace: dict, client_records: list[dict]) -> list[dict]:
    """One row of layer figures per traced call, from its spans."""
    spans_by_call: dict[str, list[dict]] = {}
    for span in trace["spans"]:
        spans_by_call.setdefault(span["call_id"], []).append(span)
    client_ms = {r["call_id"]: r["ms"] for r in client_records}
    rows = []
    for call in trace["calls"]:
        spans = spans_by_call.get(call["call_id"], [])

        def total(*names):
            chosen = [s for s in spans if s["name"] in names]
            if not chosen:
                return None
            return sum(s["end"] - s["start"] for s in chosen) * 1000

        arrow = [s for s in spans if s["name"] == "exec.to_arrow"]
        row = {
            "verb": call["verb"],
            "py4j": call["py4j"],
            "build_ms": total("app.get_data", "app.get_plot_data", "app.sql", "workloads.build"),
            "exec_ms": total("exec.to_arrow", "exec.count"),
            "handler_ms": total("flight.handler"),
            "plot_ms": total("operators.plot"),
            "load_table_ms": total("io.load_table") or 0.0,
            "data_frame_calls": sum(1 for s in spans if s["name"] == "sources.data_frame"),
            "arrow_bytes": sum(s.get("arrow_bytes", 0) for s in arrow),
            "rows": sum(s.get("rows", 0) for s in arrow),
            **trace["jobs"].get(call["call_id"], {"jobs": 0, "stages": 0, "shuffle_bytes": 0}),
        }
        if row["handler_ms"] is not None and call["call_id"] in client_ms:
            row["wire_ms"] = client_ms[call["call_id"]] - row["handler_ms"]
        rows.append(row)
    return rows


def _mean_of(rows: list[dict], field: str) -> float:
    return _mean(r[field] for r in rows if r.get(field) is not None)


def flight_layers(rows: list[dict], stats_reply: dict) -> dict:
    """Per-layer metrics of traced verb calls (means per call)."""
    entries = stats_reply["cache_entries"]
    rss = stats_reply["rss_peak_mb"]
    out = {
        "traced_calls": _metric(len(rows), "count"),
        "flight.handler_ms": _metric(_mean_of(rows, "handler_ms"), "ms"),
        "flight.wire_ms": _metric(_mean_of(rows, "wire_ms"), "ms"),
        "flight.arrow_bytes": _metric(_mean_of(rows, "arrow_bytes"), "bytes"),
        "flight.rows": _metric(_mean_of(rows, "rows"), "count"),
        "app.build_ms": _metric(_mean_of(rows, "build_ms"), "ms"),
        "driver.py4j_calls": _metric(_mean_of(rows, "py4j"), "count"),
        "sources.plan_builds_ratio": _metric(_mean_of(rows, "data_frame_calls"), "1/call"),
        "sources.cache_entries": _metric(sum(entries.values()), "count", **entries),
        "exec.to_arrow_ms": _metric(_mean_of(rows, "exec_ms"), "ms"),
        "spark.jobs": _metric(_mean_of(rows, "jobs"), "count"),
        "spark.stages": _metric(_mean_of(rows, "stages"), "count"),
        "spark.shuffle_bytes": _metric(_mean_of(rows, "shuffle_bytes"), "bytes"),
        "driver.rss_peak_mb": _metric(rss["python"] + rss["jvm"], "MB", **rss),
    }
    for verb in sorted({r["verb"] for r in rows}):
        subset = [r for r in rows if r["verb"] == verb]
        if any(r["build_ms"] is not None for r in subset):
            out[f"app.build_ms.{verb}"] = _metric(_mean_of(subset, "build_ms"), "ms", n=len(subset))
        out[f"driver.py4j_calls.{verb}"] = _metric(_mean_of(subset, "py4j"), "count", n=len(subset))
        if verb == "get_plot_data":
            out["operators.plot.build_ms"] = _metric(_mean_of(subset, "plot_ms"), "ms", n=len(subset))
            for field, unit in (("jobs", "count"), ("stages", "count"), ("shuffle_bytes", "bytes")):
                out[f"spark.{field}.get_plot_data"] = _metric(_mean_of(subset, field), unit, n=len(subset))
    return out


def analytics_layers(rows: list[dict], stats_reply: dict) -> dict:
    """Per-layer metrics of the traced analytics passes (means per query)."""
    rss = stats_reply["rss_peak_mb"]
    out = {
        "io.load_table_ms": _metric(_mean_of(rows, "load_table_ms"), "ms"),
        "driver.py4j_calls": _metric(_mean_of(rows, "py4j"), "count"),
        "driver.rss_peak_mb": _metric(rss["python"] + rss["jvm"], "MB", **rss),
    }
    for name in sorted({r["verb"] for r in rows}):
        subset = [r for r in rows if r["verb"] == name]
        out[f"workloads.build_ms.{name}"] = _metric(_mean_of(subset, "build_ms"), "ms")
        out[f"exec.count_ms.{name}"] = _metric(_mean_of(subset, "exec_ms"), "ms")
        out[f"spark.jobs.{name}"] = _metric(_mean_of(subset, "jobs"), "count")
        out[f"spark.shuffle_bytes.{name}"] = _metric(_mean_of(subset, "shuffle_bytes"), "bytes")
    return out


# ---------------------------------------------------------------------------
# one run
# ---------------------------------------------------------------------------


class Phases:
    """Wall time of each step of a run, for the environment block."""

    def __init__(self):
        self.seconds: dict[str, float] = {}
        self._mark = time.perf_counter()

    def __call__(self, name: str) -> None:
        now = time.perf_counter()
        self.seconds[name] = now - self._mark
        self._mark = now


def _tables() -> str:
    """The generated tables, written by the first run in a checkout and
    read by every later one: they come from a fixed data seed, so they
    only change with ``datagen.py``, whose digest names their directory."""
    with open(datagen.__file__, "rb") as source:
        digest = hashlib.sha256(source.read()).hexdigest()[:16]
    path = os.path.join(WORK, f"tables-{digest}")
    if not os.path.isdir(path):
        staging = tempfile.mkdtemp(prefix="tables-", dir=WORK)
        datagen.write_tables(staging)
        os.replace(staging, path)
    return path


def _call_row(record: dict) -> dict:
    row = {k: record.get(k) for k in ("call_id", "query", "pass", "traced", "start", "end", "ms")}
    if "call" in record:
        row.update(verb=record["call"]["verb"], rows=record.get("summary", {}).get("rows"))
    return row


def run_workload(workload: str, seed: int, seconds: float, trace: bool) -> int:
    from bench import BENCH_QUERIES, cpu_calibration

    phase = Phases()
    os.makedirs(WORK, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{workload}-", dir=WORK)
    tables_dir = _tables()
    config_path = os.path.join(run_dir, "config.json")
    with open(config_path, "w") as handle:
        json.dump(datagen.server_config(tables_dir, with_sql=workload == "export_bulk"), handle)
    api_key = datagen.API_KEY if workload == "export_bulk" else None
    probe = {"event_type": datagen.EVENT_TYPES[0], "uid": "0"}
    phase("tables")

    cpu_before = cpu_calibration()
    phase("calibration_before")
    cpu_start = _cpu_times()
    setups = []
    server = None
    try:
        # each launch is timed; the last one serves the workload
        for attempt in range(1 if trace else SETUP_REPEATS):
            if server is not None:
                server.stop()
            server = Server(run_dir, config_path, api_key, trace, workload == "analytics_sf01")
            setups.append(server.wait_ready(probe))
            phase(f"setup_{attempt}")
        info = server.client.action("bench.info", {})[0]
        if workload == "verbs_zipf":
            warmup, recorder = run_verbs(server, seed, seconds, trace)
        elif workload == "export_bulk":
            warmup, recorder = run_export(server, seed, seconds, trace)
        else:
            warmup, records = [], analytics_records(run_analytics(server, seed, seconds, tables_dir))
        phase("workload")
        stats_reply = server.client.action("bench.stats", {})[0]
    finally:
        if server is not None:
            server.stop()
    phase("stop")
    cpu_after = cpu_calibration()
    phase("calibration_after")
    steal = _steal_pct(cpu_start, _cpu_times())

    # correctness, outside every timed region
    if workload == "analytics_sf01":
        expected = checks.oracle_row_counts(tables_dir, BENCH_QUERIES)
        problems = []
        for record in records:
            want = expected.get(record["query"])
            if want is not None and want != record["rows"]:
                record["error"] = f"{record['query']}: {record['rows']} rows, oracle {want}"
                problems.append(record["error"])
    else:
        records = recorder.records
        problems = check_records(warmup + records, tables_dir)
    phase("checks")
    shutil.rmtree(run_dir, ignore_errors=True)
    failed = sum(1 for r in records if r["error"] is not None)

    env_block = {
        "workload": workload,
        "seed": seed,
        "seconds": seconds,
        "trace": trace,
        "nproc": _nproc(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "server_SPARK_GRAFT_CPUS": str(_nproc()),
        "defaultParallelism": info["default_parallelism"],
        "master": info["master"],
        "spark_version": info["spark_version"],
        "cpus_match": info["default_parallelism"] == _nproc(),
        "cpu_steal_pct": steal,
        "cpu_calibration_s": {"before": cpu_before, "after": cpu_after},
        "setup_samples_s": setups,
        "phase_s": phase.seconds,
    }
    report: dict = {
        "failed_ratio": _metric(failed / len(records), "ratio", failed=failed, attempted=len(records)),
    }
    if not trace:
        report["setup_s"] = _metric(statistics.median(setups), "s", samples=setups)
    if workload == "analytics_sf01":
        report.update(analytics_metrics(records))
        names = ANALYTICS_E2E
    else:
        report.update(
            flight_call_metrics(recorder, "export" if workload == "export_bulk" else "call")
        )
        names = FLIGHT_E2E
    if trace:
        if workload == "analytics_sf01":
            report.update(overhead_report(records, lambda r: r["query"]))
            layers = analytics_layers(traced_rows(stats_reply["trace"], []), stats_reply)
            names = tuple(layers)
        else:
            report.update(overhead_report(records, _call_kind))
            layers = flight_layers(traced_rows(stats_reply["trace"], records), stats_reply)
            names = FLIGHT_LAYERS
        report.update(layers)
        report["layer_moves"] = LAYER_MOVES

    result = {
        "correct": not problems,
        "attempted": len(records),
        "failed": failed,
        "metrics": {n: {"value": report[n]["value"], "unit": report[n]["unit"]} for n in names},
    }
    output = {
        "env": env_block,
        "report": report,
        "problems": problems,
        "result": result,
        "calls": [_call_row(r) for r in records],
        "warmup_calls": [_call_row(r) for r in warmup],
    }
    if trace:
        output["spans"] = stats_reply["trace"]["spans"]
    with open(os.path.join(WORK, f"{workload}-seed{seed}-trace{int(trace)}.json"), "w") as handle:
        json.dump(output, handle, default=str)

    print("perfbench env " + json.dumps(env_block), flush=True)
    print("perfbench report " + json.dumps(report), flush=True)
    for problem in problems[:20]:
        print(f"perfbench mismatch {problem}", file=sys.stderr)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] and failed == 0 else 1


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", default="all", choices=WORKLOADS + ("all",))
    parser.add_argument("--seed", type=int, default=1)
    parser.add_argument("--seconds", type=float, default=15)
    parser.add_argument("--trace", type=int, default=0, choices=(0, 1))
    args = parser.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "kukur_spark", "__init__.py")):
        print("perfbench: no kukur_spark package next to perfbench/", file=sys.stderr)
        return 2
    workloads = WORKLOADS if args.workload == "all" else (args.workload,)
    status = 0
    for workload in workloads:
        status |= run_workload(workload, args.seed, args.seconds, bool(args.trace))
    return status


if __name__ == "__main__":
    sys.exit(main())
