"""Spans around the engine's layers, installed by the benchmark.

The wrappers live in the benchmark, not in the engine: ``install`` patches
the public entry points of each layer in the server process (Flight
handlers, ``Engine`` verbs, ``FileSource.data_frame``, ``plot_downsample``,
``DataFrame.toArrow``, ``io.load_table``, py4j's ``send_command``).  A
wrapper records only inside a traced call — one the client marked with
``bench_trace`` in its ticket or action body, or one the analytics runner
opens — so untraced calls on the same server pay one thread-local lookup.

Each span carries its name, start, end, parent span and call id.  Spans
stay in memory until the run asks for them.  Each traced call also tags
its Spark jobs with a job group, resolved into job, stage and shuffle
counts after the run (the listener bus is asynchronous, so reading them
inside the call would both lag and add to its latency).
"""

from __future__ import annotations

import functools
import itertools
import json
import sys
import threading
import time
from contextlib import contextmanager
from typing import Any, Callable, Dict, List, Optional

JOB_GROUP_PREFIX = "perfbench-"


class _Call:
    """State of one traced call on its handler thread."""

    def __init__(self, call_id: str):
        self.call_id = call_id
        self.py4j = 0
        self.stack: List[int] = []


class Tracer:
    def __init__(self, spark_context):
        self.sc = spark_context
        self.spans: List[Dict[str, Any]] = []
        self.calls: List[Dict[str, Any]] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._ids = itertools.count(1)

    # -- call and span bookkeeping ---------------------------------------
    def current(self) -> Optional[_Call]:
        return getattr(self._local, "call", None)

    @contextmanager
    def call(self, call_id: str, verb: str):
        """A traced call: its spans share ``call_id`` and its Spark jobs
        run under one job group."""
        state = _Call(call_id)
        group = JOB_GROUP_PREFIX + call_id
        self.sc.setJobGroup(group, "perfbench", False)
        self._local.call = state
        start = time.perf_counter()
        try:
            with self.span("call", verb=verb):
                yield state
        finally:
            end = time.perf_counter()
            self._local.call = None
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            with self._lock:
                self.calls.append(
                    {
                        "call_id": call_id,
                        "verb": verb,
                        "ms": (end - start) * 1000,
                        "py4j": state.py4j,
                        "job_group": group,
                    }
                )

    @contextmanager
    def span(self, name: str, **attrs):
        state = self.current()
        if state is None:
            yield attrs
            return
        span_id = next(self._ids)
        parent = state.stack[-1] if state.stack else None
        state.stack.append(span_id)
        start = time.perf_counter()
        try:
            yield attrs
        finally:
            end = time.perf_counter()
            state.stack.pop()
            record = {
                "id": span_id,
                "parent": parent,
                "call_id": state.call_id,
                "name": name,
                "start": start,
                "end": end,
            }
            record.update(attrs)
            with self._lock:
                self.spans.append(record)

    def count_py4j(self) -> None:
        state = self.current()
        if state is not None:
            state.py4j += 1

    # -- Spark job accounting, after the run ------------------------------
    def job_stats(self) -> Dict[str, Dict[str, float]]:
        """Jobs, stages and shuffle-write bytes per traced call."""
        jsc = self.sc._jsc.sc()
        try:
            jsc.listenerBus().waitUntilEmpty()
        except Exception:  # noqa: BLE001 - private API; counts may lag
            time.sleep(1.0)
        tracker = self.sc.statusTracker()
        store = jsc.statusStore()
        out = {}
        for call in self.calls:
            jobs = tracker.getJobIdsForGroup(call["job_group"])
            stages = 0
            shuffle = 0
            for job in jobs:
                info = tracker.getJobInfo(job)
                if info is None:
                    continue
                for stage in info.stageIds:
                    stages += 1
                    try:
                        shuffle += store.lastStageAttempt(stage).shuffleWriteBytes()
                    except Exception:  # noqa: BLE001 - stage evicted or skipped
                        pass
            out[call["call_id"]] = {
                "jobs": len(jobs),
                "stages": stages,
                "shuffle_bytes": shuffle,
            }
        return out


def _payload(data: bytes) -> Dict[str, Any]:
    try:
        parsed = json.loads(data.decode()) if data else {}
    except ValueError:
        return {}
    return parsed if isinstance(parsed, dict) else {}


def _patch(owner, name: str, make: Callable[[Callable], Callable]) -> None:
    original = getattr(owner, name)
    wrapper = make(original)
    functools.update_wrapper(wrapper, original)
    setattr(owner, name, wrapper)


def _spanned(tracer: Tracer, span_name: str) -> Callable[[Callable], Callable]:
    def make(original):
        def wrapper(*args, **kwargs):
            if tracer.current() is None:
                return original(*args, **kwargs)
            with tracer.span(span_name):
                return original(*args, **kwargs)

        return wrapper

    return make


def install(tracer: Tracer) -> None:
    """Patch each layer's entry points in this process."""
    import py4j.clientserver
    import py4j.java_gateway
    from pyspark.sql.classic.dataframe import DataFrame

    from kukur_spark import flight
    from kukur_spark.app import Engine
    from kukur_spark.io import load_table
    from kukur_spark.operators.plot import plot_downsample
    from kukur_spark.sources.file_source import FileSource

    server_cls = flight.KukurFlightServer

    def handler(kind: str):
        def make(original):
            def wrapper(self, context, request):
                if kind == "do_get":
                    payload = _payload(request.ticket)
                    verb = payload.get("query", "get_data")
                else:
                    payload = _payload(
                        request.body.to_pybytes() if request.body else b""
                    )
                    verb = request.type
                call_id = payload.get("bench_call_id")
                if not payload.get("bench_trace") or call_id is None:
                    return original(self, context, request)
                with tracer.call(call_id, verb):
                    with tracer.span("flight.handler", verb=verb):
                        return original(self, context, request)

            return wrapper

        return make

    _patch(server_cls, "do_get", handler("do_get"))
    _patch(server_cls, "do_action", handler("do_action"))
    for verb in ("search", "get_metadata", "get_data", "get_plot_data", "sql"):
        _patch(Engine, verb, _spanned(tracer, f"app.{verb}"))
    _patch(FileSource, "data_frame", _spanned(tracer, "sources.data_frame"))

    def to_arrow(original):
        def wrapper(self, *args, **kwargs):
            if tracer.current() is None:
                return original(self, *args, **kwargs)
            with tracer.span("exec.to_arrow") as attrs:
                table = original(self, *args, **kwargs)
                attrs["rows"] = table.num_rows
                attrs["arrow_bytes"] = table.nbytes
                return table

        return wrapper

    # the session's DataFrame class (classic, not Connect) defines toArrow
    _patch(DataFrame, "toArrow", to_arrow)

    def py4j_counter(original):
        def wrapper(self, *args, **kwargs):
            tracer.count_py4j()
            return original(self, *args, **kwargs)

        return wrapper

    _patch(py4j.clientserver.ClientServerConnection, "send_command", py4j_counter)
    _patch(py4j.java_gateway.GatewayConnection, "send_command", py4j_counter)

    # functions imported by name are rebound in every engine module that
    # holds them, so the span sees calls from all call sites
    replacements = {
        id(plot_downsample): _traced_function(tracer, plot_downsample, "operators.plot"),
        id(load_table): _traced_function(tracer, load_table, "io.load_table"),
    }
    for module_name, module in list(sys.modules.items()):
        if module is None or not module_name.startswith("kukur_spark"):
            continue
        for attr, value in list(vars(module).items()):
            replacement = replacements.get(id(value))
            if replacement is not None:
                setattr(module, attr, replacement)


def _traced_function(tracer: Tracer, original: Callable, span_name: str) -> Callable:
    wrapper = _spanned(tracer, span_name)(original)
    functools.update_wrapper(wrapper, original)
    return wrapper
