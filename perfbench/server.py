"""The benchmark's server process: the engine behind Arrow Flight.

    python perfbench/server.py --port N --config CONFIG.json [--trace] [--analytics]

It builds the Spark session and the ``Engine`` from the generated config
and serves the unchanged ``KukurFlightServer`` verbs.  A few ``bench.*``
actions, handled before the verbs, let the load process run the
in-process analytics queries and read end-of-run counters and trace
spans.  The load process ends the server by killing its process group.
``--trace`` installs the layer wrappers of ``perfbench/tracing.py``;
``--analytics`` imports the query registry before they are installed, so
``io.load_table`` is wrapped at every call site.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if __name__ == "__main__":
    # run as a script, Python puts perfbench/ first on the path; the
    # package root goes there instead (kukur_spark, perfbench.*)
    sys.path[0] = ROOT

import pyarrow.flight as fl  # noqa: E402

from kukur_spark.app import Engine  # noqa: E402
from kukur_spark.flight import KukurFlightServer  # noqa: E402
from kukur_spark.session import get_spark  # noqa: E402

from perfbench import tracing  # noqa: E402


def _vm_hwm_mb(pid: int) -> float:
    """Peak resident set of a process, from /proc (0 if unreadable)."""
    try:
        with open(f"/proc/{pid}/status") as status:
            for line in status:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


class BenchServer(KukurFlightServer):
    """The engine's Flight server plus the benchmark's control actions."""

    def __init__(self, engine, location, tracer, **kwargs):
        super().__init__(engine, location, **kwargs)
        self.tracer = tracer

    def do_action(self, context, action):
        if not action.type.startswith("bench."):
            return super().do_action(context, action)
        body = json.loads(action.body.to_pybytes().decode()) if action.body else {}
        handler = {
            "bench.info": self._info,
            "bench.analytics": self._analytics,
            "bench.stats": self._stats,
        }.get(action.type)
        if handler is None:
            raise fl.FlightServerError(f"unknown action: {action.type}")
        return [json.dumps(handler(body)).encode()]

    def _info(self, _body):
        sc = self.engine.spark.sparkContext
        return {
            "default_parallelism": sc.defaultParallelism,
            "master": sc.master,
            "spark_version": sc.version,
        }

    def _analytics(self, body):
        """Time the headline queries in this process (no Flight on the
        path): one warm-up pass, then whole passes in the given orders
        until ``seconds`` have passed and at least two passes ran.  With
        tracing, every second pass is traced."""
        from kukur_spark.workloads import QUERIES

        spark = self.engine.spark
        tables = body["tables_dir"]
        orders = body["orders"]
        for name in orders[0]:
            QUERIES[name](spark, tables).count()
        passes = []
        started = time.perf_counter()
        for index, order in enumerate(orders):
            traced = self.tracer is not None and index % 2 == 1
            timings = []
            for name in order:
                call_id = f"q{index}-{name}"
                t0 = time.perf_counter()
                if traced:
                    with self.tracer.call(call_id, name):
                        with self.tracer.span("workloads.build"):
                            df = QUERIES[name](spark, tables)
                        with self.tracer.span("exec.count"):
                            rows = df.count()
                else:
                    rows = QUERIES[name](spark, tables).count()
                timings.append(
                    {
                        "query": name,
                        "ms": (time.perf_counter() - t0) * 1000,
                        "rows": rows,
                        "traced": traced,
                        "call_id": call_id,
                    }
                )
            passes.append(timings)
            if len(passes) >= 2 and time.perf_counter() - started >= body["seconds"]:
                break
        return {"passes": passes}

    def _stats(self, _body):
        from kukur_spark import io

        plan_entries = 0
        for wrapper in getattr(self.engine.factory, "_cache", {}).values():
            cache = getattr(wrapper.source, "_search_plan_cache", None)
            plan_entries += len(cache or ())
        # PySpark launches the JVM as this child (spark-submit execs java)
        gateway = self.engine.spark.sparkContext._gateway
        jvm_pid = getattr(getattr(gateway, "proc", None), "pid", None)
        out = {
            "cache_entries": {
                "file_source_plans": plan_entries,
                "io_df_cache": len(getattr(io, "_DF_CACHE", ())),
                "io_persisted": len(getattr(io, "_PERSISTED_FIFO", ())),
            },
            "rss_peak_mb": {
                "python": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024,
                "jvm": _vm_hwm_mb(jvm_pid) if jvm_pid else 0.0,
            },
        }
        if self.tracer is not None:
            out["trace"] = {
                "spans": self.tracer.spans,
                "calls": self.tracer.calls,
                "jobs": self.tracer.job_stats(),
            }
        return out


def _exit_with_parent(parent: int) -> None:
    """Stop the process (and so its JVM) if the load process goes away
    without stopping the server."""
    while True:
        time.sleep(0.5)
        if os.getppid() != parent:
            os._exit(3)


def main() -> None:
    parser = argparse.ArgumentParser()
    parser.add_argument("--port", type=int, required=True)
    parser.add_argument("--config", required=True)
    parser.add_argument("--trace", action="store_true")
    parser.add_argument("--analytics", action="store_true")
    args = parser.parse_args()
    threading.Thread(
        target=_exit_with_parent, args=(os.getppid(),), daemon=True
    ).start()
    with open(args.config) as handle:
        config = json.load(handle)
    extra = None
    if args.trace:
        # keep every traced call's jobs in the status store until the
        # end-of-run readout
        extra = {"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"}
    spark = get_spark("perfbench", extra_conf=extra)
    if args.analytics:
        import kukur_spark.workloads  # noqa: F401
    tracer = None
    if args.trace:
        tracer = tracing.Tracer(spark.sparkContext)
        tracing.install(tracer)
    engine = Engine(config, spark)
    server = BenchServer(
        engine,
        f"grpc://127.0.0.1:{args.port}",
        tracer,
        api_keys=config.get("api_keys"),
        enable_sql=bool(config.get("flight", {}).get("enable_sql", False)),
    )
    # runs until the load process kills the process group
    server.serve()


if __name__ == "__main__":
    main()
