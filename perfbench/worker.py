"""One fresh benchmark process: set-up, timed passes, output checks.

Started by run.py with the run's environment already in place; writes one
JSON result to ``--result``. Every pass runs each operation once (build,
execute to its sink, ``clearCache()``), one client in a closed loop. Pass 0
is the cold pass of the fresh session; warm passes follow until
``--seconds`` have passed and at least ``MIN_WARM`` warm passes are done.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import threading
import time
import traceback
from collections import defaultdict
from contextlib import nullcontext

import workloads

MIN_WARM = 2
RSS_PERIOD_S = 0.05


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids[ppid].append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        out += kids.get(p, [])
        todo += kids.get(p, [])
    return out


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


class RssSampler:
    """Peak of the summed RSS of this process's descendants (the Spark JVM
    and its Python workers), sampled from /proc; also the peak of the JVM
    alone."""

    def __init__(self):
        self.peak = self.peak_jvm = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            rss = {p: rss_bytes(p) for p in descendants(me)}
            self.peak = max(self.peak, sum(rss.values()))
            jvm = sum(v for p, v in rss.items() if _comm(p) == "java")
            self.peak_jvm = max(self.peak_jvm, jvm)
            self._stop.wait(RSS_PERIOD_S)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


def speed_probe() -> float:
    """Seconds a fixed pure-Python loop takes: the machine's current speed."""
    t = time.perf_counter()
    x = 0
    for i in range(300_000):
        x += i * i
    return time.perf_counter() - t


def _null_span(name, new_trace=False, **attrs):
    return nullcontext(attrs)


def _dir_size(path: str) -> tuple[int, int]:
    if os.path.isfile(path):
        return os.path.getsize(path), 1
    files = [os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs]
    return sum(os.path.getsize(f) for f in files), len(files)


def live_trace_confs(spark) -> dict:
    """The session's values of every conf a traced run sets (None = unset)."""
    conf = spark.sparkContext.getConf()
    keys = ["spark.eventLog.enabled", "spark.eventLog.compress", "spark.eventLog.rolling.enabled"]
    out = {k: conf.get(k, None) for k in keys}
    out["spark.sql.pyspark.udf.profiler"] = spark.conf.get("spark.sql.pyspark.udf.profiler", None)
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--inputs", help="JSON file of input paths")
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--result", required=True)
    ap.add_argument("--trace-out", default="")
    args = ap.parse_args()

    tr = None
    if args.trace:
        import tracing

        tr = tracing.Tracer()
    span = tr.span if tr else _null_span

    with span("setup", new_trace=True):
        t0 = time.perf_counter()
        with span("session"):
            from iceberg_classifier_spark.session import get_spark

            spark = get_spark("perfbench")
        t1 = time.perf_counter()
        with span("registry"):
            if tr:
                # before any query module does ``from ...tables import load``
                from iceberg_classifier_spark.sources import tables

                tables.load = tr.wrap(tables.load, "tables.load")
            from iceberg_classifier_spark.plans.registry import load_all_queries

            reg = load_all_queries()
        t2 = time.perf_counter()
    setup = {"session_s": t1 - t0, "registry_s": t2 - t1, "setup_s": t2 - t0}
    result: dict = {"setup": setup}

    import pyspark

    result["versions"] = {
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        "master": spark.sparkContext.master,
    }
    with open(args.inputs) as f:
        inputs = json.load(f)
    ops = workloads.operations(args.workload, reg, inputs)
    cores = spark.sparkContext.defaultParallelism
    if tr:
        tr.sc = spark.sparkContext
        spark.conf.set(*tracing.UDF_PROFILER_CONF)
        prof_dir = os.path.join(inputs["out"], "udf_profile")

    result["trace_confs"] = live_trace_confs(spark)
    failures: dict[str, list[str]] = defaultdict(list)
    raised: dict[str, int] = defaultdict(int)
    passes: list[dict[str, float]] = []
    probes: list[float] = []
    with RssSampler() as rss:
        warm_t0 = None
        while True:
            p = len(passes)
            times = {}
            for op in ops:
                probes.append(speed_probe())
                with span("op", new_trace=True, op=op.name, **{"pass": p}) as s:
                    t = time.perf_counter()
                    try:
                        with span("build"):
                            df = op.build(spark)
                        if tr:
                            with span("plan"):
                                df._jdf.queryExecution().executedPlan()
                        with span("execute"):
                            op.sink(df)
                    except Exception:  # noqa: BLE001 — a failed op is counted, not fatal
                        raised[op.name] += 1
                        failures[op.name].append(f"pass {p}: " + traceback.format_exc(limit=3))
                    spark.catalog.clearCache()
                    times[op.name] = time.perf_counter() - t
                if tr:
                    s["pyudf_s"], s["pyudf_calls"] = tracing.udf_profile_totals(spark, prof_dir)
                    s["rows"] = op.rows
                    if op.src:
                        s["input_mb"] = os.path.getsize(op.src) / 1e6
                    if op.out and os.path.exists(op.out):
                        s["sink_bytes"], s["sink_files"] = _dir_size(op.out)
            passes.append(times)
            if warm_t0 is None:
                warm_t0 = time.perf_counter()
            elif len(passes) - 1 >= MIN_WARM and time.perf_counter() - warm_t0 >= args.seconds:
                break
    result["peak_rss_mb"] = rss.peak / 2**20
    result["peak_jvm_rss_mb"] = rss.peak_jvm / 2**20
    result["passes"] = passes
    result["probes"] = probes

    wrong: dict[str, bool] = {}
    oracle = None
    if any(op.name in reg for op in ops):
        from oracle import Oracle

        oracle = Oracle(inputs["frame"])
    for op in ops:
        with span("op", new_trace=True, op=op.name, **{"pass": "verify"}):
            with span("verify"):
                try:
                    errs = op.check(spark, oracle)
                except Exception:  # noqa: BLE001 — a crashing check is a failed check
                    errs = [f"{op.name}: check raised " + traceback.format_exc(limit=3)]
        failures[op.name] += errs
        wrong[op.name] = bool(errs)
    if oracle:
        oracle.close()
    result["failures"] = failures
    result["attempted"] = len(ops) * len(passes)
    # an op whose output is wrong failed every time it ran
    result["failed"] = sum(len(passes) if wrong[op.name] else raised[op.name] for op in ops)

    if tr:
        st = spark.sparkContext.statusTracker()
        for s in tr.spans:
            s["tracker_jobs"] = len(st.getJobIdsForGroup(f"span{s['id']}"))
    spark.stop()
    if tr:
        parsed = tracing.parse_event_log(tracing.event_log_file(inputs["events"]))
        runs = tracing.op_breakdown(tr.spans, parsed, cores)
        traced_warm = sum(statistics.median(t[op.name] for t in passes[1:]) for op in ops)
        result["per_layer"] = tracing.layer_metrics(runs, setup, cores, traced_warm, result)
        if args.trace_out:
            self_t = tracing.self_times(tr.spans)
            for s in tr.spans:
                s["self_s"] = self_t[s["id"]]
            with open(args.trace_out, "w") as f:
                json.dump({"spans": tr.spans, "ops": runs, "per_layer": result["per_layer"]}, f, indent=1)
    with open(args.result, "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main()
