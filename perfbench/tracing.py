"""Traced runs: spans recorded around the calls into each layer, and the
Spark event log parsed into per-layer numbers.

Everything here is switched on from outside the program: job groups set on
the SparkContext, an uncompressed non-rolling event log and the built-in UDF
profiler enabled by session conf (``trace_submit_confs``,
``UDF_PROFILER_CONF``), and a timing wrapper installed over
``sources.tables.load`` before the query modules import it. An untraced run
does not import this module and sets none of these confs.
"""

from __future__ import annotations

import glob
import json
import os
import pstats
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager


def trace_submit_confs(event_dir: str) -> list[str]:
    """spark-submit confs of a traced run (must be set before the JVM starts)."""
    return [
        "spark.eventLog.enabled=true",
        f"spark.eventLog.dir=file://{event_dir}",
        "spark.eventLog.compress=false",
        "spark.eventLog.rolling.enabled=false",
    ]


UDF_PROFILER_CONF = ("spark.sql.pyspark.udf.profiler", "perf")


class Tracer:
    """In-memory spans. Each span gets its own Spark job group, so jobs the
    calling thread starts inside it carry the span's id; the parent's group is
    restored on exit. Spans are written out only at the end of the run."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, new_trace: bool = False, **attrs):
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        trace = sid if new_trace or parent is None else parent["trace"]
        s = {"id": sid, "parent": parent["id"] if parent else None, "trace": trace,
             "name": name, "start": time.time(), "end": None, **attrs}
        self.spans.append(s)
        self._stack.append(s)
        if self.sc is not None:
            self.sc.setJobGroup(f"span{sid}", name)
        try:
            yield s
        finally:
            s["end"] = time.time()
            self._stack.pop()
            if self.sc is not None:
                if parent is not None:
                    self.sc.setJobGroup(f"span{parent['id']}", parent["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)

    def wrap(self, fn, name: str):
        """``fn`` with a span around every call."""
        def wrapped(*a, **k):
            with self.span(name):
                return fn(*a, **k)
        return wrapped


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part of it its children cover."""
    kids = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append(s)
    out = {}
    for s in spans:
        covered, last = 0.0, s["start"]
        for c in sorted(kids[s["id"]], key=lambda c: c["start"]):
            lo, hi = max(c["start"], last), min(c["end"], s["end"])
            if hi > lo:
                covered += hi - lo
                last = hi
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


# ---- event log ---------------------------------------------------------------


def parse_event_log(path: str) -> dict:
    """Jobs (id, submit/end ms, group, stage ids, result) and per-stage task
    totals from one uncompressed Spark event log."""
    jobs: dict[int, dict] = {}
    submitted: set[int] = set()
    stage_tasks: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "id": ev["Job ID"], "submit_ms": ev["Submission Time"],
                    "group": props.get("spark.jobGroup.id"),
                    "stages": list(ev["Stage IDs"]), "end_ms": None, "result": None,
                }
            elif kind == "SparkListenerJobEnd":
                j = jobs.get(ev["Job ID"])
                if j is not None:
                    j["end_ms"] = ev["Completion Time"]
                    j["result"] = ev["Job Result"]["Result"]
            elif kind == "SparkListenerStageSubmitted":
                submitted.add(ev["Stage Info"]["Stage ID"])
            elif kind == "SparkListenerTaskEnd":
                t = stage_tasks[ev["Stage ID"]]
                t["tasks"] += 1
                if ev["Task End Reason"]["Reason"] != "Success":
                    t["tasks_failed"] += 1
                m = ev.get("Task Metrics")
                if not m:
                    continue
                sr, sw = m["Shuffle Read Metrics"], m["Shuffle Write Metrics"]
                t["run_s"] += m["Executor Run Time"] / 1e3
                t["cpu_s"] += m["Executor CPU Time"] / 1e9
                t["deserialize_s"] += m["Executor Deserialize Time"] / 1e3
                t["gc_s"] += m["JVM GC Time"] / 1e3
                t["shuffle_read_bytes"] += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
                t["fetch_wait_s"] += sr["Fetch Wait Time"] / 1e3
                t["shuffle_write_bytes"] += sw["Shuffle Bytes Written"]
                t["spill_mem_bytes"] += m["Memory Bytes Spilled"]
                t["spill_disk_bytes"] += m["Disk Bytes Spilled"]
                t["input_bytes"] += m["Input Metrics"]["Bytes Read"]
                t["input_records"] += m["Input Metrics"]["Records Read"]
    # a stage runs in the first job that lists it; later jobs that list it
    # reuse its output (a skipped stage)
    owner: dict[int, int] = {}
    for jid in sorted(jobs):
        for st in jobs[jid]["stages"]:
            owner.setdefault(st, jid)
    for jid, j in jobs.items():
        j["ran"] = [s for s in j["stages"] if owner[s] == jid and s in submitted]
        j["skipped"] = len(j["stages"]) - len(j["ran"])
    return {"jobs": jobs, "stage_tasks": stage_tasks}


def event_log_file(event_dir: str) -> str:
    files = [f for f in glob.glob(os.path.join(event_dir, "*")) if not f.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {event_dir}, found {files}")
    return files[0]


def assign_jobs(spans: list[dict], jobs: dict[int, dict]) -> dict[int, list[int]]:
    """span id -> ids of the jobs it started. A job carrying a span's group
    belongs to that span. A job without one (started from another thread,
    e.g. a streaming foreachBatch) goes to the innermost span open at its
    submission time, i.e. by its place in the job-id sequence between span
    boundaries."""
    by_span: dict[int, list[int]] = defaultdict(list)
    for jid in sorted(jobs):
        j = jobs[jid]
        g = j["group"]
        if g and g.startswith("span"):
            by_span[int(g[4:])].append(jid)
            continue
        t = j["submit_ms"] / 1e3
        open_ = [s for s in spans if s["start"] - 5e-4 <= t <= s["end"] + 5e-4]
        if open_:
            by_span[max(open_, key=lambda s: s["start"])["id"]].append(jid)
    return by_span


def job_totals(jids, parsed: dict) -> dict:
    out = defaultdict(float)
    for jid in jids:
        j = parsed["jobs"][jid]
        out["jobs"] += 1
        out["stages"] += len(j["ran"])
        out["stages_skipped"] += j["skipped"]
        for st in j["ran"]:
            for k, v in parsed["stage_tasks"][st].items():
                out[k] += v
    return out


def udf_profile_totals(spark, dump_dir: str) -> tuple[float, int]:
    """(seconds, function calls) the perf UDF profiler recorded since the
    last call; clears the profiler."""
    os.makedirs(dump_dir, exist_ok=True)
    for f in glob.glob(os.path.join(dump_dir, "*")):
        os.remove(f)
    spark.profile.dump(dump_dir, type="perf")
    spark.profile.clear(type="perf")
    secs, calls = 0.0, 0
    for f in glob.glob(os.path.join(dump_dir, "*.pstats")):
        st = pstats.Stats(f)
        secs += st.total_tt
        calls += st.total_calls
    return secs, calls


# ---- per-layer metrics -------------------------------------------------------


def op_breakdown(spans: list[dict], parsed: dict, cores: int) -> list[dict]:
    """One record per timed operation run ("op" spans)."""
    by_span = assign_jobs(spans, parsed["jobs"])
    kids = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append(s)

    def subtree(s):
        out = [s]
        for c in kids[s["id"]]:
            out += subtree(c)
        return out

    runs = []
    for op in (s for s in spans if s["name"] == "op" and isinstance(s["pass"], int)):
        phase = {c["name"]: c for c in kids[op["id"]]}
        rec = {"op": op["op"], "pass": op["pass"], "trace": op["trace"],
               "op_s": op["end"] - op["start"]}
        for name in ("build", "plan", "execute"):
            s = phase.get(name)
            rec[f"{name}_s"] = (s["end"] - s["start"]) if s else 0.0
            jids = [j for d in (subtree(s) if s else []) for j in by_span.get(d["id"], [])]
            rec[f"{name}_jobs"] = len(jids)
            rec[f"{name}_job_ids"] = [min(jids), max(jids)] if jids else None
            if name == "execute":
                rec["execute"] = dict(job_totals(jids, parsed))
        all_jids = [j for d in subtree(op) for j in by_span.get(d["id"], [])]
        rec["tasks"] = dict(job_totals(all_jids, parsed))
        # the same count from the live statusTracker (job groups only)
        rec["tracker_jobs"] = sum(d.get("tracker_jobs", 0) for d in subtree(op))
        loads = [d for d in subtree(op) if d["name"] == "tables.load"]
        rec["tables_load_s"] = sum(d["end"] - d["start"] for d in loads)
        rec["tables_load_jobs"] = sum(len(by_span.get(d["id"], [])) for d in loads)
        ex = rec["execute"]
        rec["slot_util"] = ex.get("run_s", 0.0) / (rec["execute_s"] * cores) if rec["execute_s"] else 0.0
        rec["input_stage_run_s"] = sum(
            parsed["stage_tasks"][st]["run_s"]
            for j in all_jids for st in parsed["jobs"][j]["ran"]
            if parsed["stage_tasks"][st]["input_bytes"] > 0
        )
        for k in ("pyudf_s", "pyudf_calls", "rows", "sink_bytes", "sink_files", "input_mb"):
            rec[k] = op.get(k, 0)
        runs.append(rec)
    return runs


def layer_metrics(runs: list[dict], setup: dict, cores: int, traced_warm_s: float,
                  rss: dict) -> dict:
    """Per-layer numbers for one pass of the workload: each operation's
    median over the warm passes, summed over operations."""
    warm = [r for r in runs if r["pass"] > 0]
    ops = sorted({r["op"] for r in warm})

    def med(op, get):
        return statistics.median(get(r) for r in warm if r["op"] == op)

    def total(get):
        return sum(med(op, get) for op in ops)

    def of(op, get):
        return med(op, get) if op in ops else 0.0

    op_s = total(lambda r: r["op_s"])
    exec_s = total(lambda r: r["execute_s"])
    exec_run = total(lambda r: r["execute"].get("run_s", 0.0))
    t = lambda k: total(lambda r: r["tasks"].get(k, 0.0))  # noqa: E731
    e = lambda k: total(lambda r: r["execute"].get(k, 0.0))  # noqa: E731
    read_s = of("sar_ingest", lambda r: r["input_stage_run_s"])
    feat_s = of("sar_features", lambda r: r["op_s"])
    sink_ops = [op for op in ops if op in ("sar_ingest", "sar_submit")]
    return {
        "session.start_s": setup["session_s"],
        "registry.import_s": setup["registry_s"],
        "tables.load_s": total(lambda r: r["tables_load_s"]),
        "tables.load_jobs": total(lambda r: r["tables_load_jobs"]),
        "plans.build_s": total(lambda r: r["build_s"]),
        "plans.build_jobs": total(lambda r: r["build_jobs"]),
        "plans.build_share": total(lambda r: r["build_s"]) / op_s if op_s else 0.0,
        "catalyst.plan_s": total(lambda r: r["plan_s"]),
        "exec.s": exec_s,
        "exec.jobs": e("jobs"),
        "exec.stages": e("stages"),
        "exec.stages_skipped": e("stages_skipped"),
        "exec.tasks": e("tasks"),
        "exec.tasks_failed": e("tasks_failed"),
        "exec.slot_util": exec_run / (exec_s * cores) if exec_s else 0.0,
        "task.run_s": t("run_s"),
        "task.cpu_s": t("cpu_s"),
        "task.deserialize_s": t("deserialize_s"),
        "task.gc_s": t("gc_s"),
        "shuffle.write_bytes": t("shuffle_write_bytes"),
        "shuffle.read_bytes": t("shuffle_read_bytes"),
        "shuffle.fetch_wait_s": t("fetch_wait_s"),
        "spill.disk_bytes": t("spill_disk_bytes"),
        "spill.mem_bytes": t("spill_mem_bytes"),
        "input.bytes": t("input_bytes"),
        "input.records": t("input_records"),
        "pyudf.s": total(lambda r: r["pyudf_s"]),
        "pyudf.calls": total(lambda r: r["pyudf_calls"]),
        "ml.features_s": feat_s,
        "ml.features_rows_per_s": of("sar_features", lambda r: r["rows"]) / feat_s if feat_s else 0.0,
        "sar_json.read_s": read_s,
        "sar_json.mb_per_s": of("sar_ingest", lambda r: r["input_mb"]) / read_s if read_s else 0.0,
        "sinks.write_s": sum(med(op, lambda r: r["execute_s"]) for op in sink_ops),
        "sinks.bytes_written": sum(med(op, lambda r: r["sink_bytes"]) for op in sink_ops),
        "sinks.files_written": sum(med(op, lambda r: r["sink_files"]) for op in sink_ops),
        "mem.peak_rss_mb": rss["peak_rss_mb"],
        "mem.peak_jvm_rss_mb": rss["peak_jvm_rss_mb"],
        "trace.warm_s": traced_warm_s,
    }


PER_LAYER_UNITS = {
    "session.start_s": "s", "registry.import_s": "s", "tables.load_s": "s",
    "tables.load_jobs": "count", "plans.build_s": "s", "plans.build_jobs": "count",
    "plans.build_share": "ratio", "catalyst.plan_s": "s", "exec.s": "s",
    "exec.jobs": "count", "exec.stages": "count", "exec.stages_skipped": "count",
    "exec.tasks": "count", "exec.tasks_failed": "count", "exec.slot_util": "ratio",
    "task.run_s": "s", "task.cpu_s": "s", "task.deserialize_s": "s", "task.gc_s": "s",
    "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes",
    "shuffle.fetch_wait_s": "s", "spill.disk_bytes": "bytes", "spill.mem_bytes": "bytes",
    "input.bytes": "bytes", "input.records": "count", "pyudf.s": "s",
    "pyudf.calls": "count", "ml.features_s": "s", "ml.features_rows_per_s": "1/s",
    "sar_json.read_s": "s", "sar_json.mb_per_s": "MB/s", "sinks.write_s": "s",
    "sinks.bytes_written": "bytes", "sinks.files_written": "count", "mem.peak_rss_mb": "MB",
    "mem.peak_jvm_rss_mb": "MB", "trace.warm_s": "s",
}
