"""Harness tests for the benchmark (not part of the program's test suite).

    python3 -m pytest perfbench/tests -q

The Spark-backed tests start their own JVM in a subprocess, because the
event-log confs must be in place before the JVM starts.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402


def _digest(path: str) -> dict[str, str]:
    return {
        f: hashlib.sha1(open(os.path.join(path, f), "rb").read()).hexdigest()
        for f in sorted(os.listdir(path))
    }


def test_same_seed_gives_identical_bytes(tmp_path):
    a = gen.star_frame(str(tmp_path / "a"), 7, "0.001")
    b = gen.star_frame(str(tmp_path / "b"), 7, "0.001")
    assert _digest(a) == _digest(b)
    gen.organic_frame(a, str(tmp_path / "ax3"), 3)
    gen.organic_frame(b, str(tmp_path / "bx3"), 3)
    assert _digest(str(tmp_path / "ax3")) == _digest(str(tmp_path / "bx3"))
    assert json.dumps(gen.sar_records(7, 3)) == json.dumps(gen.sar_records(7, 3))


def test_other_seed_changes_values_not_sizes(tmp_path):
    a = gen.star_frame(str(tmp_path / "a"), 7, "0.001")
    b = gen.star_frame(str(tmp_path / "b"), 8, "0.001")
    da, db = _digest(a), _digest(b)
    for t in gen.TABLES:
        fa, fb = pq.ParquetFile(f"{a}/{t}.parquet"), pq.ParquetFile(f"{b}/{t}.parquet")
        assert fa.schema_arrow == fb.schema_arrow, t
        assert fa.metadata.num_rows == fb.metadata.num_rows, t
        if t != "region":  # five fixed region names: nothing to vary
            assert da[f"{t}.parquet"] != db[f"{t}.parquet"], t
    ra, rb = gen.sar_records(7, 3), gen.sar_records(8, 3)
    assert [len(r["band_1"]) for r in ra] == [len(r["band_1"]) for r in rb] == [5625] * 3
    assert [r["id"] for r in ra] != [r["id"] for r in rb]


def test_frame_has_testdata_row_counts(tmp_path):
    d = gen.star_frame(str(tmp_path / "f"), 1, "0.01")
    n = gen.SHAPES["0.01"]
    for t in gen.TABLES:
        rows = pq.ParquetFile(f"{d}/{t}.parquet").metadata.num_rows
        assert rows == {"region": 5, "nation": 25}.get(t, n.get(t)), t


def _dirs(tmp_path) -> dict:
    dirs = {k: str(tmp_path / k) for k in ("tmp", "local", "events", "out")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    return dirs


def test_untraced_env_sets_no_trace_conf(tmp_path):
    dirs = _dirs(tmp_path)
    traced = run.worker_env(dirs, 4, 1)["PYSPARK_SUBMIT_ARGS"]
    untraced = run.worker_env(dirs, 4, 0)["PYSPARK_SUBMIT_ARGS"]
    for conf in tracing.trace_submit_confs(dirs["events"]):
        assert conf.split("=")[0] in traced
        assert conf.split("=")[0] not in untraced
    assert tracing.UDF_PROFILER_CONF[0] not in untraced


# Runs in a fresh interpreter (argv: frame dir, events dir, result file,
# traced 0/1) under the environment run.worker_env builds.
_SPARK_PROBE = r"""
import json, sys, time
import tracing, worker
from iceberg_classifier_spark.session import get_spark
from iceberg_classifier_spark.plans.relational import q1_pricing_summary

frame, events, out, traced = sys.argv[1], sys.argv[2], sys.argv[3], int(sys.argv[4])
spark = get_spark("perfbench-test")
res = {"confs": worker.live_trace_confs(spark)}
if traced:
    tr = tracing.Tracer(spark.sparkContext)
    with tr.span("op", new_trace=True, op="q1_pricing_summary", **{"pass": 1}):
        with tr.span("build"):
            df = q1_pricing_summary(spark, frame)
        with tr.span("plan"):
            df._jdf.queryExecution().executedPlan()
        with tr.span("execute"):
            df.write.format("noop").mode("overwrite").save()
    st = spark.sparkContext.statusTracker()
    count = lambda: [len(st.getJobIdsForGroup(f"span{s['id']}")) for s in tr.spans]
    before = None
    while before != count():  # the status store is fed asynchronously
        before = count()
        time.sleep(0.5)
    for s, n in zip(tr.spans, before):
        s["tracker_jobs"] = n
    spark.stop()
    parsed = tracing.parse_event_log(tracing.event_log_file(events))
    (rec,) = tracing.op_breakdown(tr.spans, parsed, 4)
    res["tracker_jobs"] = rec["tracker_jobs"]
    res["traced_jobs"] = rec["build_jobs"] + rec["plan_jobs"] + rec["execute_jobs"]
else:
    spark.stop()
json.dump(res, open(out, "w"))
"""


def _spark_probe(tmp_path, traced: int) -> dict:
    frame = gen.star_frame(str(tmp_path / "frame"), 3, "0.001")
    dirs = _dirs(tmp_path)
    out = str(tmp_path / "probe.json")
    p = subprocess.run(
        [sys.executable, "-c", _SPARK_PROBE, frame, dirs["events"], out, str(traced)],
        env=run.worker_env(dirs, 2, traced), cwd=str(tmp_path), timeout=300,
    )
    assert p.returncode == 0
    with open(out) as f:
        return json.load(f)


def test_traced_job_count_equals_status_tracker(tmp_path):
    res = _spark_probe(tmp_path, 1)
    assert res["tracker_jobs"] > 0
    assert res["traced_jobs"] == res["tracker_jobs"]
    assert res["confs"]["spark.eventLog.enabled"] == "true"


def test_untraced_session_has_no_trace_conf(tmp_path):
    res = _spark_probe(tmp_path, 0)
    assert res["confs"] == {
        "spark.eventLog.enabled": None,
        "spark.eventLog.compress": None,
        "spark.eventLog.rolling.enabled": None,
        "spark.sql.pyspark.udf.profiler": None,
    }
