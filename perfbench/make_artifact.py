#!/usr/bin/env python3
"""Write the committed traced-run artifact of each workload.

    python3 perfbench/make_artifact.py [--seed N] [--seconds S] [workload ...]

For each workload: one untraced run and one traced run (``--trace 1``) of
run.py with the same seed, then ``perfbench/artifacts/TRACE_<workload>.json``
with the per-layer numbers, a per-operation breakdown (medians over the warm
passes), the spans of the traced run, and the tracing overhead: traced
warm_s minus untraced warm_s.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def bench(workload: str, seed: int, seconds: float, trace: int, trace_out: str = "") -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    if trace_out:
        cmd += ["--trace-out", trace_out]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, check=True)
    lines = p.stdout.strip().splitlines()
    return {"result": json.loads(lines[-1]), "log": lines[:-1]}


def per_op(ops: list[dict]) -> dict:
    """Median over warm passes of each operation's numbers."""
    keys = ("op_s", "build_s", "plan_s", "execute_s", "build_jobs", "plan_jobs",
            "execute_jobs", "tracker_jobs", "tables_load_s", "tables_load_jobs",
            "pyudf_s", "pyudf_calls", "slot_util")
    out = {}
    for name in dict.fromkeys(r["op"] for r in ops):
        warm = [r for r in ops if r["op"] == name and r["pass"] > 0]
        rec = {k: statistics.median(r[k] for r in warm) for k in keys}
        rec["cold_op_s"] = next(r["op_s"] for r in ops if r["op"] == name and r["pass"] == 0)
        for k in ("jobs", "stages", "stages_skipped", "tasks", "run_s", "cpu_s",
                  "deserialize_s", "shuffle_write_bytes", "input_bytes"):
            rec[f"all_{k}"] = statistics.median(r["tasks"].get(k, 0) for r in warm)
        out[name] = rec
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=9)
    ap.add_argument("workloads", nargs="*", default=["headline", "iceberg_cv"])
    args = ap.parse_args()
    os.makedirs(os.path.join(HERE, "artifacts"), exist_ok=True)
    for w in args.workloads:
        plain = bench(w, args.seed, args.seconds, 0)
        with tempfile.NamedTemporaryFile(suffix=".json", dir=os.path.join(ROOT, ".perfbench")) as f:
            traced = bench(w, args.seed, args.seconds, 1, f.name)
            detail = json.load(open(f.name))
        warm = plain["result"]["metrics"]["warm_s"]["value"]
        layers = traced["result"]["metrics"]
        art = {
            "workload": w,
            "seed": args.seed,
            "seconds": args.seconds,
            "identity": [ln for ln in plain["log"] if "source=" in ln or "versions" in ln
                         or "loadavg" in ln or "input " in ln],
            "end_to_end_untraced": plain["result"],
            "per_layer": layers,
            "tracing_overhead_s": layers["trace.warm_s"]["value"] - warm,
            "tracing_overhead_share": (layers["trace.warm_s"]["value"] - warm) / warm,
            "per_op": per_op(detail["ops"]),
            "spans": detail["spans"],
        }
        path = os.path.join(HERE, "artifacts", f"TRACE_{w}.json")
        with open(path, "w") as f:
            json.dump(art, f, indent=1)
        print(f"{path}: overhead {art['tracing_overhead_s']:+.3f} s "
              f"({100 * art['tracing_overhead_share']:+.1f}% of warm_s {warm:.3f} s)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
