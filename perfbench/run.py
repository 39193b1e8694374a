#!/usr/bin/env python3
"""The benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload {headline,pair_heavy,iceberg_cv}
        --seed N --seconds S --trace {0,1} [--trace-out FILE]

Run from the root of a checkout. Generates the seed's inputs (cached under
``.perfbench/inputs``, outside the timed region), then starts one fresh
worker process on ``local[<cores>]`` that sets up, runs a cold pass and
warm passes for ``S`` seconds, and checks every output. Prints the run's
identity and each metric on its own line, and as the last line one JSON
object: ``{"correct", "attempted", "failed", "metrics"}`` — the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
Exits non-zero without a result if the program is missing or the worker
dies.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import workloads  # noqa: E402

WORKLOADS = ("headline", "pair_heavy", "iceberg_cv")
# a run of a BENCHMARK.json workload must end within 180 s; pair_heavy is run by hand
RUN_TIMEOUT_S = {"headline": 170, "iceberg_cv": 170, "pair_heavy": 1800}
BUSY = 0.75  # 1-minute load average per core above which a run is flagged busy
SAR = {"records": workloads.SAR_RECORDS, "slice": workloads.SAR_SLICE,
       "crop": workloads.SAR_CROP, "test_rows": workloads.SAR_TEST_ROWS}


def log(msg: str) -> None:
    print(f"perfbench: {msg}", flush=True)


def load_per_core() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0]) / len(os.sched_getaffinity(0))


def source_id() -> str:
    """git commit when run in a git checkout, else a digest of the
    program's Python sources."""
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                                 text=True, timeout=10)
            if out.returncode == 0:
                return "git:" + out.stdout.strip()
        except OSError:
            pass
    h = hashlib.sha1()
    for d, dirs, files in sorted(os.walk(os.path.join(ROOT, "iceberg_classifier_spark"))):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    return "sha1:" + h.hexdigest()


def run_pids(tmpdir: str) -> list[int]:
    """Live processes started for this run: every one of them inherited the
    run's private TMPDIR (the Python daemon too, which leaves the worker's
    process group)."""
    mark = f"TMPDIR={tmpdir}".encode()
    out = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/environ", "rb") as f:
                    if mark in f.read().split(b"\0"):
                        out.append(int(d))
            except OSError:
                continue
    return out


def run_worker(argv: list[str], env: dict, cwd: str, timeout: float) -> int:
    """Run a worker; afterwards stop whatever it left behind (the JVM,
    Python daemons) and wait until all of it is gone."""
    p = subprocess.Popen([sys.executable, os.path.join(HERE, "worker.py"), *argv],
                         env=env, cwd=cwd, stdout=sys.stderr, start_new_session=True)
    try:
        return p.wait(timeout=max(1.0, timeout))
    except subprocess.TimeoutExpired:
        log(f"worker exceeded {timeout:.0f} s; killing it")
        return -1
    finally:
        for sig in (signal.SIGTERM, signal.SIGKILL):
            pids = run_pids(env["TMPDIR"])
            for pid in pids:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            deadline = time.time() + 10
            while pids and time.time() < deadline:
                time.sleep(0.05)
                pids = run_pids(env["TMPDIR"])
            if not pids:
                break
        p.wait()


def worker_env(dirs: dict, cores: int, trace: int) -> dict:
    """The worker's environment: CPU count, a private TMPDIR and Spark
    local dir, no console progress bar, and — only when traced — the event
    log confs."""
    confs = ["spark.ui.showConsoleProgress=false"]
    if trace:
        import tracing

        confs += tracing.trace_submit_confs(dirs["events"])
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_QUIET_LOGS="1",
        TMPDIR=dirs["tmp"],
        SPARK_LOCAL_DIRS=dirs["local"],
        # every JVM (the launcher's too) keeps its temp files in the run dir
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData",
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, HERE, env.get("PYTHONPATH")) if p),
        PYSPARK_SUBMIT_ARGS=" ".join(f"--conf {shlex.quote(c)}" for c in confs) + " pyspark-shell",
    )
    return env


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--trace-out", default="", help="write spans and the per-op breakdown here")
    args = ap.parse_args()
    started = time.time()

    if not (os.path.isfile(os.path.join(ROOT, "iceberg_classifier_spark", "session.py"))
            and os.path.isfile(os.path.join(ROOT, "scripts", "gen_scaled_testdata.py"))):
        print("perfbench: no program in this checkout "
              "(iceberg_classifier_spark/, scripts/ missing)", file=sys.stderr)
        return 2

    state = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(state, f"run-{os.getpid()}")
    try:
        return run(args, state, run_dir, started)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def run(args, state: str, run_dir: str, started: float) -> int:
    cores = len(os.sched_getaffinity(0))
    busy_start = load_per_core()
    sf, organic = workloads.FRAMES[args.workload]
    t = time.perf_counter()
    inputs = gen.build_inputs(os.path.join(state, "inputs"), args.seed, sf, organic,
                              SAR if args.workload == "iceberg_cv" else None)
    gen_s = time.perf_counter() - t
    dirs = {k: os.path.join(run_dir, k) for k in ("tmp", "local", "events", "out")}
    for d in dirs.values():
        os.makedirs(d)
    inputs.update(events=dirs["events"], out=dirs["out"])
    inputs_file = os.path.join(run_dir, "inputs.json")
    with open(inputs_file, "w") as f:
        json.dump(inputs, f)

    log(f"workload={args.workload} seed={args.seed} seconds={args.seconds:g} trace={args.trace}")
    log(f"source={source_id()} cpus={cores} SPARK_GRAFT_CPUS={cores}")
    for k, v in sorted(inputs.items()):
        if k not in ("events", "out"):
            size = sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(v) for f in fs) \
                if os.path.isdir(v) else os.path.getsize(v)
            log(f"input {k}={os.path.relpath(v, ROOT)} bytes={size}")
    log(f"inputs ready in {gen_s:.2f} s; loadavg/cpu at start={busy_start:.2f} "
        f"busy={busy_start >= BUSY}")

    env = worker_env(dirs, cores, args.trace)
    result_file = os.path.join(run_dir, "result.json")
    argv = ["--workload", args.workload, "--inputs", inputs_file, "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--result", result_file]
    if args.trace_out:
        argv += ["--trace-out", os.path.abspath(args.trace_out)]
    rc = run_worker(argv, env, run_dir, RUN_TIMEOUT_S[args.workload] - (time.time() - started))
    if rc != 0 or not os.path.exists(result_file):
        log(f"worker failed (exit {rc}); no result")
        return 1
    with open(result_file) as f:
        res = json.load(f)

    passes = [sum(p.values()) for p in res["passes"]]
    warm = passes[1:]
    log(f"warm passes (s): {json.dumps([round(w, 3) for w in warm])}")
    for op, errs in sorted(res["failures"].items()):
        for e in errs:
            log(f"FAILED {op}: {e.strip()}")
    log(f"trace confs in the session: {json.dumps(res['trace_confs'])}")
    log(f"versions pyspark={res['versions']['pyspark']} java={res['versions']['java']} "
        f"master={res['versions']['master']}")
    per_op = {op: statistics.median(p[op] for p in res["passes"][1:]) for op in res["passes"][0]}
    log(f"warm median per op (s): {json.dumps({k: round(v, 3) for k, v in per_op.items()})}")
    log(f"cold pass per op (s): {json.dumps({k: round(v, 3) for k, v in res['passes'][0].items()})}")
    log(f"speed probe (a fixed loop before each op) median {statistics.median(res['probes']):.5f} s "
        f"q1 {statistics.quantiles(res['probes'], n=4)[0]:.5f} q3 {statistics.quantiles(res['probes'], n=4)[2]:.5f}")
    e2e = {
        "setup_s": (res["setup"]["setup_s"], "s", 1),
        "cold_s": (passes[0], "s", 1),
        # one pass at each operation's median over the warm passes
        "warm_s": (sum(per_op.values()), "s", len(warm)),
    }
    for k, (v, u, n) in e2e.items():
        log(f"metric {k}={v:.4f} {u} samples={n}")
    log(f"metric peak_rss_mb={res['peak_rss_mb']:.1f} MB samples=1 "
        f"(the JVM alone: {res['peak_jvm_rss_mb']:.1f} MB)")
    failed_frac = res["failed"] / res["attempted"]
    log(f"metric failed_frac={failed_frac:.4f} ratio "
        f"({res['failed']} failed of {res['attempted']} attempted)")
    if args.trace:
        import tracing

        metrics = {k: {"value": v, "unit": tracing.PER_LAYER_UNITS[k]}
                   for k, v in res["per_layer"].items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u, _) in e2e.items()}
    busy_end = load_per_core()
    log(f"loadavg/cpu at end={busy_end:.2f} busy={busy_end >= BUSY}; "
        f"run took {time.time() - started:.1f} s")
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
