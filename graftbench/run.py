"""Runs one workload of the graft benchmark and prints its result.

    python3 graftbench/run.py --workload dml_mix --seed 1 --seconds 20 --trace 0

Builds graft and the benchmark from source if needed (see build.py), runs
the workload in one JVM with a local Spark session, and prints one line per
metric followed, as the last line, by one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`. With `--trace 0` the
metrics are BENCHMARK.json's `end_to_end` metrics; with `--trace 1` its
`per_layer` metrics. The full result, including the metrics each workload
reports on its own, goes to <build dir>/graftbench/results/.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import build

# One run must end within 180 s: the JVM gets 170 s, counted after any build.
RUN_LIMIT_S = 170
WORKLOADS = ["dml_mix", "append_lookup", "analytic_scan"]


def contract():
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_jvm(cp, archive, argv, work, log_path, deadline):
    """Runs graftbench.Main; returns its exit code (None on timeout)."""
    cmd = build.jvm_command(cp, work, argv, archive)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                                env=build.jvm_env(), start_new_session=True)
        try:
            return proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            return None
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--units", type=int, help="override the operation count (for long "
                   "growth-curve runs; results are then not comparable to the contract's)")
    p.add_argument("--no-limit", action="store_true", help="lift the 170 s run limit")
    a = p.parse_args()

    spec = contract()
    wanted = spec["end_to_end"] if a.trace == 0 else spec["per_layer"]
    try:
        cp = build.ensure_built()
    except build.BuildError as e:
        sys.exit("graftbench: build failed: %s" % e)
    # every result is measured with the class-data archive: without it a run
    # starts seconds slower, and that would show as a set-up regression the
    # code under test did not cause
    archive = build.archive_flag(cp)
    if archive is None:
        sys.exit("graftbench: no class-data archive for this build (see %s)" % os.path.join(
            build.build_root(), "train.log"))

    root = build.build_root()
    tag = "%s-s%d-t%d" % (a.workload, a.seed, a.trace)
    results = os.path.join(root, "results")
    work = os.path.join(root, "work", "%s-%d" % (tag, os.getpid()))
    os.makedirs(results, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(results, tag + ".json")
    if os.path.exists(out):
        os.remove(out)
    argv = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--out", out]
    if a.units:
        argv += ["--units", str(a.units)]
    log_path = os.path.join(results, tag + ".log")
    # a run that had to build first gets its full limit after the build
    deadline = float("inf") if a.no_limit else time.time() + RUN_LIMIT_S
    try:
        code = run_jvm(cp, archive, argv, work, log_path, deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not os.path.exists(out):
        sys.stderr.write(open(log_path, errors="replace").read()[-3000:])
        sys.exit("graftbench: run %s (%s)" % (
            "timed out" if code is None else "failed with exit %s" % code, log_path))

    with open(out) as f:
        res = json.load(f)
    env, shape = res["env"], res["shape"]
    print("workload %s seed %d trace %d: %d units, %.1f s measured, %s on %d cores, heap %d MB, "
          "Spark %s" % (a.workload, a.seed, a.trace, res["units"], res["measured_s"], env["local"],
                        env["cores"], env["heap_mb"], env["spark"]))
    print("table shape: " + ", ".join("%s=%g" % kv for kv in sorted(shape.items())))
    section = res["e2e"] if a.trace == 0 else res["layers"]
    for name, m in section.items():
        print("%-34s %14.6g %-9s n=%d" % (name, m["value"], m["unit"], m["n"]))
    for g in res.get("growth", []):
        print("growth: cycle %(cycle)d data_dirs %(data_dirs)d entry_bytes %(entry_bytes)d "
              "load_s %(load_s).4f lookup_plan_s %(lookup_plan_s).4f" % g)
    for f in res["failures"]:
        print("failure: " + f)
    missing = [m["name"] for m in wanted if m["name"] not in section]
    if missing:
        sys.exit("graftbench: result lacks metrics %s" % ", ".join(missing))
    metrics = {m["name"]: {"value": section[m["name"]]["value"], "unit": m["unit"]} for m in wanted}
    print(json.dumps({"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
