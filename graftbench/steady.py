"""Steadiness check of the graft benchmark.

    python3 graftbench/steady.py [--workloads dml_mix,...] [--seeds 10] [--sets 1]
                                 [--seconds N] [--with-trace]

Runs every workload once per seed (seeds 1..N), `--sets` times over, and
reports for every end-to-end metric the median and quartiles of its values
(Python's statistics.quantiles(values, n=4)) with the spread
(q3 - q1) / median. A contract metric from BENCHMARK.json is steady when
its spread is under a third of its bound (setup_s excepted); with two sets
the median of the second set must not be worse than the first by more than
the bound. Metrics a workload reports on its own (insert_p50_s, ...) are
listed with their spread but have no bound. `--with-trace` adds one traced
run per seed and reports the tracing overhead: the traced op_p50_s minus
the untraced one. A summary goes to <build dir>/graftbench/results/.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

import build

HERE = os.path.dirname(os.path.abspath(__file__))


def run_once(workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    r = subprocess.run(cmd, cwd=build.ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stderr[-2000:])
        raise SystemExit("run failed: %s" % " ".join(cmd[1:]))
    line = json.loads(r.stdout.strip().splitlines()[-1])
    full = os.path.join(build.build_root(), "results", "%s-s%d-t%d.json" % (workload, seed, trace))
    with open(full) as f:
        return line, json.load(f)


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, med, q3, (q3 - q1) / med if med else float("inf")


def worse(first, second, better):
    """Share by which `second` is worse than `first`."""
    return (second - first) / first if better == "lower" else (first - second) / first


def main():
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    p.add_argument("--seeds", type=int, default=10)
    p.add_argument("--sets", type=int, default=1, choices=[1, 2])
    p.add_argument("--seconds", type=float, default=spec["run_seconds"])
    p.add_argument("--with-trace", action="store_true")
    a = p.parse_args()
    bounds = {m["name"]: m for m in spec["end_to_end"]}
    seeds = list(range(1, a.seeds + 1))
    summary = {"seconds": a.seconds, "seeds": seeds, "workloads": {}}
    steady = True
    for w in a.workloads.split(","):
        sets, walls, failed, traced = [], [], 0, []
        for _ in range(a.sets):
            values = {}
            for s in seeds:
                t0 = time.time()
                line, full = run_once(w, s, a.seconds, 0)
                walls.append(time.time() - t0)
                failed += line["failed"] + (0 if line["correct"] else 1)
                for name, m in full["e2e"].items():
                    values.setdefault(name, []).append(m["value"])
                if a.with_trace:
                    traced.append(run_once(w, s, a.seconds, 1)[1]["layers"]["trace.op_p50_s"]["value"])
            sets.append(values)
        print("\n%s: %d runs, %.1f s per run on average, %d failed" % (
            w, len(walls), sum(walls) / len(walls), failed))
        print("  %-26s %12s %12s %12s %8s %7s %s" % (
            "metric", "q1", "median", "q3", "spread", "bound", "verdict"))
        rows = {}
        for name in sets[0]:
            vals = sets[0][name]
            if len(vals) < 2:
                continue
            q1, med, q3, sp = spread(vals)
            b = bounds.get(name)
            verdict = ""
            if b:
                if name != "setup_s":
                    ok = sp < b["bound"] / 3
                    steady &= ok
                    verdict = "steady" if ok else ("within bound" if sp <= b["bound"] else "TOO WIDE")
                if a.sets == 2:
                    shift = worse(statistics.median(vals), statistics.median(sets[1][name]), b["better"])
                    ok = shift <= b["bound"]
                    steady &= ok
                    verdict += " shift %+.3f %s" % (shift, "ok" if ok else "TOO FAR")
            rows[name] = {"q1": q1, "median": med, "q3": q3, "spread": sp,
                          "bound": b["bound"] if b else None, "values": vals}
            print("  %-26s %12.6g %12.6g %12.6g %8.4f %7s %s" % (
                name, q1, med, q3, sp, b["bound"] if b else "-", verdict))
        if traced:
            untraced = statistics.median(sets[0]["op_p50_s"])
            over = statistics.median(traced) - untraced
            rows["trace_overhead_s"] = {"median": over, "share": over / untraced}
            print("  tracing overhead on op_p50_s: %+.4f s (%+.1f%%)" % (over, 100 * over / untraced))
        summary["workloads"][w] = {"runs": len(walls), "mean_run_s": sum(walls) / len(walls),
                                   "failed": failed, "metrics": rows}
    out = os.path.join(build.build_root(), "results", "steady-%d.json" % int(time.time()))
    with open(out, "w") as f:
        json.dump(summary, f, indent=1)
    print("\n%s; summary in %s" % ("steady" if steady else "NOT steady", out))
    sys.exit(0 if steady else 1)


if __name__ == "__main__":
    main()
