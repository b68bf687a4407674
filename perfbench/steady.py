#!/usr/bin/env python3
"""Steadiness of the benchmark: run workloads repeatedly, one seed per
run, and report for every metric the median, the quartiles and the
quartile spread as a share of the median (Python's
`statistics.quantiles(values, n=4)`), plus each run's wall time.

    python3 perfbench/steady.py --workloads dashboard,neardup_text --seeds 1-10
    python3 perfbench/steady.py --workloads neardup_text --seeds 1-5 --trace 1

The bounds in BENCHMARK.json are chosen from these spreads. The table
goes to standard output; the raw runs to `.bench_build/steady/`.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    a, _, b = spec.partition("-")
    return list(range(int(a), int(b or a) + 1))


def run_once(workload, seed, seconds, trace):
    t0 = time.time()
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    wall = time.time() - t0
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        sys.stderr.write(p.stderr[-3000:])
        return {"seed": seed, "rc": p.returncode, "wall_s": wall}
    return {"seed": seed, "rc": p.returncode, "wall_s": wall,
            "detail": json.loads(lines[-2]), "result": json.loads(lines[-1])}


def summarize(runs):
    ok = [r for r in runs if r["rc"] == 0]
    out = {}
    if not ok:
        return out
    for name in ok[0]["result"]["metrics"]:
        v = [r["result"]["metrics"][name]["value"] for r in ok]
        med = statistics.median(v)
        q1, _, q3 = statistics.quantiles(v, n=4) if len(v) > 1 else (v[0],) * 3
        out[name] = {"median": med, "q1": q1, "q3": q3,
                     "iqr_share": (q3 - q1) / med if med else float("nan")}
    out["failed_share"] = sorted({r["result"]["failed"] / r["result"]["attempted"]
                                  for r in ok})
    out["wall_s"] = {"median": statistics.median(r["wall_s"] for r in runs),
                     "max": max(r["wall_s"] for r in runs)}
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    report = {}
    for w in args.workloads.split(","):
        runs = [run_once(w, s, args.seconds, args.trace) for s in seeds(args.seeds)]
        report[w] = {"runs": runs, "summary": summarize(runs)}
        s = report[w]["summary"]
        print(f"== {w}: {sum(r['rc'] == 0 for r in runs)}/{len(runs)} runs ok, "
              f"wall median {s.get('wall_s', {}).get('median', 0):.1f} s, "
              f"failed share {s.get('failed_share')}")
        for r in runs:
            if r["rc"] == 0:
                d = r["detail"]
                print(f"   seed {r['seed']:4d}  wall {r['wall_s']:6.1f} s  "
                      f"iterations {d['iterations']:3d}  "
                      f"iter_s {statistics.median(d['iter_s_all']):7.3f}  "
                      f"steal cores {d['noise']['steal_cores']:.2f}")
        for name, m in s.items():
            if isinstance(m, dict) and "iqr_share" in m:
                print(f"   {name:34s} median {m['median']:12.4f}  "
                      f"q1 {m['q1']:12.4f}  q3 {m['q3']:12.4f}  "
                      f"iqr/median {m['iqr_share']:.4f}")
        sys.stdout.flush()
    out = os.path.join(ROOT, ".bench_build", "steady")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, f"{int(time.time())}.json"), "w") as f:
        json.dump(report, f, indent=1)


if __name__ == "__main__":
    main()
