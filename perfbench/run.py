#!/usr/bin/env python3
"""Run one benchmark workload against the engine and print its metrics.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0

From the repository root. Steps:
  1. build: compile `src/main/scala` and `perfbench/scala` with scalac
     into `.bench_build/classes-<source hash>` (skipped when present);
  2. write the workload's input tables for `--seed` (datagen.py);
  3. start one JVM (`perfbench.PerfBench`): set-up and warm-up, then a
     timed window of `--seconds` of whole iterations of the query mix;
  4. check the last window iteration's outputs against DuckDB (checks.py);
  5. print a detail JSON line, then the result line
     {"correct", "attempted", "failed", "metrics"}.
`--trace 1` reports the per-layer metrics instead of the end-to-end
ones and writes every span and layer figure to
`.bench_build/traces/<workload>-<seed>.json`.

Exit code 0 when the run completed and every check passed, 1 when a
check failed (the result line then says "correct": false), 2 when the
build or the run itself failed (no result line).
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import datagen  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
RUN_TIMEOUT_S = 170
HEAP = "2g"

# Query mix of one iteration, whether GraftCaches is released before
# each iteration, and warm-up iterations after the session (and, without
# release, after the first call has filled the caches).
# q_dedup_minhash_lsh is not in the near-dup mix: next to the two n-gram
# queries it overflows Spark's generated-code cache, and the number of
# recompilations per iteration (6 to 35) then differs from JVM to JVM on
# the same inputs. The traced run times it apart (scale.minhash_lsh_s).
MIXES = {
    "dashboard": ["q_yelp_kpi", "q_yelp_avg_rating", "q_yelp_biz_by_stars",
                  "q_yelp_yearly_trends", "q_yelp_daywise_category",
                  "q_yelp_engagement", "q_yelp_top_states",
                  "q_yelp_most_active", "q_yelp_top_biz_per_city",
                  "q_yelp_review_length"],
    "neardup_text": ["q_dedup_ngram_jaccard", "q_dedup_containment"],
}

RELEASE = {"dashboard": False, "neardup_text": True}
WARMUP = {"dashboard": 2, "neardup_text": 10}

# JIT per workload, chosen from per-iteration curves (README, "Warm-up").
# The dashboard recompiles its generated classes on every refresh, and
# under C2 its refresh time kept falling for more than 75 s; with C1 only
# it is flat after the second refresh. The near-dup kernels need C2
# (C1 only doubled their iteration time); ten iterations bring it to
# its plateau.
JVM_FLAGS = {"dashboard": ["-XX:TieredStopAtLevel=1"], "neardup_text": []}

# Input tables each query reads; rows_per_s counts their parquet rows.
# The dashboard reads the cached master: one row per order.
READS = {
    "dashboard": ["orders"],
    "neardup_text": ["documents"],
}

END_TO_END = [("setup_s", "s"), ("iter_s", "s"), ("rows_per_s", "rows/s"),
              ("cpu_s_per_iter", "s"), ("live_heap_mb", "MB")]

PER_LAYER = [
    ("session.create_s", "s"), ("tables.scan_rows_per_iter", "rows"),
    ("tables.scan_mb_per_iter", "MB"), ("spark.plan_ms_per_query", "ms"),
    ("spark.jobs_per_iter", "count"), ("spark.stages_per_iter", "count"),
    ("spark.tasks_per_iter", "count"), ("spark.driver_gap_s_per_iter", "s"),
    ("spark.stage_wall_s_per_iter", "s"), ("spark.task_cpu_s_per_iter", "s"),
    ("spark.shuffle_write_mb_per_iter", "MB"),
    ("spark.shuffle_read_mb_per_iter", "MB"),
    ("spark.shuffle_records_per_iter", "count"),
    ("spark.task_skew", "ratio"), ("spark.peak_task_mem_mb", "MB"),
    ("spark.codegen_compiles_per_iter", "count"),
    ("caches.entries_per_iter", "count"), ("caches.storage_mb", "MB"),
    ("jvm.gc_s_per_iter", "s"), ("jvm.jit_s_per_iter", "s"),
    ("jvm.heap_used_mb_after_iter", "MB"),
]

JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                            recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "scala/**/*.scala"),
                             recursive=True))
    if not main:
        fail("no engine sources under src/main/scala: run from the repository root")
    return main + bench


def build():
    """Compile engine + benchmark once per source state; return classes dir."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    classes = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(classes, ".ok")):
        return classes
    jars = sorted(glob.glob(os.path.join(SPARK_JARS, "*.jar")))
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    if len(compiler) != 3:
        fail(f"scala compiler jars not found under {SPARK_JARS}: set SPARK_HOME")
    os.makedirs(BUILD, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="build-", dir=BUILD)
    t0 = time.time()
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx3g", "-cp", ":".join(compiler),
         "scala.tools.nsc.Main", "-nowarn", "-classpath", ":".join(jars),
         "-d", tmp] + srcs,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.stderr.write(r.stdout[-4000:])
        fail("compile failed")
    open(os.path.join(tmp, ".ok"), "w").close()
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    os.rename(tmp, classes)
    print(f"[perfbench] built in {time.time() - t0:.1f} s", file=sys.stderr)
    return classes


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(classes, args, run_dir, data_dir, out_dir):
    scratch = os.path.join(run_dir, "scratch")
    tmp = os.path.join(run_dir, "tmp")
    for d in (scratch, tmp, out_dir):
        os.makedirs(d, exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_SCRATCH=scratch,
               SPARK_GRAFT_CPUS=str(cpus()), SPARK_LOCAL_DIRS=tmp)
    for k in ("SPARK_GRAFT_SHUFFLE_PARTITIONS", "SPARK_GRAFT_AQE_MIN_PARTITION"):
        env.pop(k, None)
    cmd = (["java", f"-Xmx{HEAP}"] + JVM_FLAGS[args.workload] +
           [f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
            "-Dspark.ui.enabled=false"] + JVM_OPENS +
           ["-cp", f"{classes}:{SPARK_JARS}/*", "perfbench.PerfBench",
            args.workload, ",".join(MIXES[args.workload]),
            str(int(RELEASE[args.workload])), str(WARMUP[args.workload]),
            str(args.seed), str(args.seconds), str(args.trace),
            data_dir, out_dir, str(time.time_ns())])
    log = open(os.path.join(run_dir, "jvm.log"), "w")
    p = subprocess.Popen(cmd, env=env, cwd=run_dir, stdout=log,
                         stderr=subprocess.STDOUT, start_new_session=True)

    def stop(signum, _frame):
        raise SystemExit(f"[perfbench] stopped by signal {signum}")
    signal.signal(signal.SIGTERM, stop)
    try:
        rc = p.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        rc = None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
        log.close()
    res = os.path.join(out_dir, "result.json")
    if rc != 0 or not os.path.exists(res):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        fail(f"benchmark JVM exited with {rc}")
    with open(res) as f:
        return json.load(f)


def input_rows(checker, workload):
    per_query = sum(checker.scalar(f"SELECT count(*) FROM {t}")
                    for t in READS[workload])
    return per_query * len(MIXES[workload])


def end_to_end(r, rows_per_iter):
    it = r["iter_s"]
    return {
        "setup_s": r["setup_s"],
        "iter_s": statistics.median(it),
        "rows_per_s": rows_per_iter * len(it) / r["window_s"],
        "cpu_s_per_iter": statistics.median(r["iter_cpu_s"]),
        "live_heap_mb": r["live_heap_mb"],
    }


def perturb_all(checker, mix, res_dir):
    """Apply each check's perturbation to a copy of the outputs; return
    the names of checks that did NOT reject their perturbed copy."""
    import pandas as pd
    missed = []
    for name, target, edit in checks.perturbations(mix):
        tmp = tempfile.mkdtemp(prefix="perturb-", dir=os.path.dirname(res_dir))
        try:
            res_copy = os.path.join(tmp, "results")
            shutil.copytree(res_dir, res_copy)
            qdir = os.path.join(res_copy, target)
            df = pd.concat([pd.read_parquet(f) for f in
                            sorted(glob.glob(os.path.join(qdir, "*.parquet")))],
                           ignore_index=True)
            shutil.rmtree(qdir)
            os.makedirs(qdir)
            edit(df).to_parquet(os.path.join(qdir, "part-0.parquet"), index=False)
            c = checks.Checker(checker.data_dir, res_copy, checker.oracle)
            err = dict(checks.run_checks(c, mix))[name]
            print(f"[perturb] {name:40s} {'rejected: ' + err[:100] if err else 'NOT REJECTED'}",
                  file=sys.stderr)
            if err is None:
                missed.append(name)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    return missed


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(MIXES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--perturb", action="store_true",
                    help="also show that each output check rejects a perturbed output")
    args = ap.parse_args()

    classes = build()
    os.makedirs(os.path.join(BUILD, "runs"), exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-",
                               dir=os.path.join(BUILD, "runs"))
    try:
        t0 = time.time()
        data_dir = os.path.join(run_dir, "data")
        datagen.generate(data_dir, args.workload, args.seed)
        out_dir = os.path.join(run_dir, "out")
        t1 = time.time()
        r = run_jvm(classes, args, run_dir, data_dir, out_dir)
        t2 = time.time()
        with open(os.path.join(out_dir, "oracle_sql.json")) as f:
            oracle = json.load(f)
        res_dir = os.path.join(out_dir, "results")
        mix = MIXES[args.workload]
        checker = checks.Checker(data_dir, res_dir, oracle)
        results = checks.run_checks(checker, mix)
        correct = all(err is None for _, err in results)
        for name, err in results:
            if err:
                print(f"[check] FAIL {name}: {err}", file=sys.stderr)
        missed = perturb_all(checker, mix, res_dir) if args.perturb else []
        rows_per_iter = input_rows(checker, args.workload)
        phases = {"datagen_s": t1 - t0, "jvm_s": t2 - t1, "checks_s": time.time() - t2}
        e2e = end_to_end(r, rows_per_iter)
        detail = {k: r[k] for k in ("workload", "seed", "cpus", "warmup_s",
                                    "iterations", "window_s", "session_create_s",
                                    "cache_fill_s", "peak_rss_mb", "noise")}
        detail.update(iter_s_all=r["iter_s"], iter_cpu_s_all=r["iter_cpu_s"],
                      rows_per_iter=rows_per_iter,
                      end_to_end=e2e, checks={n: e or "ok" for n, e in results},
                      phases=phases)
        if args.trace:
            detail["layer"] = r["layer"]
            tdir = os.path.join(BUILD, "traces")
            os.makedirs(tdir, exist_ok=True)
            with open(os.path.join(tdir, f"{args.workload}-{args.seed}.json"), "w") as f:
                json.dump({"detail": detail, "spans": r["spans"],
                           "calls": r["calls"]}, f, indent=1)
            metrics = {n: {"value": r["layer"][n], "unit": u} for n, u in PER_LAYER}
        else:
            metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END}
        print(json.dumps(detail))
        print(json.dumps({"correct": correct, "attempted": r["attempted"],
                          "failed": r["failed"], "metrics": metrics}))
        if missed:
            print(f"[perturb] checks that accepted a perturbed output: {missed}",
                  file=sys.stderr)
        sys.exit(0 if correct and not missed else 1)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
