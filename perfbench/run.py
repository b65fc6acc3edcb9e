#!/usr/bin/env python3
"""Benchmark for the graft engine.

Usage, from the root of the repository:

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
  python3 perfbench/run.py --all [--seed <n>] [--seconds <s>] [--record <file>]

The first form runs one workload and prints, as its last line, one JSON
object with `correct`, `attempted`, `failed` and `metrics` (the
end-to-end metrics untraced, the per-layer metrics traced). The second
runs every workload untraced and then traced, prints every metric with
its unit and sample count, and can write the whole record to a file.

The engine and the benchmark's JVM harness are built with sbt on first
use; the build and every run's files stay under the build directory
(`$CARGO_TARGET_DIR`, default `.bench_build`) and sbt's `target/` dirs.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave no cache files in the source tree

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from gen import inputs, tables  # noqa: E402
from lib import oracle, spans, stats  # noqa: E402

CORES = os.cpu_count() or 1
JVM_TIMEOUT_S = 165

# Input sizes. knn_classify uses the reference's medium tier shape;
# ann_ivfpq a clustered corpus; the suites generated tables.
KNN_TRAIN, KNN_TEST = 7354, 370
ANN_CORPUS, ANN_QUERIES = 5000, 1000
SUITE_SF = 0.01

WORKLOADS = ["knn_classify", "ann_ivfpq", "suite_tail"]

# A fixed, pre-touched heap: the peak resident set then moves with memory
# outside the heap (classes, code cache, native and direct buffers), not
# with when the collector chose to grow the heap.
HEAP = ["-Xms3g", "-Xmx3g", "-XX:+AlwaysPreTouch"]

# Metric names and units are defined once, in BENCHMARK.json.
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    _SPEC = json.load(_f)
END_TO_END = {m["name"]: m["unit"] for m in _SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _SPEC["per_layer"]}


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.abspath(os.path.join(ROOT, d) if not os.path.isabs(d) else d)


def source_files():
    """Every file the build reads from the repository."""
    out = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for top in (os.path.join(ROOT, "project"), os.path.join(HERE, "project"),
                os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, dirs, files in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x != "target")
            out += [os.path.join(d, f) for f in sorted(files)]
    return out


def ensure_built():
    """Build once per source state; return (classpath, JVM options)."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise SystemExit(f"perfbench: engine sources not found ({need}); "
                             "run from a checkout of the repository")
    h = hashlib.sha256()
    for f in source_files():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    bdir = build_dir()
    os.makedirs(bdir, exist_ok=True)
    stamp, launch = os.path.join(bdir, "build.stamp"), os.path.join(bdir, "launch.txt")
    fresh = (os.path.exists(stamp) and open(stamp).read() == h.hexdigest() and os.path.exists(launch)
             and all(os.path.exists(p) for p in open(launch).readline().strip().split(os.pathsep)))
    if not fresh:
        log("perfbench: building engine and harness with sbt ...")
        t0 = time.time()
        with open(os.path.join(bdir, "build.log"), "w") as out:
            r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                               cwd=HERE, stdout=out, stderr=subprocess.STDOUT, timeout=840)
        if r.returncode != 0:
            raise SystemExit(f"perfbench: build failed, see {out.name}")
        shutil.copy(os.path.join(HERE, "target", "launch.txt"), launch)
        with open(stamp, "w") as f:
            f.write(h.hexdigest())
        log(f"perfbench: built in {time.time() - t0:.0f} s")
    lines = open(launch).read().splitlines()
    return lines[0], [x for x in lines[1:] if x]


def make_inputs(workload, seed, run_dir):
    if workload == "knn_classify":
        inputs.arff_pair(run_dir, seed, KNN_TRAIN, KNN_TEST)
    elif workload == "ann_ivfpq":
        inputs.vector_corpus(run_dir, seed, ANN_CORPUS, ANN_QUERIES)
    else:
        tables.write(os.path.join(run_dir, "tables"), SUITE_SF, seed)


def run_jvm(launch, workload, seed, seconds, trace, run_dir, deadline):
    cp, opts = launch
    for d in ("tmp", "warehouse", "spark-local"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, *HEAP, *opts,
           "-XX:-UsePerfData",  # no hsperfdata file outside the run directory
           f"-Djava.io.tmpdir={run_dir}/tmp",
           f"-Dspark.sql.warehouse.dir={run_dir}/warehouse",
           f"-Dspark.local.dir={run_dir}/spark-local",
           "-cp", cp, "perfbench.Harness",
           "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", "1" if trace else "0", "--dir", run_dir, "--cores", str(CORES)]
    env = {k: v for k, v in os.environ.items()
           if not k.startswith(("GRAFT_", "SPARK_GRAFT_")) and k != "SPARK_LOCAL_DIRS"}
    with open(os.path.join(run_dir, "jvm.log"), "w") as out:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=out, stderr=subprocess.STDOUT)
        try:
            proc.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"perfbench: {workload} run exceeded its time limit")
    result = os.path.join(run_dir, "result.json")
    if proc.returncode != 0 or not os.path.exists(result):
        tail = open(os.path.join(run_dir, "jvm.log")).read()[-3000:]
        raise SystemExit(f"perfbench: harness failed (exit {proc.returncode}):\n{tail}")
    with open(result) as f:
        return json.load(f)


def end_to_end(workload, r):
    """The end-to-end metrics of one run: {name: (value, samples)}."""
    s = r["samples"]
    m = {"setup_s": (r["setup_s"], 1), "peak_rss_mb": (r["peak_rss_mb"], 1)}
    if workload == "knn_classify":
        m["unit_s"] = (stats.median(s["knn_call_s"]), len(s["knn_call_s"]))
        m["call_p50_s"] = (stats.median(s["knn_classify_s"]), len(s["knn_classify_s"]))
        m["quality"] = (stats.median(s["knn_accuracy"]), len(s["knn_accuracy"]))
    elif workload == "ann_ivfpq":
        m["unit_s"] = (stats.median(s["ann_cycle_s"]), len(s["ann_cycle_s"]))
        m["call_p50_s"] = (stats.median(s["ann_search_s"]), len(s["ann_search_s"]))
        m["quality"] = (stats.median(s["ann_recall_at5"]), len(s["ann_recall_at5"]))
    else:
        m["unit_s"] = (stats.median(s["pass_s"]), len(s["pass_s"]))
        m["call_p50_s"] = (stats.median(s["query_s"]), len(s["query_s"]))
        m["quality"] = (r["oracle_matched"], r["oracle_checked"])
    return m


def extras(workload, r):
    """Workload-specific figures printed beside the metrics:
    {name: (value, unit, samples)}."""
    s = r["samples"]
    out = {"failed_ops_ratio": (r["failed"] / max(1, r["attempted"]), "ratio", r["attempted"]),
           "session_build_s": (r["session_build_s"], "s", 1),
           "warmup_s": (r["warmup_s"], "s", 1)}
    if workload == "knn_classify":
        out["knn_classify_s"] = (stats.median(s["knn_classify_s"]), "s", len(s["knn_classify_s"]))
    elif workload == "ann_ivfpq":
        for k in ("ann_build_s", "ann_append_s", "ann_search_s"):
            out[k] = (stats.median(s[k]), "s", len(s[k]))
        out["ann_recall_at5"] = (stats.median(s["ann_recall_at5"]), "ratio", len(s["ann_recall_at5"]))
    else:
        q = s["query_s"]
        out["tail_query_p50_s"] = (stats.median(q), "s", len(q))
        p = stats.reportable_percentile(len(q))
        if p and p > 50:
            out[f"tail_query_p{p}_s"] = (stats.percentile(q, p), "s", len(q))
    return out


def run_once(workload, seed, seconds, trace):
    """Run one workload; return the harness result plus checks."""
    t_start = time.time()
    bdir = build_dir()
    launch = ensure_built()
    # a fresh build does not eat the run's time
    deadline = max(t_start + JVM_TIMEOUT_S, time.time() + 120)
    run_dir = os.path.join(bdir, "runs", f"{workload}-s{seed}-t{int(trace)}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        t0 = time.time()
        make_inputs(workload, seed, run_dir)
        t1 = time.time()
        r = run_jvm(launch, workload, seed, seconds, trace, run_dir, deadline)
        t2 = time.time()
        if workload == "suite_tail":
            sql = json.load(open(os.path.join(run_dir, "oracle_sql.json")))
            checked, bad = oracle.check(os.path.join(run_dir, "tables"), os.path.join(run_dir, "out"),
                                        sql, os.path.join(bdir, "oracle-cache"))
            r["oracle_checked"], r["oracle_matched"] = checked, (checked - len(bad)) / max(1, checked)
            r["failed"] += len(bad)
            r["failures"] += bad[:20]
            for b in bad[:20]:
                log(f"perfbench: oracle mismatch {b}")
        if trace:
            sp = [json.loads(l) for l in open(os.path.join(run_dir, "spans.jsonl")) if l.strip()]
            r["self_time"] = {k: {"count": c, "total_s": t, "self_s": st}
                              for k, (c, t, st) in spans.by_name(sp).items()}
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    r["wall_s"] = time.time() - t_start
    r["phases_s"].update(inputs=t1 - t0, jvm=t2 - t1, checks=time.time() - t2)
    log("perfbench: phases " + json.dumps({k: round(v, 2) for k, v in r["phases_s"].items()}))
    return r


def layer_metrics(workload, r):
    m = {k: 0.0 for k in PER_LAYER}
    m.update({k: v for k, v in r["layer"].items() if k in m})
    m["host.jvm_loop_pairs_per_s"] = r["host"]["jvm_loop_pairs_per_s"]
    e2e = end_to_end(workload, r)
    m["trace.unit_s"] = e2e["unit_s"][0]
    m["trace.call_p50_s"] = e2e["call_p50_s"][0]
    return m


def host_record(r):
    h = dict(r["host"])
    h["nproc"] = CORES
    try:
        h["mem_total_kb"] = next(int(l.split()[1]) for l in open("/proc/meminfo")
                                 if l.startswith("MemTotal:"))
    except (OSError, StopIteration):
        h["mem_total_kb"] = None
    try:
        h["git_sha"] = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                      text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        h["git_sha"] = None
    h["source_sha256"] = hashlib.sha256(b"".join(
        open(f, "rb").read() for f in source_files())).hexdigest()[:16]
    return h


def single(args):
    r = run_once(args.workload, args.seed, args.seconds, args.trace)
    if args.trace:
        metrics = {k: {"value": v, "unit": PER_LAYER[k]} for k, v in layer_metrics(args.workload, r).items()}
        for k, v in metrics.items():
            print(f"{args.workload} {k} = {v['value']:.6g} {v['unit']}")
    else:
        e2e = end_to_end(args.workload, r)
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, (v, _) in e2e.items()}
        for k, (v, n) in e2e.items():
            print(f"{args.workload} {k} = {v:.6g} {END_TO_END[k]} (n={n})")
        for k, (v, u, n) in extras(args.workload, r).items():
            print(f"{args.workload} {k} = {v:.6g} {u} (n={n})")
    for f in r["failures"][:10]:
        print(f"{args.workload} failure: {f}")
    print("host " + json.dumps(host_record(r)))
    print(json.dumps({"correct": r["failed"] == 0, "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": metrics}))


def run_all(args):
    record = {"seed": args.seed, "seconds": args.seconds, "workloads": {}}
    ok = True
    for w in WORKLOADS:
        plain = run_once(w, args.seed, args.seconds, False)
        traced = run_once(w, args.seed, args.seconds, True)
        e2e = end_to_end(w, plain)
        layer = layer_metrics(w, traced)
        overhead = {k: layer[f"trace.{k}"] - e2e[k][0] for k in ("unit_s", "call_p50_s")}
        ok &= plain["failed"] == 0 and traced["failed"] == 0
        record["workloads"][w] = {
            "end_to_end": {k: {"value": v, "unit": END_TO_END[k], "samples": n} for k, (v, n) in e2e.items()},
            "extras": {k: {"value": v, "unit": u, "samples": n} for k, (v, u, n) in extras(w, plain).items()},
            "per_layer": {k: {"value": v, "unit": PER_LAYER[k]} for k, v in layer.items()},
            "tracing_overhead_s": overhead,
            "self_time": traced["self_time"],
            "run_wall_s": {"untraced": plain["wall_s"], "traced": traced["wall_s"]},
            "checks": {"attempted": plain["attempted"] + traced["attempted"],
                       "failed": plain["failed"] + traced["failed"],
                       "failures": (plain["failures"] + traced["failures"])[:20]},
        }
        record["host"] = host_record(plain)
        print(f"== {w}: output check {'PASS' if plain['failed'] == 0 and traced['failed'] == 0 else 'FAIL'} "
              f"({plain['failed'] + traced['failed']} of {plain['attempted'] + traced['attempted']} calls failed)")
        for k, (v, n) in e2e.items():
            print(f"{w} {k} = {v:.6g} {END_TO_END[k]} (n={n})")
        for k, (v, u, n) in extras(w, plain).items():
            print(f"{w} {k} = {v:.6g} {u} (n={n})")
        for k, v in layer.items():
            print(f"{w} [trace] {k} = {v:.6g} {PER_LAYER[k]}")
        for k, v in overhead.items():
            print(f"{w} [trace] overhead {k} = {v:+.4g} s")
        sys.stdout.flush()
    print("host " + json.dumps(record["host"]))
    if args.record:
        with open(args.record, "w") as f:
            json.dump(record, f, indent=1, sort_keys=True)
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record")
    args = ap.parse_args()
    if args.all:
        return run_all(args)
    if not args.workload:
        ap.error("--workload or --all is required")
    single(args)
    return 0


if __name__ == "__main__":
    sys.exit(main())
