#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the engine and the harness from
source (perfbench/build.sh) into .bench_build/perfbench on first use,
runs the harness in one JVM on every core, checks the outputs against
DuckDB, and prints a short
summary followed by one JSON line:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones. The full
detail (result.json, check.json, spans.jsonl, logs) stays in the run
directory printed in the summary.
"""
import argparse
import hashlib
import json
import math
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
# a fixed heap (-Xms = -Xmx), so heap resizing adds no run-to-run noise
HEAP = "2g"
# the lane workloads' tables: the repository's fixed sf0.01 testdata
# (lineitem: 60,175 rows); the seed sets only the lane order
LANE_DATA = os.path.join(HERE, "data", "sf0.01")
RUN_TIMEOUT_S = 170  # the benchmark's workloads; the full-registry ones get an hour
CONTENDED_LOADAVG = 2.0  # graft.Bench's rule, on the start loadavg
BENCHMARK_WORKLOADS = ("reference_stages", "registry_lanes")
WORKLOADS = BENCHMARK_WORKLOADS + ("relational_lanes", "corpus_pipeline")
# gated end-to-end metrics; op_p50_s / op_p90_s are printed beside them
# but not gated: they have one sample per operation (8 or 13), and their
# spread across seeds came near or above the largest bound (see README.md)
E2E = ["setup_s", "pass_s", "live_mb"]

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
sys.path.insert(0, HERE)


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash():
    h = hashlib.sha1()
    for top in ("src/main/scala", "perfbench/src", "perfbench/build.sh"):
        base = os.path.join(ROOT, top)
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:12]


def build(rev):
    """Compiles once per source state; later runs reuse the classes."""
    stamp = os.path.join(WORK, "classes.rev")
    classes = os.path.join(WORK, "classes")
    if os.path.isdir(classes) and os.path.exists(stamp) and open(stamp).read() == rev:
        return classes
    os.makedirs(WORK, exist_ok=True)
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as fh:
        rc = subprocess.call(["bash", os.path.join(HERE, "build.sh"), WORK],
                             stdout=fh, stderr=subprocess.STDOUT)
    if rc != 0:
        fail(f"build failed (exit {rc}), see {log}")
    with open(stamp, "w") as fh:
        fh.write(rev)
    return classes


def git_rev():
    try:
        return subprocess.run(["git", "rev-parse", "--short=12", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True, timeout=10,
                              check=True).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return None


def loadavg():
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def steal_s():
    """CPU time the hypervisor gave to other guests, summed over cores."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def spark_jars():
    """The jar directory build.sbt names as `unmanagedBase`; SPARK_JARS overrides it."""
    if "SPARK_JARS" in os.environ:
        return os.environ["SPARK_JARS"]
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        return re.search(r'^unmanagedBase := file\("(.*)"\)', fh.read(), re.M).group(1)


def java_cmd(classes, run_dir, args, trace):
    opens = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java", *opens, f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
             f"-Dspark.local.dir={tmp}", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC",
             f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
             # traced runs count file operations (see CountingLocalFs.scala)
             *(["-Dspark.hadoop.fs.file.impl=graft.perfbench.CountingLocalFs"] if trace else []),
             "-cp", f"{classes}:{spark_jars()}/*", "graft.perfbench.Main", *args])


def run_jvm(cmd, run_dir, env, timeout):
    with open(os.path.join(run_dir, "stdout.log"), "w") as out, \
            open(os.path.join(run_dir, "stderr.log"), "w") as err:
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=out, stderr=err,
                             start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"harness exceeded {timeout}s, see {run_dir}/stderr.log")


def unit(name):
    if name.endswith("_frac") or name.endswith("slot_util"):
        return "ratio"
    if name.endswith("_mb") or name.startswith("rss_mb."):
        return "MB"
    if name.endswith("_s"):
        return "s"
    return "count"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no engine sources next to the benchmark; run from a full checkout")
    import checks  # needs tools/check_oracle.py of the checkout
    src_rev = source_hash()
    classes = build(src_rev)

    t0 = time.time()  # set-up is measured from here: build excluded
    load_start = loadavg()
    steal_start = steal_s()
    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(WORK, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    data_dir = LANE_DATA

    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores), SPARK_LOCAL_DIRS=os.path.join(run_dir, "tmp"))
    rc = run_jvm(java_cmd(classes, run_dir, [a.workload, str(a.seed), str(a.seconds),
                                             str(a.trace), run_dir, data_dir,
                                             str(int(t0 * 1000))], a.trace), run_dir, env,
                 RUN_TIMEOUT_S if a.workload in BENCHMARK_WORKLOADS else 3600)
    res_path = os.path.join(run_dir, "result.json")
    if rc != 0 or not os.path.exists(res_path):
        fail(f"harness exited {rc}, see {run_dir}/stderr.log")
    with open(res_path) as fh:
        res = json.load(fh)
    steal_frac = (steal_s() - steal_start) / ((time.time() - t0) * cores)

    # ---- output check, outside every timed window ----
    if a.workload == "reference_stages":
        mismatches = checks.reference(res["checks"])
    else:
        mismatches = checks.lanes(os.path.join(run_dir, "out"), data_dir, res["ops"])
    failed_ops = dict(res["failures"])
    for name, why in mismatches.items():
        failed_ops.setdefault(name, f"output check: {why}")
    with open(os.path.join(run_dir, "check.json"), "w") as fh:
        json.dump({"mismatches": mismatches, "failed_ops": failed_ops}, fh, indent=1)
    shutil.rmtree(os.path.join(run_dir, "data"), ignore_errors=True)
    shutil.rmtree(os.path.join(run_dir, "tmp"), ignore_errors=True)
    shutil.rmtree(os.path.join(run_dir, "warehouse"), ignore_errors=True)

    attempted = res["samples_per_pass"]
    failed = len(failed_ops)
    source = res["per_layer"] if a.trace else res["end_to_end"]
    names = sorted(source) if a.trace else E2E
    metrics = {}
    for n in names:
        v = source[n]
        if not isinstance(v, (int, float)) or math.isnan(v) or math.isinf(v):
            fail(f"metric {n} is not a number: {v}")
        metrics[n] = {"value": v, "unit": unit(n)}

    stamp = res["stamp"]
    e2e = res["end_to_end"]
    rev = git_rev() or f"src-{src_rev}"
    print(f"perfbench {a.workload} seed={a.seed} trace={a.trace} rev={rev} "
          f"nproc={os.cpu_count()} cores_used={stamp['cores_used']} "
          f"heap_mb={stamp['heap_max_mb']} loadavg={load_start:.2f}->{stamp['loadavg_end']:.2f} "
          f"contended={str(load_start > CONTENDED_LOADAVG).lower()} steal_frac={steal_frac:.3f}")
    print(f"passes={len(res['pass_s'])} measured={res['passes_measured']} ops_per_pass={attempted} "
          f"ops_failed_frac={failed / attempted:.4f} detail={os.path.relpath(run_dir, ROOT)}")
    print("end_to_end: " + " ".join(f"{k}={e2e[k]:.4f}" for k in E2E) +
          f" op_p50_s={e2e['op_p50_s']:.4f} op_p90_s={e2e['op_p90_s']:.4f} (n={attempted})")
    if a.workload == "reference_stages":
        print("stages_s: " + " ".join(
            f"{k.split('.', 1)[1]}={v:.3f}" for k, v in res["op_median_s"].items()))
    else:
        slow = sorted(res["op_median_s"].items(), key=lambda kv: -kv[1])[:5]
        print("slowest_ops_s: " + " ".join(f"{k.rsplit('.', 1)[1]}={v:.3f}" for k, v in slow))
    if a.trace:
        pl = res["per_layer"]
        print(f"trace: overhead_frac={pl['trace.overhead_frac']:.4f} "
              f"unattributed_jobs={pl['trace.unattributed_jobs']:.1f} spark.jobs={pl['spark.jobs']:.1f} "
              f"spark.plan_s={pl['spark.plan_s']:.3f} spark.gap_s={pl['spark.gap_s']:.3f}")
    if failed_ops:
        print("failed_ops: " + ", ".join(sorted(failed_ops))[:600])
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
