#!/usr/bin/env python3
"""Repository benchmark: one seeded workload per run.

    python3 perfbench/run.py --workload read_hot --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the program and the
benchmark's JVM side with sbt (perfbench/build.sbt); later runs reuse the
build until a source file changes. Every run starts one JVM that measures
the workload on the test data in perfbench/data (the seed drives the
requests only), checks the outputs against DuckDB, prints a report and,
as its last line, the result JSON. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

WORKLOADS = {
    # name: the test data it runs on, under perfbench/data
    "read_hot": "sf0.1",
    "mixed_rw": "sf0.1",
    "query_library": "sf0.01",
}
JVM_HEAP = "2g"
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def newest_mtime(paths):
    newest = 0.0
    for p in paths:
        if os.path.isfile(p):
            newest = max(newest, os.path.getmtime(p))
        for d, _, files in os.walk(p):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def build(root, build_dir):
    """Compile with sbt unless the launch files are newer than every source."""
    stamp = os.path.join(build_dir, "classpath.txt")
    sources = [os.path.join(root, p) for p in ("build.sbt", "project/build.properties", "src/main")]
    sources += [os.path.join(HERE, p) for p in ("build.sbt", "project/build.properties", "src")]
    if os.path.exists(stamp) and os.path.getmtime(stamp) >= newest_mtime(sources):
        return
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(HERE, ".work", "build.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    with open(log, "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                           cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0 or not os.path.exists(stamp):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"build failed (log: {log})")


def git_sha(root):
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                           text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "unknown (not a git checkout)"


def dir_size(path):
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def cpu_times():
    """(steal, total) jiffies of all CPUs, or None off Linux."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    # guest time is already counted in user time
    return fields[7], sum(fields[:8])


def row_counts(data):
    """Rows per table, from the parquet footers."""
    import pyarrow.parquet as pq
    return {f[:-len(".parquet")]: pq.read_metadata(os.path.join(data, f)).num_rows
            for f in sorted(os.listdir(data)) if f.endswith(".parquet")}


def start_jvm(build_dir, work, args, cpus):
    """Start the measuring JVM."""
    with open(os.path.join(build_dir, "classpath.txt")) as f:
        cp = f.read().strip()
    with open(os.path.join(build_dir, "jvm_options.txt")) as f:
        opts = [l for l in f.read().splitlines() if l]
    for sub in ("tmp", "spark", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    cmd = (["java", f"-Xmx{JVM_HEAP}", f"-Xms{JVM_HEAP}"] + opts +
           [f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/spark",
            f"-Dspark.sql.warehouse.dir={work}/warehouse", f"-Dderby.system.home={work}",
            "-cp", cp, "perfbench.Main"] + args)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
    return proc, log


def wait_jvm(proc):
    try:
        return proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        return "timeout"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("run from the repository root: src/main/scala/graft is missing")
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)

    build_dir = os.path.join(HERE, ".work", "build")
    build(root, build_dir)

    sf = WORKLOADS[a.workload]
    data = os.path.join(HERE, "data", sf)
    rows = row_counts(data)
    work = os.path.join(HERE, ".work", f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    traces = os.path.join(HERE, ".work", "traces")
    os.makedirs(traces, exist_ok=True)
    os.makedirs(work)
    result_file = os.path.join(work, "result.json")
    cpus = os.cpu_count() or 1
    cpu0 = cpu_times()
    proc, log = start_jvm(build_dir, work, [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--data", data, "--work", work, "--result", result_file,
        "--trace-file", os.path.join(traces, f"{a.workload}.json"),
        "--rows", ",".join(f"{k}={v}" for k, v in rows.items()), "--cpus", str(cpus)], cpus)
    done = False
    try:
        import checks  # duckdb loads while the JVM starts
        code = wait_jvm(proc)
        if code != 0 or not os.path.exists(result_file):
            with open(log) as f:
                sys.stderr.write("".join(f.readlines()[-60:]))
            fail(f"benchmark JVM exited with {code}")
        cpu1 = cpu_times()
        with open(result_file) as f:
            res = json.load(f)
        t1 = time.time()
        failed_checks, msgs = checks.run(data, res["checks"])
        check_s = time.time() - t1
        env = {
            "nproc": cpus, "seed": a.seed, "workload": a.workload, "seconds": a.seconds,
            "data": f"perfbench/data/{sf}", "git_sha": git_sha(root), "data_rows": rows,
            "data_bytes": dir_size(data), "jvm_heap": JVM_HEAP,
            "check_s": round(check_s, 3), **res["info"].pop("env", {}),
            # CPU time the hypervisor gave to other guests while the JVM ran:
            # on a shared host the figures slow with it
            "cpu_steal_pct": (round(100.0 * (cpu1[0] - cpu0[0]) / max(1, cpu1[1] - cpu0[1]), 2)
                              if cpu0 and cpu1 else None),
        }
        done = True
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        # a failed run keeps its work directory (JVM log, result file) for diagnosis
        if done:
            shutil.rmtree(work, ignore_errors=True)

    failed = res["failed"] + failed_checks
    notes = res["notes"] + msgs
    correct = failed == 0 and not notes
    print("# environment " + json.dumps(env, sort_keys=True))
    print("# info " + json.dumps(res["info"], sort_keys=True))
    for kind, ms in (("", res["metrics"]), ("layer ", res["layers"])):
        for name, m in ms.items():
            print(f"{a.workload} {kind}{name} = {m['value']} {m['unit']}")
    for p in res["predictions"]:
        print(f"prediction {'HELD' if p['held'] else 'FAILED'}: {p['prediction']} ({p['measured']})")
    for n in notes:
        print(f"note: {n}")
    print(f"checks: {len(res['checks'])} outputs compared with DuckDB, {failed} failed operations")

    if a.trace:
        declared, source = spec["per_layer"], res["layers"]
    else:
        declared, source = spec["end_to_end"], res["metrics"]
    metrics = {}
    for m in declared:
        if m["name"] in source:
            metrics[m["name"]] = {"value": source[m["name"]]["value"], "unit": m["unit"]}
        elif a.trace:
            # a layer this workload does not exercise did no work
            metrics[m["name"]] = {"value": 0.0, "unit": m["unit"]}
        else:
            fail(f"metric {m['name']} was not measured")
    print(json.dumps({"correct": correct, "attempted": max(1, res["attempted"]),
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
