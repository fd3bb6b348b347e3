#!/usr/bin/env python3
"""User-shaped benchmark of the graft engine.

Run from the repository root:

    python3 userbench/run.py --workload mot_short --seed 1 --seconds 10 --trace 0

Builds the engine from source (userbench/build.py), runs one workload in one
JVM at local[nproc] with a single closed-loop client, checks every output,
and prints as its last line one JSON object with `correct`, `attempted`,
`failed` and `metrics`: the end-to-end metrics of BENCHMARK.json with
`--trace 0`, the per-layer metrics with `--trace 1`. The line before it is a
report with the environment record, the tail percentile used and every
failure. Everything it writes stays under the build directory
($CARGO_TARGET_DIR, default .bench_build).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # write nothing next to the sources
import build  # noqa: E402

WORKLOADS = ["mot_short", "corpus_ingest", "mot_stream"]
HEAP = "3g"
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def canary_ms():
    """Median time of a fixed pure-Python loop: a CPU-contention probe."""
    times = []
    for _ in range(5):
        t0 = time.perf_counter()
        acc = 0
        for i in range(200000):
            acc += i * i
        times.append((time.perf_counter() - t0) * 1e3)
    return statistics.median(times)


def cpu_pressure_us():
    """Cumulative `some` CPU stall time from /proc/pressure/cpu, or None."""
    try:
        with open("/proc/pressure/cpu") as fh:
            for line in fh:
                if line.startswith("some"):
                    return int(line.split("total=")[1])
    except (OSError, IndexError, ValueError):
        return None
    return None


def check_digests(path, requests):
    """Add a failure to each request whose digest differs from the one an
    earlier run of the same workload, inputs and seed recorded. Only the
    digest of a request that passed its own checks is recorded."""
    known = {}
    if os.path.exists(path):
        with open(path) as fh:
            known = json.load(fh)
    for r in requests:
        i = str(r["i"])
        if i in known and known[i] != r["digest"]:
            r["failures"].append(f"request {i}: digest differs from an earlier run")
        elif not r["failures"]:
            known[i] = r["digest"]
    with open(path, "w") as fh:
        json.dump(known, fh, sort_keys=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    t_start = time.monotonic()
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    classes = build.build(root, build_dir)
    # the first run in a checkout builds, and may take 900 s in all
    budget = (900 if time.monotonic() - t_start > 60 else 180) - 10

    results = os.path.join(build_dir, "results")
    os.makedirs(results, exist_ok=True)
    work = os.path.join(build_dir, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(results, f"{a.workload}-s{a.seed}-t{a.trace}.json")
    if os.path.exists(out):
        os.remove(out)

    env = {"heap": HEAP, "canary_before_ms": canary_ms()}
    psi0 = cpu_pressure_us()
    jars = os.path.join(build.spark_jars(), "*")
    cmd = (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData"] +
           [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.local.dir={work}/spark-local", f"-Djava.io.tmpdir={work}/tmp",
            f"-Dspark.sql.warehouse.dir={work}/warehouse", f"-Dderby.system.home={work}",
            f"-Dspark.hadoop.hadoop.tmp.dir={work}/hadoop-tmp",
            "-cp", f"{classes}{os.pathsep}{jars}", "userbench.Main",
            a.workload, str(a.seed), str(a.seconds), str(a.trace), f"{work}/data", out])
    t0 = time.monotonic()
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr,
                            env=dict(os.environ, SPARK_LOCAL_DIRS=f"{work}/spark-local"))

    def stop(signum, _frame):  # a killed run takes its JVM with it
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        rc = proc.wait(timeout=max(30, budget - (t0 - t_start)))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        raise SystemExit("userbench: the run did not finish in time")
    wall = time.monotonic() - t0
    psi1 = cpu_pressure_us()
    env["canary_after_ms"] = canary_ms()
    if psi0 is not None and psi1 is not None:
        env["cpu_pressure_some_s"] = (psi1 - psi0) / 1e6
        env["cpu_pressure_share"] = (psi1 - psi0) / 1e6 / wall
    shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not os.path.exists(out):
        raise SystemExit(f"userbench: the JVM exited with code {rc}")

    with open(out) as fh:
        res = json.load(fh)
    env["nproc"] = res["nproc"]
    inputs_key = hashlib.sha256(res["inputs"].encode()).hexdigest()[:12]
    digest_file = os.path.join(results, f"digests-{a.workload}-s{a.seed}-{inputs_key}.json")
    requests = res["requests"]
    check_digests(digest_file, requests)
    failures = res["warmup_failures"] + [f for r in requests for f in r["failures"]]
    # every request run, warm-up or timed, is attempted; a failed request and
    # a failed whole-run check each count one failure
    attempted = int(res["warmups"]) + len(requests)
    failed = min(attempted, int(res["warmups_failed"]) + sum(1 for r in requests if r["failures"]) +
                 len(res["final_failures"]))
    e2e = res["end_to_end"]
    e2e["success_rate"] = (attempted - failed) / attempted
    if a.trace:  # a figure only another workload computes is a layer this one never calls
        metrics = {m["name"]: {"value": res["per_layer"].get(m["name"], 0.0), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}

    report = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "inputs": res["inputs"],
              "env": env, "tail_percentile": res["tail_percentile"],
              "setup_parts_s": res["setup_parts_s"], "loop_s": res["loop_s"],
              "finish_s": res["finish_s"], "end_to_end": e2e,
              "self_s": res["self_s"], "failures": failures + res["final_failures"]}
    print(json.dumps({"report": report}))
    print(json.dumps({"correct": failed == 0,
                      "attempted": attempted, "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
