#!/usr/bin/env python3
"""graft benchmark: one workload, closed loop, one client.

    python3 perfbench/run.py --workload convert --seed 1 --seconds 12 --trace 0

Builds the program and the benchmark's JVM side from source (build.py),
generates the workload's inputs from the seed (gen.py), runs the JVM
side on local[nproc], checks every output, and prints every metric with
its unit. The last line of stdout is one JSON object: with --trace 0 the
end-to-end metrics, with --trace 1 the per-layer ones. Exits non-zero
without that line if the build, the run or the time limit fails.
README.md lists the workloads and metrics.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("convert", "compose")
TIME_LIMIT_S = 170  # the JVM is stopped past this, counted from the end of the build
ADD_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    classes = build.ensure()
    t_run = time.time()
    work = os.path.join(build.OUT, f"run-{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        raw, t_start = run_jvm(a, classes, work, t_run)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    report(a, raw, t_start)


def run_jvm(a, classes, work, t_run):
    """Generates the inputs and runs the JVM side; returns its raw record
    and the time set-up started."""
    t_start = time.time()
    data = os.path.join(work, "data")
    if a.workload == "convert":
        gen.ledger(data, a.seed)
    else:
        gen.corpus(data)
    out = os.path.join(work, "raw.json")
    java(classes, work, ["--workload", a.workload, "--seed", str(a.seed),
                         "--seconds", str(a.seconds), "--trace", str(a.trace),
                         "--data", data, "--out", out,
                         "--expected", os.path.join(HERE, "expected.json")],
         TIME_LIMIT_S - (time.time() - t_run))
    with open(out) as fh:
        return json.load(fh), t_start


def java(classes, work, args, timeout_s):
    """Runs graftbench.Main on local[nproc] with its scratch under `work`;
    stops its whole process group past `timeout_s`."""
    cpus = len(os.sched_getaffinity(0))
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:-UsePerfData", "-Dfile.encoding=UTF-8",
            "-Dsun.jnu.encoding=UTF-8", f"-Djava.io.tmpdir={work}/tmp",
            "-cp", f"{classes}:{build.spark_jars()}"]
           + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["graftbench.Main", "--cpus", str(cpus), "--work", work] + args)
    env = dict(os.environ, LC_ALL="C.UTF-8", LANG="C.UTF-8")
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                             cwd=work, start_new_session=True)
        try:
            rc = p.wait(timeout=max(1.0, timeout_s))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(log_path, errors="replace") as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise SystemExit(f"perfbench: JVM side failed ({rc})")


def report(a, raw, t_start):
    ops = raw["ops"]
    untraced = [o for o in ops if not o["traced"]]
    traced = [o for o in ops if o["traced"]]
    e2e, extra = metrics.end_to_end(raw, untraced, t_start)
    print(f"workload {a.workload} seed {a.seed} trace {a.trace}: "
          f"{len(ops)} operations, {len({o['round'] for o in ops})} rounds")
    for o in ops:
        if o["err"]:
            print(f"  FAILED round {o['round']} {o['name']}: {o['err']}")
    for k, v in e2e.items():
        print(f"  {k} = {v:.6g} {metrics.END_TO_END_UNITS[k]}")
    for k, v in extra.items():
        print(f"  {k} = {v:.6g} {metrics.EXTRA_UNITS[k]}")
    if a.trace:
        layers = metrics.per_layer(raw, traced, untraced)
        for k, v in layers.items():
            print(f"  {k} = {v:.6g} {metrics.layer_unit(k)}")
        commits = [r["commits"] for r in raw.get("artifact_rounds", [])]
        if commits:
            print(f"  operators.commits per traced round: {commits}")
        out = {k: {"value": v, "unit": metrics.layer_unit(k)} for k, v in layers.items()}
    else:
        out = {k: {"value": v, "unit": metrics.END_TO_END_UNITS[k]} for k, v in e2e.items()}
    failed = sum(1 for o in ops if o["err"])
    print(json.dumps({"correct": failed == 0, "attempted": len(ops), "failed": failed,
                      "metrics": out}))


if __name__ == "__main__":
    main()
