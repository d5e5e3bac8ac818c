#!/usr/bin/env python3
"""Run one workload of the graft benchmark.

    python3 perfbench/run.py --workload dashboard_serve --seed 1 --seconds 60 --trace 0

Run from the repository root. Builds the library and the benchmark if
their sources changed (perfbench/build.py), starts one JVM with Spark
local[nproc], generates the seeded inputs under perfbench/.work, runs
the workload's fixed amount of work (--seconds caps the window),
checks every answer, and prints an info
line and then the result JSON as the last line of standard output.
Exits non-zero if any answer was wrong or the run failed.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave nothing but .build and .work behind

import build  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("dashboard_serve", "corpus_dedup")
HEAP = "2g"
YOUNG = "512m"
TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


# Input sizes: dashboard_serve serves 2 cycles of its distinct
# requests; corpus_dedup applies 12 warehouse load batches, then passes
# over a corpus of 3k documents plus plants.
GEN_PARAMS = {"dashboard_serve": {"cycles": 2, "k": 10},
              "corpus_dedup": {"n": 3000, "batches": 12}}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classes, jars = build.ensure_built()
    work = os.path.join(build.HERE, ".work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    data = os.path.join(work, "data")
    # a traced run's spans outlive the run's scratch directory
    spans = os.path.join(build.HERE, ".work", "spans")
    os.makedirs(spans, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    t0 = time.time()
    gen.generate(a.workload, a.seed, data, **GEN_PARAMS[a.workload])
    gen_s = time.time() - t0
    # every scratch location points inside the work directory
    tmp = os.path.join(work, "tmp")
    # fixed heap and young generation, so the collector behaves alike
    # from run to run; memory is reported as live data after a full
    # collection (live_mb), not as resident set, which a fixed heap pins
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-XX:-UsePerfData"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false",
              "-Dspark.sql.session.timeZone=UTC",
              f"-Dspark.local.dir={tmp}",
              f"-Dspark.hadoop.hadoop.tmp.dir={tmp}",
              f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
              f"-Djava.io.tmpdir={tmp}",
              "-cp", os.pathsep.join([classes, os.path.join(jars, "*")]),
              "graft.perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--data", data, "--work", os.path.join(work, "stores"),
              "--spans", os.path.join(spans, f"{a.workload}-seed{a.seed}.jsonl"),
              "--gen-s", repr(gen_s), "--launch-ns", str(time.time_ns())])
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(cpus)
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, env=env,
                                cwd=work, text=True, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            out = ""
            print(f"perfbench: run exceeded {TIMEOUT_S} s", file=sys.stderr)
    lines = [l for l in out.splitlines() if l.strip()]
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if proc.returncode != 0 or result is None:
        with open(log_path) as fh:
            tail = fh.readlines()[-40:]
        sys.stderr.write("".join(tail))
        for l in lines:
            print(l, file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(proc.returncode or 1)
    with open(log_path) as fh:
        sys.stderr.write("".join(l for l in fh if l.startswith("[perfbench]")))
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
