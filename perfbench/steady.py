#!/usr/bin/env python3
"""Steadiness check of the graft benchmark: run each workload once per
seed, then report per metric the median and the spread, the distance
between the first and third quartiles as a share of the median, next
to the bound BENCHMARK.json gives it.

    python3 perfbench/steady.py --seeds 1-10 [--workloads a,b] [--trace 0] [--out runs.jsonl]

Run from the repository root. Each run's result line and wall time
are appended to --out (JSON lines) when given.
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
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    a = ap.parse_args()
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    for wl in a.workloads.split(","):
        values, walls = {}, []
        for s in seeds(a.seeds):
            t0 = time.time()
            p = subprocess.run(bench["command"] + ["--workload", wl, "--seed", str(s),
                                                   "--seconds", str(bench["run_seconds"]),
                                                   "--trace", str(a.trace)],
                               cwd=ROOT, capture_output=True, text=True)
            wall = time.time() - t0
            walls.append(wall)
            if p.returncode != 0:
                sys.stderr.write(p.stderr[-3000:])
                sys.exit(f"{wl} seed {s}: exit {p.returncode}")
            lines = p.stdout.strip().splitlines()
            res = json.loads(lines[-1])
            info = [json.loads(l[len("[info] "):]) for l in lines if l.startswith("[info] ")]
            if a.out:
                with open(a.out, "a") as fh:
                    fh.write(json.dumps({"workload": wl, "seed": s, "wall_s": wall,
                                         "info": info[0] if info else None,
                                         "result": res}) + "\n")
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
        print(f"{wl}: {len(walls)} runs, wall median {statistics.median(walls):.1f} s, "
              f"max {max(walls):.1f} s")
        for k, vs in values.items():
            med = statistics.median(vs)
            if len(vs) >= 2:
                q = statistics.quantiles(vs, n=4)
                spread = (q[2] - q[0]) / med if med else 0.0
            else:
                spread = 0.0
            b = bounds.get(k)
            flag = "" if b is None or spread < b / 3 else "  <-- above a third of its bound"
            print(f"  {k:28s} median {med:12.4f}  spread {spread:6.3f}"
                  f"  bound {b if b is not None else '-'}{flag}")


if __name__ == "__main__":
    main()
