#!/usr/bin/env python3
"""Run a workload over several seeds and report each metric's spread.

    python3 perfbench/tools/spread.py --workload etl --seeds 1-10 [--trace 0]

For every metric: the median over the runs and the distance between the
first and third quartile (statistics.quantiles(values, n=4)) as a share
of the median; with --bounds, also whether that spread is within a third
of the metric's bound in BENCHMARK.json. Per-run results are appended to
perfbench/out/spread-<workload>.jsonl.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", default="0")
    a = ap.parse_args()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    os.makedirs(os.path.join(BENCH, "out"), exist_ok=True)
    log = open(os.path.join(BENCH, "out", f"spread-{a.workload}.jsonl"), "a")
    values = {}
    for s in seeds(a.seeds):
        cmd = spec["command"] + ["--workload", a.workload, "--seed", str(s),
                                 "--seconds", str(spec["run_seconds"]), "--trace", a.trace]
        r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                           stderr=subprocess.DEVNULL, text=True)
        if r.returncode != 0:
            print(f"seed {s}: exit {r.returncode}")
            continue
        res = json.loads(r.stdout.strip().splitlines()[-1])
        log.write(json.dumps({"seed": s, **res}) + "\n")
        log.flush()
        print(f"seed {s}: correct={res['correct']} failed={res['failed']}/{res['attempted']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()
                         if k in bounds or a.trace == "1"), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, vs in values.items():
        if len(vs) < 2:
            continue
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4)
        share = (q3 - q1) / med if med else float("nan")
        b = bounds.get(k)
        verdict = "" if b is None else ("ok" if share < b / 3 else "WIDE")
        print(f"{k:40s} median={med:.4g} iqr/median={share:.4f} bound={b} {verdict}")


if __name__ == "__main__":
    sys.exit(main())
