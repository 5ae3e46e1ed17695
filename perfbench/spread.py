#!/usr/bin/env python3
"""Runs the benchmark over several seeds and reports each end-to-end
metric's spread between runs.

    python3 perfbench/spread.py --workload lake_upsert --seeds 1-10 \
        [--seconds 15] [--log perfbench/results/runs_nproc4.jsonl] [--label round1]

Run from the repository root.  Each seed gets one untraced `run.py` run;
every result line is appended to `--log` (one JSON record per run, with the
workload, seed and label), and the summary prints, per metric, the median
and the spread (interquartile range over median, the quartiles as
`statistics.quantiles(values, n=4)` gives them).  A failed or incorrect
run makes the exit code 1.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


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
    ap.add_argument("--seconds", default="15")
    ap.add_argument("--log", default="")
    ap.add_argument("--label", default="")
    a = ap.parse_args()
    values, ok = {}, True
    for seed in seeds(a.seeds):
        t0 = time.time()
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
                            "--seed", str(seed), "--seconds", a.seconds, "--trace", "0"],
                           capture_output=True, text=True)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            print(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}", flush=True)
            ok = False
            continue
        out = json.loads(lines[-1])
        ok = ok and out["correct"]
        if a.log:
            with open(a.log, "a") as fh:
                fh.write(json.dumps({"workload": a.workload, "seed": seed, "label": a.label,
                                     "wall_s": round(time.time() - t0, 1), **out}) + "\n")
        print(f"seed {seed}: {time.time() - t0:.0f} s, correct={out['correct']} "
              f"attempted={out['attempted']} failed={out['failed']} " +
              " ".join(f"{k}={v['value']:.4g}" for k, v in out["metrics"].items()), flush=True)
        for k, v in out["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, v in values.items():
        if len(v) >= 2:
            q = statistics.quantiles(v, n=4)
            med = statistics.median(v)
            print(f"{a.workload} {k}: median {med:.4g}, spread {(q[2] - q[0]) / med:.3f} over {len(v)} runs")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
