#!/usr/bin/env python3
"""Runs one traced run per workload and writes the per-layer table.

    python3 perfbench/trace_table.py [--seed N] [--seconds S] [--out FILE]

Run from the repository root.  Each workload gets `run.py --trace 1`; the
table gives the shares of operation wall time that say which layers each
workload stresses, each span's share (from the run's `breakdown.tsv`), and
every per-layer metric per workload.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402


def traced(workload, seed, seconds):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "1"],
                       capture_output=True, text=True)
    if p.returncode != 0:
        sys.exit(f"{workload}: run failed\n{p.stderr[-3000:]}")
    out = json.loads(p.stdout.strip().splitlines()[-1])
    with open(os.path.join(".bench_build", "run", workload, "breakdown.tsv")) as fh:
        rows = [l.rstrip("\n").split("\t") for l in fh][1:]
    spans = [{"layer": r[0], "name": r[1], "spans": int(r[2]), "wall": float(r[3]),
              "job": float(r[4]), "self": float(r[5])} for r in rows]
    return out, spans, [l for l in p.stderr.splitlines() if l.startswith("[perfbench]")]


def shares(m):
    """Where an operation's wall time goes: Spark jobs (interval union) and
    the driver residual split it; Catalyst phases run on the driver, so they
    are part of the residual."""
    wall = m["sched.job_wall_ms"] + m["driver.residual_ms"]
    if wall <= 0:
        return {}
    return {
        "op wall per op (ms)": wall,
        "Spark jobs (interval union)": m["sched.job_wall_ms"] / wall,
        "driver residual": m["driver.residual_share"],
        "  of which Catalyst phases of actions": (m["sql.analysis_ms"] + m["sql.optimization_ms"]
                                                  + m["sql.planning_ms"]) / wall,
        "core use inside jobs (task run / job time x cores)": m["sched.core_util"],
        "task CPU / task run": m["sched.task_cpu_ms"] / max(1e-9, m["sched.task_run_ms"]),
        "trace own time / op wall (trace.overhead_share)": m["trace.overhead_share"],
    }


def span_table(w, spans):
    """Each span name's share of the workload's operation wall time, and how
    much of that share Spark jobs cover.  Child spans nest in their parents,
    so shares of different names overlap; self time does not."""
    wall = sum(s["wall"] for s in spans if s["layer"] == "op")
    out = [f"### {w}", "", "| layer | span | spans | share of op wall | jobs inside | self time |",
           "|---|---|---|---|---|---|"]
    for s in spans:
        out.append(f"| {s['layer']} | {s['name']} | {s['spans']} | {s['wall'] / wall:.3f} | "
                   f"{s['job'] / wall:.3f} | {s['self'] / wall:.3f} |")
    return out + [""]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=30)
    ap.add_argument("--out", default=os.path.join(HERE, "results", "trace_nproc4.md"))
    a = ap.parse_args()
    res, spans, logs = {}, {}, []
    for w in run.WORKLOADS:
        out, spans[w], log = traced(w, a.seed, a.seconds)
        res[w] = {k: v["value"] for k, v in out["metrics"].items()}
        logs += log + [f"{w}: correct={out['correct']} attempted={out['attempted']} failed={out['failed']}"]
    cols = list(run.WORKLOADS)
    lines = [f"# Per-layer trace, seed {a.seed}, {a.seconds:g} s per run", "",
             "Written by `python3 perfbench/trace_table.py` (the run log at the end names",
             "the Spark master).  Each traced run measures untraced, traced and untraced",
             "windows (a quarter, a half and a quarter of the run); the per-layer figures",
             "come from the traced window, per operation (query, commit, pass) unless the",
             "name says otherwise.", "",
             "## Shares of operation wall time", "",
             "| share | " + " | ".join(cols) + " |", "|---|" + "---|" * len(cols)]
    sh = {w: shares(res[w]) for w in cols}
    for k in sh[cols[0]]:
        lines.append(f"| {k} | " + " | ".join(f"{sh[w].get(k, 0):.3g}" for w in cols) + " |")
    side = lambda w: ("driver residual" if res[w]["driver.residual_share"] > 0.5 else "Spark jobs")
    lines += ["", "Larger of driver residual and Spark job time: " +
              ", ".join(f"{w} {side(w)}" for w in cols) + ".  "
              f"The query_mix driver residual share is {res['query_mix']['driver.residual_share']:.2f} "
              "(ROADMAP's re-anchor probe: 0.33 over 25 headline queries at sf0.1, 0.39 on the "
              "sub-second ones).  Catalyst analysis mostly runs while the catalog function "
              "builds the DataFrame (`catalog.build`), before the action whose phases the "
              "SQL listener reports.",
              "", "## Time inside the spans", "",
              "Every operation of a workload is a call into that workload's layer, so each",
              "workload's own layer holds all of its operation time by construction; the",
              "tables below split that time by call and by what runs inside it (Spark jobs,",
              "or the driver: planning, commit protocol, listing, streaming engine).", ""]
    for w in cols:
        lines += span_table(w, spans[w])
    lines += ["## Per-layer metrics", "", "| metric | unit | " + " | ".join(cols) + " |",
              "|---|---|" + "---|" * len(cols)]
    for k, unit in run.PER_LAYER.items():
        lines.append(f"| {k} | {unit} | " + " | ".join(f"{res[w][k]:.4g}" for w in cols) + " |")
    lines += ["", "`trace.window_gap_share` (1 - traced / untraced operations per second) is",
              "below the run-to-run noise of windows this short and can come out negative;",
              "`trace.overhead_share` times the trace's own work directly.  Neither counts the",
              "counting file system, which traced runs install for the whole JVM (one counter",
              "increment per file-system call).",
              "", "## Run log", "", "```"] + logs + ["```", ""]
    os.makedirs(os.path.dirname(a.out), exist_ok=True)
    with open(a.out, "w") as fh:
        fh.write("\n".join(lines))
    print(a.out)


if __name__ == "__main__":
    main()
