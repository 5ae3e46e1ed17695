#!/usr/bin/env python3
"""Outside-in benchmark of the library, one workload per invocation.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 20 --trace 0

Run from the repository root.  The script builds the library together with
the benchmark's Scala side (`perfbench/build.sbt`, outputs under `.bench_build/`,
rebuilt only when a source changed), generates the workload's inputs from
the seed (`gen.py`), runs one JVM (`perfbench.Main`) on Spark
`local[4]` through the unmodified `GraftSession.builder`, checks the
outputs, and prints one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones; with `--trace 1` the
run measures untraced and traced windows back to back and reports the
per-layer metrics (plus the tracing overhead).  `BENCHMARK.json` at the
repository root describes every metric and workload.

Extra flags for the benchmark's own tests: `--max-ops N` stops the measured
loop after N operations, `--inject-error 1` corrupts one output before it is
checked.
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
import gen  # noqa: E402

WORKLOADS = ("query_mix", "lake_upsert", "corpus_dedup")
GEN_REPS = 3              # input generation runs this often; the median counts
DEADLINE_S = 170          # whole invocation, build excluded

# End-to-end metrics: every workload reports each of them (see BENCHMARK.json).
END_TO_END = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "op_p75_ms": "ms",
    "throughput_per_s": "1/s",
}

# Per-layer metrics, reported by traced runs of every workload (0 where a
# workload does not exercise the layer).
PER_LAYER = {
    "sql.analysis_ms": "ms", "sql.optimization_ms": "ms", "sql.planning_ms": "ms",
    "codegen.compiles_per_op": "count",
    "sched.jobs_per_op": "count", "sched.stages_per_op": "count", "sched.tasks_per_op": "count",
    "sched.job_wall_ms": "ms", "sched.task_run_ms": "ms", "sched.task_cpu_ms": "ms",
    "sched.task_gc_ms": "ms", "sched.core_util": "ratio",
    "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes",
    "shuffle.fetch_wait_ms": "ms", "shuffle.spill_bytes": "bytes",
    "fs.read_ops": "count", "fs.write_ops": "count", "fs.bytes_read": "bytes",
    "fs.bytes_written": "bytes",
    "driver.residual_ms": "ms", "driver.residual_share": "ratio",
    "catalog.build_ms": "ms", "catalog.action_ms": "ms",
    "txtable.merge_ms": "ms", "txtable.merge_jobs": "count", "txtable.rewrite_ratio": "ratio",
    "txtable.live_segments": "count", "txtable.log_bytes": "bytes", "txtable.read_ms": "ms",
    "txtable.read_files": "count", "txtable.timetravel_ms": "ms", "txtable.compact_ms": "ms",
    "txtable.compact_bytes": "bytes", "txtable.write_amp": "ratio", "txtable.space_amp": "ratio",
    "txtable.read_p50_ms": "ms", "txtable.read_p90_ms": "ms",
    "streaming.trigger_ms": "ms", "streaming.latest_offset_ms": "ms",
    "streaming.query_planning_ms": "ms", "streaming.add_batch_ms": "ms",
    "streaming.wal_commit_ms": "ms", "streaming.commit_offsets_ms": "ms",
    "streaming.overhead_ms": "ms",
    "text.dedup_exact_ms": "ms", "text.minhash_ms": "ms", "text.simhash_ms": "ms",
    "text.ngram_ms": "ms", "vector.ivf_ms": "ms", "text.candidate_pairs": "count",
    "text.verified_pairs": "count", "text.candidate_precision": "ratio",
    "self.op_ms": "ms", "self.catalog_ms": "ms", "self.txtable_ms": "ms",
    "self.streaming_ms": "ms", "self.text_ms": "ms", "self.vector_ms": "ms",
    "jvm.peak_rss_mb": "MB",
    "trace.overhead_share": "ratio", "trace.window_gap_share": "ratio",
}

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_files(root):
    dirs = [os.path.join(root, "src", "main", "scala"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for d in dirs:
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names]
    return sorted(files)


def build(root):
    """Compile library + benchmark with sbt unless the sources are unchanged;
    returns the runtime classpath."""
    out = os.path.join(root, ".bench_build")
    stamp_path, cp_path = os.path.join(out, "stamp"), os.path.join(out, "classpath")
    h = hashlib.sha256()
    for f in source_files(root):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    if os.path.exists(stamp_path) and os.path.exists(cp_path):
        with open(stamp_path) as fh:
            if fh.read() == stamp:
                with open(cp_path) as fh:
                    return fh.read()
    os.makedirs(out, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building (sbt compile) ...")
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], cwd=HERE, env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    lines = [l for l in p.stdout.splitlines() if "classes" in l and ":" in l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed", 3)
    log(f"built in {time.time() - t0:.0f} s")
    cp = lines[-1].strip()
    with open(cp_path, "w") as fh:
        fh.write(cp)
    with open(stamp_path, "w") as fh:
        fh.write(stamp)
    return cp


def run_jvm(main, cp, args, work, timeout):
    cmd = ["java", "-Xmx3g", "-Xmn768m", "-Xss8m", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false"]
    for o in JDK_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, main] + args
    os.makedirs(f"{work}/tmp", exist_ok=True)
    with open(f"{work}/jvm.log", "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            code = p.wait(timeout=max(10, timeout))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            code = None
    if code != 0:
        with open(f"{work}/jvm.log") as fh:
            sys.stderr.write(fh.read()[-6000:])
        fail(f"{main} {'timed out' if code is None else f'exited {code}'}", 4)


def oracle_failures(root, results, inputs):
    """Compare each dumped query result with its DuckDB oracle, using the
    comparator `tools/selfcheck.py` models.  Returns (failed ops, reasons)."""
    sys.path.insert(0, os.path.join(root, "tools"))
    import duckdb
    import selfcheck
    con = duckdb.connect()
    for t in selfcheck.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{inputs}/{t}.parquet')")
    with open(f"{results}/oracle_sql.json") as fh:
        oracles = json.load(fh)
    failed, reasons = 0, []
    with open(f"{results}/runs.tsv") as fh:
        runs = [l.rstrip("\n").split("\t") for l in fh if l.strip()]
    for name, n_runs, n_changed in runs:
        problem = None
        try:
            sdf = selfcheck.load_spark(results, name)
            odf = con.sql(oracles[name]).df()
            if sorted(sdf.columns) != sorted(odf.columns):
                problem = f"columns {sorted(sdf.columns)} vs {sorted(odf.columns)}"
            elif len(sdf) != len(odf):
                problem = f"rows {len(sdf)} vs oracle {len(odf)}"
            elif selfcheck.frame_hash(sdf) != selfcheck.frame_hash(odf):
                problem = f"values differ: {selfcheck.first_diff(sdf, odf, 1)}"
        except Exception as e:  # an unreadable result or oracle error is a failure
            problem = f"{type(e).__name__}: {str(e)[:160]}"
        if problem:
            failed += int(n_runs)
            reasons.append(f"{name}: {problem}")
        else:
            failed += int(n_changed)
            if int(n_changed):
                reasons.append(f"{name}: {n_changed} runs returned different rows")
    return failed, reasons


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", default="query_mix")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--max-ops", type=int, default=0)
    ap.add_argument("--inject-error", type=int, default=0)
    a = ap.parse_args()
    root = os.getcwd()
    for need in ("build.sbt", "src/main/scala/graft/queries/Catalog.scala", "tools/selfcheck.py"):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"{need} not found: run from the root of a checkout of the library")
    if a.workload not in WORKLOADS:
        fail(f"unknown workload {a.workload}; one of {', '.join(WORKLOADS)}")
    cp = build(root)
    t_start = time.time()

    workload = a.workload
    work = os.path.join(root, ".bench_build", "run", workload)
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    gen_s = []
    for _ in range(GEN_REPS):
        t0 = time.time()
        shutil.rmtree(inputs, ignore_errors=True)
        gen.generate(workload, inputs, a.seed)
        gen_s.append(time.time() - t0)

    args = ["--workload", workload, "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--inputs", inputs, "--work", work, "--out", f"{work}/result.json",
            "--seed", str(a.seed), "--max-ops", str(a.max_ops), "--inject-error", str(a.inject_error)]
    remaining = DEADLINE_S - (time.time() - t_start)
    t0 = time.time()
    run_jvm("perfbench.Main", cp, args, work, remaining)
    t_jvm, t_check = time.time() - t0, time.time()
    with open(f"{work}/result.json") as fh:
        r = json.load(fh)

    attempted, failed, reasons = r["attempted"], r["failed"], list(r["reasons"])
    if workload == "query_mix":
        failed, oracle_reasons = oracle_failures(root, f"{work}/results", inputs)
        reasons += oracle_reasons
    for msg in reasons[:10]:
        log(f"check: {msg}")
    win = r["window"]
    if a.trace:
        layers = r["layers"]
        layers["jvm.peak_rss_mb"] = r["peak_rss_mb"]
        if workload == "lake_upsert":
            layers["txtable.read_p50_ms"] = win.get("read_p50_ms", 0.0)
            layers["txtable.read_p90_ms"] = win.get("read_p90_ms", 0.0)
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u} for k, u in PER_LAYER.items()}
    else:
        values = {
            "setup_s": statistics.median(gen_s) + r["setup_jvm_s"],
            "op_p50_ms": win["p50_ms"],
            "op_p75_ms": win["p75_ms"],
            "throughput_per_s": win["items"] / win["wall_s"] if win["wall_s"] > 0 else 0.0,
        }
        metrics = {k: {"value": float(values[k]), "unit": u} for k, u in END_TO_END.items()}
    log(f"{workload} on local[{r['cores']}]: {win['ops']} ops, {win['items']} items in "
        f"{win['wall_s']:.1f} s; JVM start to session ready {r['start_s']:.2f} s, "
        f"prepare {r['prepare_s']:.2f} s, generation {['%.2f' % x for x in gen_s]}")
    log(f"wall {time.time() - t_start:.1f} s (jvm {t_jvm:.1f} s, checks {time.time() - t_check:.1f} s)")
    print(json.dumps({"correct": failed == 0 and attempted > 0, "attempted": int(attempted),
                      "failed": int(failed), "metrics": metrics}))


if __name__ == "__main__":
    main()
