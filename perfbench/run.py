#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload lakehouse_scan --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds graft and the benchmark program with sbt
(skipped when the sources are unchanged since the last build), generates the
seeded inputs, runs the workload in a fresh JVM on local[N] (N = usable
cores), checks every output, and prints one JSON object as the last line of
stdout: the end-to-end metrics with `--trace 0`, the per-layer metrics of a
traced window with `--trace 1`. Exits non-zero when an output is wrong or
the run fails. All inputs, tables and Spark scratch space live under
`.perfbench/work/` in the checkout and are removed afterwards; a copy of the
run's result lands in `.perfbench/out/`.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

WORKLOADS = {
    # replicas × orders_per_replica orders (~4 lineitems each); a pool of
    # seeded reads, one of each of the five kinds per cycle
    "lakehouse_scan": {"replicas": 2, "orders_per_replica": 150_000,
                       "tt_versions": 3, "pool": 8, "split_bytes": 1 << 19},
    # sf0.1 orders; each cycle is nine commits with batches of batch_rows
    "commit_churn": {"orders_rows": 150_000, "batch_rows": 2000, "cycles": 40},
    # shards of docs_per_shard sources plus injected duplicates
    "corpus_pipeline": {"docs_per_shard": 1000, "exact_dups": 40, "near_dups": 40,
                        "shards": 12, "vocab": 3000, "pack_budget": 2048,
                        "bpe_merges": 100},
}
JVM_HEAP = "3g"
RUN_TIMEOUT_S = 170

E2E_UNITS = {"setup_s": "s", "op_latency_ms": "ms", "ops_per_s": "1/s",
             "write_amp": "ratio", "space_amp": "ratio", "heap_retained_mb": "MB"}

# every per-layer metric, reported on every workload (0 where a workload
# never reaches the layer)
PER_LAYER_UNITS = {
    "spark.executor_cpu_s": "s", "spark.input_mb": "MB", "spark.shuffle_mb": "MB",
    "spark.slot_util": "ratio", "spark.jobs": "count", "spark.tasks": "count",
    "spark.single_task_job_frac": "ratio", "spark.in_job_s": "s",
    "spark.outside_job_s": "s", "spark.planning_ms": "ms", "spark.codegen_ms": "ms",
    "spark.gc_s": "s", "spark.persisted_mb_end": "MB",
    "trace.attributed_frac": "ratio", "trace.overhead_frac": "ratio",
    "op.multi_task_job_frac": "ratio", "op.outside_or_single_task_frac": "ratio",
    "op.ext_frac": "ratio", "op.jobs_per_op": "count",
    **{f"self_share.{layer}": "ratio" for layer in [
        "op", "Spark", "TableIO", "QueryApi", "Joins", "Versioned", "Transactions",
        "TextNorm", "Dedup", "AnnIndex", "Tokenizer", "Packing"]},
    "TableIO.rows_scanned_per_row_out": "ratio", "TableIO.files_pruned_frac": "ratio",
    "TableIO.live_files_end": "count", "TableIO.compact_bytes_rewritten": "bytes",
    "commit.files_added": "count", "Versioned.log_bytes_per_commit": "bytes",
    "Dedup.near_dup_pairs": "count", "Dedup.pair_precision": "ratio",
    "Dedup.components_jobs": "count", "AnnIndex.recall_at_k": "ratio",
    "Tokenizer.tokens": "count", "Packing.fill_ratio": "ratio",
}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------ build

def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def spark_home():
    """SPARK_HOME, else the install of the first spark-submit on PATH that
    sits next to a jars/ directory (pip's pyspark wrapper does not)."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
        if os.path.isfile(submit) and os.path.isdir(os.path.join(home, "jars")):
            return home
    raise SystemExit("Spark not found: set SPARK_HOME or put Spark's bin/ on PATH")


def build():
    """Compile graft + the benchmark program; returns the runtime classpath."""
    stamp_file = os.path.join(HERE, "target", "perfbench.stamp")
    stamp = source_stamp()
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            saved = json.load(f)
        if saved.get("stamp") == stamp:
            return saved["classpath"]
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SPARK_HOME"] = spark_home()
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-XX:-UsePerfData", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building graft and the benchmark program (sbt compile)")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=840)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("build failed")
    cp = [ln for ln in proc.stdout.splitlines() if ln and not ln.startswith("[") and os.pathsep in ln]
    if not cp:
        raise SystemExit("build did not report a classpath")
    os.makedirs(os.path.dirname(stamp_file), exist_ok=True)
    with open(stamp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": cp[-1].strip()}, f)
    log(f"build done in {time.time() - t0:.0f} s")
    return cp[-1].strip()


# ------------------------------------------------------------------ run

ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def run_jvm(classpath, work, seconds, trace, cores, deadline):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xmx{JVM_HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            f"-Dderby.system.home={tmp}",
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-Dspark.sql.ui.retainedExecutions=20",
            "-Dspark.ui.retainedJobs=50", "-Dspark.ui.retainedStages=50",
            "-cp", classpath, "perfbench.Main",
            "--work", work, "--seconds", str(seconds), "--trace", str(trace),
            "--cores", str(cores)]
    with open(os.path.join(work, "jvm.log"), "w") as out:
        proc = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            proc.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise SystemExit("benchmark JVM timed out")
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if proc.returncode != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"benchmark JVM exited with {proc.returncode}")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


# ------------------------------------------------------------------ metrics

def latency_stats(ms):
    """Median and the highest percentile with >= 10 samples beyond it."""
    s = sorted(ms)
    n = len(s)
    if n == 0:
        return None, None, 0.0
    p50 = statistics.median(s)
    if n >= 11:
        return p50, s[n - 11], 100.0 * (n - 10) / n
    return p50, s[-1], 100.0


def window_metrics(res, phase):
    """End-to-end figures of one window. `op_latency_ms` is the geometric
    mean over op kinds of each kind's median latency (the TPC-H power
    form): every kind weighs the same whatever its count, so the figure
    does not jump when a window ends with a different mix."""
    ops = [o for o in res["ops"] if o["phase"] == phase and o["primary"] and o["ok"]]
    prim = [o["endMs"] - o["startMs"] for o in ops]
    by_kind = {}
    for o in ops:
        by_kind.setdefault(o["kind"], []).append(o["endMs"] - o["startMs"])
    seconds = sum(hi - lo for lo, hi in res["windows"][phase]) / 1000.0
    p50, tail, pct = latency_stats(prim)
    geo = math.exp(statistics.fmean(math.log(statistics.median(v)) for v in by_kind.values())) \
        if by_kind else None
    return {"op_latency_ms": geo, "op_p50_ms": p50, "op_tail_ms": tail, "tail_percentile": pct,
            "ops": len(prim), "ops_per_s": len(prim) / seconds}


def check_outputs(workload, plan, res, indir):
    """Compare recorded fingerprints with the reference answers; returns
    the list of failures (one string each)."""
    import gen
    fails = list(res["failures"])
    fails += [f"op {o['idx']} ({o['kind']}, {o['phase']}) failed: {o['error']}"
              for o in res["ops"] if not o["ok"]]
    if workload == "lakehouse_scan":
        t0 = time.time()
        expected = gen.scan_expected(indir, plan["ops"], plan["config"]["tt_versions"])
        log(f"DuckDB answers for {len(expected)} reads in {time.time() - t0:.1f} s")
        for o in res["ops"]:
            if o["ok"] and o["fp"] != expected[o["idx"]]:
                fails.append(f"read {o['idx']} ({o['kind']}): {o['fp']} != DuckDB {expected[o['idx']]}")
    elif workload == "commit_churn":
        expected, final = gen.replay_churn(indir, plan["ops"], res["churn_ops_done"])
        for o in res["ops"]:
            if o["kind"] == "verify_read" and o["ok"] and o["fp"] != expected[o["idx"]]:
                fails.append(f"verify read after op {o['idx']} ({o['phase']}): "
                             f"{o['fp']} != model {expected[o['idx']]}")
        for t, fp in final.items():
            if res["churn_final"][t] != fp:
                fails.append(f"final {t}: {res['churn_final'][t]} != model {fp}")
    return fails


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    started = time.time()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log("graft sources not found next to the benchmark (expected src/main/scala/graft)")
        return 2
    classpath = build()
    deadline = time.time() + RUN_TIMEOUT_S

    import gen
    cores = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    work = os.path.join(ROOT, ".perfbench", "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t0 = time.time()
        plan = gen.generate(a.workload, a.seed, work, WORKLOADS[a.workload])
        gen_s = time.time() - t0
        t0 = time.time()
        res = run_jvm(classpath, work, a.seconds, a.trace, cores, deadline)
        jvm_s = time.time() - t0
        fails = check_outputs(a.workload, plan, res, os.path.join(work, "in"))
        spans = None
        if a.trace:
            with open(os.path.join(work, "spans.json")) as f:
                spans = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    untraced = window_metrics(res, "untraced")
    attempted = len(res["ops"])
    failed = min(attempted, len(fails))
    context = dict(res["context"])
    context.update({
        "seed": a.seed, "workload": a.workload, "seconds": a.seconds, "trace": a.trace,
        "input": plan["inputs"], "gen_s": round(gen_s, 3), "jvm_s": round(jvm_s, 1), "session_s": res["session_s"],
        "git_commit": git_commit(),
        "source_stamp": source_stamp()[:16],
        "tail_percentile": untraced["tail_percentile"], "primary_ops": untraced["ops"],
        "fail_frac": failed / attempted, "wall_s": round(time.time() - started, 1)})
    if a.trace:
        traced = window_metrics(res, "traced")
        layers = dict(res["layers"])
        layers["trace.overhead_frac"] = 1.0 - traced["ops_per_s"] / untraced["ops_per_s"]
        metrics = {k: {"value": layers.get(k, 0.0), "unit": u} for k, u in PER_LAYER_UNITS.items()}
        context["op_kinds_ms"] = per_kind(res, "traced")
        context["untraced"] = untraced
        context["traced"] = traced
    else:
        values = {"setup_s": res["setup_s"],
                  "op_latency_ms": untraced["op_latency_ms"], "ops_per_s": untraced["ops_per_s"],
                  "write_amp": res["write_amp"], "space_amp": res["space_amp"],
                  "heap_retained_mb": res["heap_retained_mb"]}
        context.update({k: untraced[k] for k in ("op_p50_ms", "op_tail_ms")})
        metrics = {k: {"value": values[k], "unit": u} for k, u in E2E_UNITS.items()}
        context["op_kinds_ms"] = per_kind(res, "untraced")
        context["primary_ms"] = primary_ms(res, "untraced")
    out_dir = os.path.join(ROOT, ".perfbench", "out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump({"metrics": metrics, "context": context, "failures": fails,
                   "spans": spans}, f)
    for msg in fails[:20]:
        log(f"FAIL {msg}")
    log("context " + json.dumps(context))
    print(json.dumps({"correct": not fails, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if not fails else 1


def primary_ms(res, phase):
    return [round(o["endMs"] - o["startMs"], 1) for o in res["ops"]
            if o["phase"] == phase and o["primary"] and o["ok"]]


def per_kind(res, phase):
    kinds = {}
    for o in res["ops"]:
        if o["phase"] == phase and o["ok"]:
            kinds.setdefault(o["kind"], []).append(o["endMs"] - o["startMs"])
    return {k: {"n": len(v), "p50_ms": round(statistics.median(v), 2)} for k, v in kinds.items()}


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


if __name__ == "__main__":
    sys.exit(main())
