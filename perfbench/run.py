#!/usr/bin/env python3
"""Benchmark of the graft engine: the CDC pipeline run as repeated cycles,
and a read-only query mix.

Run from the root of a checkout:

    python3 perfbench/run.py --workload <cdc_trickle|query_mix> --seed <n> \
        --seconds <s> --trace <0|1> [--inject <op index>]

The first run builds the engine and the harness with sbt into .bench_build/
(later runs reuse the build while the sources are unchanged). Each run
generates its input tables from the seed, runs the workload in one Spark
JVM, checks every operation's output, and prints one JSON object as the
last line of standard output. `--trace 1` reports the per-layer metrics
instead of the end-to-end ones and writes a trace artifact under
.bench_build/trace/. `--inject k` corrupts the output of timed operation k,
which the check must report as failed.
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
import metrics  # noqa: E402

DEADLINE_S = 175
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp(root):
    """Digest of every input of the build."""
    h = hashlib.sha256()
    for base in (os.path.join(root, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(HERE, "project")):
        for dirpath, dirnames, filenames in os.walk(base):
            dirnames[:] = sorted(d for d in dirnames if d != "target")
            for f in sorted(filenames):
                p = os.path.join(dirpath, f)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    with open(os.path.join(HERE, "build.sbt"), "rb") as fh:
        h.update(fh.read())
    return h.hexdigest()


def build(root, out, queries):
    """Compile with sbt unless the sources are unchanged; return the classpath.

    A fresh build also dumps a class-data archive (app.jsa) from one short
    training run over both workloads, which later JVMs map at start-up
    instead of loading and verifying the same classes again.
    """
    os.makedirs(out, exist_ok=True)
    stamp_file = os.path.join(out, "stamp")
    cp_file = os.path.join(out, "classpath")
    stamp = source_stamp(root)
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    env = dict(os.environ, COURSIER_MODE="offline")
    offline = "-Dsbt.offline=true -Dsbt.override.build.repos=true"
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " " + offline).strip()
    with open(os.path.join(out, "build.log"), "w") as log:
        proc = subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log, text=True,
            start_new_session=True)
        try:
            stdout, _ = proc.communicate(timeout=840)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail("the build did not finish in time", 3)
        log.write(stdout)
    lines = [l for l in stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        fail(f"build failed, see {os.path.join(out, 'build.log')}", 3)
    classpath = lines[-1].strip()
    train(out, classpath, queries)
    with open(cp_file, "w") as f:
        f.write(classpath)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath


def train(out, classpath, queries):
    archive = os.path.join(out, "app.jsa")
    if os.path.exists(archive):
        os.remove(archive)
    work = os.path.join(out, "train")
    shutil.rmtree(work, ignore_errors=True)
    data_dir = os.path.join(work, "data")
    gen.write_tables(data_dir, 0.001, 0)
    code = run_jvm(classpath, work, [
        "--workload", "train", "--seed", "0", "--seconds", "0", "--trace", "0",
        "--data", data_dir, "--work", work, "--out", os.path.join(work, "result.json"),
        "--queries", ",".join(queries)], time.monotonic() + 600,
        [f"-XX:ArchiveClassesAtExit={archive}"])
    if code != 0:
        print("perfbench: training run failed; running without a class-data archive",
              file=sys.stderr)
    shutil.rmtree(work, ignore_errors=True)


def run_jvm(classpath, work, jvm_args, deadline, jvm_opts=()):
    cmd = (["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + list(jvm_opts) + ["-Xmx3g", f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}",
              "-cp", classpath, "perfbench.Main"] + jvm_args)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            return proc.wait(timeout=max(1, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail("the run did not finish in time", 4)


def check_queries(res, data_dir, work):
    """Mark each query op ok only if its result matches the DuckDB oracle."""
    import oracle
    with open(os.path.join(work, "oracle_sql.json")) as f:
        orc = oracle.Oracle(data_dir, json.load(f))
    for op in res["ops"]:
        if op["ok"]:
            rows, why = orc.check(op["name"], op["output"])
            op["rows"] = rows
            if why:
                op["ok"], op["error"] = False, f"oracle mismatch: {why}"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject", type=int, default=-1)
    a = ap.parse_args()
    deadline = time.monotonic() + DEADLINE_S
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("run from the root of a checkout of the engine (src/main/scala/graft is missing)")
    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f).get(a.workload)
    if spec is None:
        fail(f"unknown workload {a.workload}")

    out = os.path.join(root, ".bench_build")
    with open(os.path.join(HERE, "workloads.json")) as f:
        mix = json.load(f)["query_mix"]["queries"]
    classpath = build(root, os.path.join(out, "build"), mix)
    archive = os.path.join(out, "build", "app.jsa")
    jvm_opts = [f"-XX:SharedArchiveFile={archive}"] if os.path.exists(archive) else []
    # the build may take long; the run itself gets the usual deadline
    deadline = max(deadline, time.monotonic() + DEADLINE_S)

    work = os.path.join(out, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data_dir = os.path.join(work, "data")
    t0 = time.perf_counter()
    gen.write_tables(data_dir, spec["sf"], a.seed, spec.get("tables", gen.ALL_TABLES))
    datagen_s = time.perf_counter() - t0

    result_file = os.path.join(work, "result.json")
    jvm_args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--data", data_dir, "--work", work,
                "--out", result_file, "--inject", str(a.inject),
                "--warmup", str(spec.get("warmup", 0)),
                "--min-passes", str(spec.get("min_passes", 1))]
    if "queries" in spec:
        jvm_args += ["--queries", ",".join(spec["queries"])]
    code = run_jvm(classpath, work, jvm_args, deadline, jvm_opts)
    if code != 0 or not os.path.exists(result_file):
        fail(f"the workload failed (exit {code}), see {os.path.join(work, 'jvm.log')}", 5)
    with open(result_file) as f:
        res = json.load(f)
    res["final_error"] = None
    if a.workload == "query_mix":
        check_queries(res, data_dir, work)
    else:
        import cdc_check
        res["final_error"] = cdc_check.apply(res)

    attempted, failed = metrics.count_failures(res["ops"])
    if failed == attempted:
        fail("every operation failed: " + res["ops"][0]["error"], 6)
    if a.trace:
        values = metrics.per_layer(res)
        write_trace(out, a, res, values)
    else:
        values = metrics.end_to_end(res, datagen_s)
        save_untraced(out, a, res)
    shutil.rmtree(work, ignore_errors=True)
    line = {
        "correct": failed == 0 and res["final_error"] is None,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in values.items()},
    }
    if res["final_error"]:
        print(f"perfbench: final check failed: {res['final_error']}", file=sys.stderr)
    for op in res["ops"]:
        if not op["ok"]:
            print(f"perfbench: op {op['index']} ({op['name']}) failed: {op['error']}",
                  file=sys.stderr)
    print(json.dumps(line))


def save_untraced(out, a, res):
    """Keep what a later traced run of the same seed compares against."""
    d = os.path.join(out, "results")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, f"{a.workload}-seed{a.seed}.json"), "w") as f:
        json.dump({"op_wall_s": statistics.median(o["wall"] for o in res["ops"]),
                   "phases": res["phases"],
                   "ops": [{k: o[k] for k in ("name", "seconds", "wall", "ok", "stages")}
                           for o in res["ops"]]}, f)


def write_trace(out, a, res, values):
    """Trace artifact: spans, self time per layer, per-layer metrics, and the
    tracing overhead against the untraced run of the same seed, if any."""
    d = os.path.join(out, "trace")
    os.makedirs(d, exist_ok=True)
    overhead = None
    prior = os.path.join(out, "results", f"{a.workload}-seed{a.seed}.json")
    if os.path.exists(prior):
        with open(prior) as f:
            base = json.load(f)
        traced = statistics.median(o["wall"] for o in res["ops"])
        overhead = {"traced_op_wall_s": traced, "untraced_op_wall_s": base["op_wall_s"],
                    "overhead_s": traced - base["op_wall_s"]}
    secs = [o["seconds"] for o in res["ops"] if o["ok"]]
    artifact = {
        "workload": a.workload, "seed": a.seed,
        "per_layer": {k: {"value": v, "unit": u} for k, (v, u) in values.items()},
        "tail_percentile": metrics.tail_percentile(len(secs)),
        "self_s_per_op": metrics.layer_self_times(res),
        "tracing_overhead": overhead,
        "spans": res["spans"], "jobs": res["jobs"], "plan": res["plan"],
    }
    with open(os.path.join(d, f"{a.workload}-seed{a.seed}.json"), "w") as f:
        json.dump(artifact, f)


if __name__ == "__main__":
    main()
