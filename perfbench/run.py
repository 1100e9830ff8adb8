#!/usr/bin/env python3
"""Benchmark launcher: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload serve|curate|ingest --seed N \
        --seconds S --trace 0|1

Run from the repository root. It builds the library and the harness
(``perfbench/build.sbt``) once per source fingerprint, generates the
workload's inputs from the seed (cached per seed), starts a fresh JVM with
its own scratch area, checks every output the JVM reports against DuckDB or
the generator's ground truth, removes the scratch area, and prints one JSON
line: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the end-to-end
metrics untraced, the per-layer metrics traced).  A wrong output makes the
exit code non-zero.  See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402

CACHE = os.path.join(HERE, ".cache")
OUT = os.path.join(HERE, ".out")
# a fixed heap (-Xms = -Xmx) and young generation (-Xmn) keep the resident
# set from depending on when the collector chose to grow either
HEAP = "2g"
YOUNG = "512m"
KEEP_INPUT_SETS = 48
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

END_TO_END = [("setup_s", "s"), ("peak_rss_mb", "MB"), ("p50_ms", "ms"),
              ("tail_ms", "ms"), ("throughput_per_s", "1/s")]
PER_LAYER = [
    ("spark.plan_ms", "ms"), ("spark.jobs_per_op", "count"),
    ("spark.stages_per_op", "count"), ("spark.tasks_per_op", "count"),
    ("spark.single_task_stage_frac", "frac"), ("spark.core_util", "frac"),
    ("spark.max_task_s", "s"), ("spark.shuffle_read_bytes", "bytes"),
    ("spark.shuffle_write_bytes", "bytes"), ("harness.self_ms", "ms"),
]
# tail_ms is this quantile of the op latencies. A run holds 3 (ingest or
# curate) or 13 (serve) ops, too few for a p95 with ten samples beyond
# it; see README.md
TAIL_Q = 0.75


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# ------------------------------------------------------------------ build

def _source_fingerprint(root):
    h = hashlib.sha256()
    for top in ("src/main", "perfbench/src", "build.sbt", "project/build.properties",
                "perfbench/build.sbt", "perfbench/project/build.properties"):
        p = os.path.join(root, top)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def classpath(root):
    """Compile with sbt once per source fingerprint; return the runtime
    classpath sbt exports."""
    fp = _source_fingerprint(root)
    cp_file = os.path.join(HERE, "target", f"classpath-{fp}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read().strip()
    log("building library and harness with sbt")
    t0 = time.time()
    r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=850)
    lines = r.stdout.strip().splitlines()
    cp = next((l for l in reversed(lines) if ".jar" in l and not l.startswith("[")), None)
    if r.returncode != 0 or cp is None:
        sys.stderr.write(r.stdout[-4000:])
        fail("sbt build failed", 3)
    os.makedirs(os.path.dirname(cp_file), exist_ok=True)
    for old in os.listdir(os.path.dirname(cp_file)):
        if old.startswith("classpath-"):
            os.remove(os.path.join(os.path.dirname(cp_file), old))
    with open(cp_file, "w") as f:
        f.write(cp)
    log(f"built in {time.time() - t0:.1f}s")
    return cp


# ----------------------------------------------------------------- inputs

def inputs(workload, seed):
    d = os.path.join(CACHE, "inputs", f"{workload}-s{seed}-v{gen.GEN_VERSION}")
    if not os.path.exists(os.path.join(d, "manifest.json")):
        tmp = f"{d}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        t0 = time.time()
        gen.generate(workload, seed, tmp)
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
        log(f"generated {workload} inputs for seed {seed} in {time.time() - t0:.1f}s")
    os.utime(d)
    sets = sorted((os.path.getmtime(os.path.join(CACHE, "inputs", x)), x)
                  for x in os.listdir(os.path.join(CACHE, "inputs")) if ".tmp" not in x)
    for _, old in sets[:-KEEP_INPUT_SETS]:
        shutil.rmtree(os.path.join(CACHE, "inputs", old), ignore_errors=True)
    with open(os.path.join(d, "manifest.json")) as f:
        return d, json.load(f)


# ---------------------------------------------------------------- metrics

def quantile(xs, q):
    """Linear-interpolated quantile of a non-empty list."""
    s = sorted(xs)
    pos = (len(s) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def end_to_end(workload, res):
    t = res["timed"]
    lat = t["lat_ms"]
    return {
        "setup_s": res["session_s"] + res["workload_setup_s"],
        "peak_rss_mb": res["peak_rss_mb"],
        "p50_ms": statistics.median(lat),
        "tail_ms": quantile(lat, TAIL_Q),
        "throughput_per_s": t["work"] / t["wall_s"],
    }


def per_layer(res):
    t, e, layers = res["timed"], res["engine"], res["layers"]
    ops = max(1, t["attempted"])
    busy_ms = sum(t["lat_ms"])
    return {
        "spark.plan_ms": layers.get("spark.plan_ms", 0.0),
        "spark.jobs_per_op": e["jobs"] / ops,
        "spark.stages_per_op": e["stages"] / ops,
        "spark.tasks_per_op": e["tasks"] / ops,
        "spark.single_task_stage_frac": e["single_task_stages"] / max(1, e["stages"]),
        "spark.core_util": e["task_run_ms"] / max(1e-9, busy_ms * res["cores"]),
        "spark.max_task_s": e["max_task_ms"] / 1000.0,
        "spark.shuffle_read_bytes": e["shuffle_read_bytes"] / ops,
        "spark.shuffle_write_bytes": e["shuffle_write_bytes"] / ops,
        "harness.self_ms": res["self_ms_by_layer"].get("harness", 0.0) / ops,
    }


# -------------------------------------------------------------------- run

def run_jvm(cp, args, inputs_dir, run_dir):
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-XX:+UseG1GC",
            f"-Djava.io.tmpdir={run_dir}/tmp", "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--inputs", inputs_dir, "--run-dir", run_dir])
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr)
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"JVM did not finish within {JVM_TIMEOUT_S}s", 4)
    if code != 0:
        fail(f"JVM exited with code {code}", 4)
    with open(os.path.join(run_dir, "result.json")) as f:
        return json.load(f)


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    root = os.path.dirname(HERE)
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("library sources (src/main/scala/graft) not found next to perfbench/;"
             " run from a full checkout of the repository")
    cp = classpath(root)
    inputs_dir, manifest = inputs(args.workload, args.seed)

    run_dir = os.path.join(CACHE, "runs", f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    try:
        res = run_jvm(cp, args, inputs_dir, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        runs = os.path.join(CACHE, "runs")
        if os.path.isdir(runs) and not os.listdir(runs):
            os.rmdir(runs)

    # PERFBENCH_CORRUPT=1 changes an output row here; =redeliver makes the
    # ingest JVM double-count a redelivered batch (see Ingest.scala)
    if os.environ.get("PERFBENCH_CORRUPT") == "1":
        checks.corrupt(args.workload, res["outputs"])
    verdict = checks.check(args.workload, inputs_dir, manifest, res["outputs"],
                           os.path.join(CACHE, "expected"))
    t = res["timed"]
    if args.trace:
        metrics = per_layer(res)
        units = dict(PER_LAYER)
    else:
        metrics = end_to_end(args.workload, res)
        units = dict(END_TO_END)

    record = {k: v for k, v in res.items() if k not in ("outputs", "spans")}
    record.update(manifest=manifest, checks=verdict, metrics=metrics)
    if args.trace:
        plain = {**res, "timed": res["untraced"]}
        e2e_plain, e2e_traced = end_to_end(args.workload, plain), end_to_end(args.workload, res)
        record["trace_overhead"] = {k: e2e_traced[k] - e2e_plain[k] for k in e2e_plain}
        # engine figures that are 0 on some workload (so not in
        # BENCHMARK.json), kept in the record
        ops = max(1, res["timed"]["attempted"])
        record["layers"]["spark.spill_bytes"] = res["engine"]["spill_bytes"] / ops
        record["layers"]["spark.gc_frac"] = (res["engine"]["task_gc_ms"]
                                             / max(1, res["engine"]["task_run_ms"]))
        # the injected duplicate share llm.survivor_frac is read against
        if "dup_share" in manifest:
            record["layers"]["llm.injected_dup_share"] = manifest["dup_share"]
        record["spans"] = res["spans"]
    os.makedirs(OUT, exist_ok=True)
    name = f"{args.workload}-s{args.seed}-{'traced' if args.trace else 'plain'}.json"
    with open(os.path.join(OUT, name), "w") as f:
        json.dump(record, f)
    log(f"inputs {manifest['fingerprint']} ({manifest['bytes']} bytes); "
        f"{t['attempted']} ops, {t['failed']} failed; details in perfbench/.out/{name}")
    for err in t["errors"][:5]:
        log(f"op failure: {err}")
    for problem in verdict["problems"][:10]:
        log(f"WRONG OUTPUT: {problem}")

    print(json.dumps({
        "correct": verdict["correct"],
        "attempted": int(t["attempted"]),
        "failed": int(t["failed"]),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0 if verdict["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
