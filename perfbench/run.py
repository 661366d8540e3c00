#!/usr/bin/env python3
"""The benchmark's single entry point.

    python3 perfbench/run.py --workload meta_requests --seed 1 \
        --seconds 10 --trace 0

Run from the repository root. It builds the program and the harness
(perfbench/build.sbt) when their sources changed, generates the seeded
inputs in a run-private directory, runs one JVM (a local[N] Spark
session driven by one closed-loop client), checks every checked result
against DuckDB or the benchmark's own reference queries, and prints one
JSON line last: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones; with --trace 1 they are
the per-layer ones, and the spans and the per-layer table are written
to .bench_trace/<workload>-<seed>/.
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

import checks  # noqa: E402
import gen  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
# base scale factor of the generated inputs per workload (corpus_batch
# scales its base up by the shard count in Runner.scala)
INPUT_SF = {"meta_requests": 0.1, "corpus_batch": 0.01}
OP_TIMEOUT_S = 60
CPUS = min(4, os.cpu_count() or 1)
RUN_DEADLINE_S = 170
# the heap starts small and grows up to its cap as the run needs, so
# peak_rss_mb follows what the workload keeps live
HEAP_START, HEAP_MAX = "256m", "2g"
# what spark-submit adds on JDK 17 (the list in the root build.sbt)
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs
            if "target" not in d)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile program + harness with sbt when the sources changed;
    returns the runtime classpath."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    digest = sources_digest()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == digest:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            timeout=840)
    with open(log) as f:
        lines = f.read().splitlines()
    if p.returncode != 0 or not lines:
        fail(f"build failed, see {log}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(digest)
    return cp


def run_jvm(cp, args, run_dir, deadline):
    work = os.path.join(run_dir, "work")
    for d in ("tmp", "models", "warehouse", "spark-local", "derby"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    env = dict(os.environ, GRAFT_MODELS_DIR=os.path.join(work, "models"))
    cmd = (["java"] + [x for p in ADD_OPENS
                       for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + [f"-Xms{HEAP_START}", f"-Xmx{HEAP_MAX}",
              f"-Djava.io.tmpdir={work}/tmp",
              f"-Dderby.system.home={work}/derby",
              "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Runner"]
           + args)
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=out,
                             stderr=subprocess.STDOUT,
                             start_new_session=True)
        rc = "killed at the run deadline"
        try:
            rc = p.wait(timeout=max(10.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            pass
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    return rc, log


def gmean(xs):
    return statistics.geometric_mean(xs) if xs else 0.0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(INPUT_SF))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    started = time.time()
    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala",
                                      "graft")):
        fail("program sources (src/main/scala/graft) not found: run from "
             "the repository root")
    cp = build()
    deadline = time.time() + RUN_DEADLINE_S
    run_dir = os.path.join(ROOT, ".bench_run",
                           f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    inputs = os.path.join(run_dir, "inputs")
    out = os.path.join(run_dir, "out")
    os.makedirs(out)
    try:
        gen.generate(inputs, a.seed, INPUT_SF[a.workload])
        rc, log = run_jvm(cp, [a.workload, str(a.seed), str(a.seconds),
                               str(a.trace), inputs,
                               os.path.join(run_dir, "work"), out,
                               str(CPUS), str(OP_TIMEOUT_S)],
                          run_dir, deadline)
        run_json = os.path.join(out, "run.json")
        if rc != 0 or not os.path.exists(run_json):
            with open(log) as f:
                tail = f.read()[-3000:]
            fail(f"JVM exited with {rc}:\n{tail}")
        with open(run_json) as f:
            run = json.load(f)
        verdict = checks.run_checks(run, os.path.join(ROOT, ".bench_cache"))
        report(a, run, verdict, started, out)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.join(ROOT, ".bench_run"))
        except OSError:
            pass


def report(a, run, verdict, started, out):
    ops = run["ops"]
    timed = [o for o in ops if not o["traced"]]
    failed_checks = set(verdict["failed_checks"])
    failed = sum(1 for o in ops
                 if not o["ok"] or o["check"] in failed_checks)
    failed += len(run["unstable"])
    rounds = [r["ms"] for r in run["rounds"] if not r["traced"]]
    # each operation's fastest successful execution in the run (Bench's
    # min over passes: host contention during one execution does not
    # count); wall_s is their sum, read_gmean_ms their geometric mean
    # over the reads
    fastest = {}
    for o in timed:
        if o["ok"]:
            fastest[o["name"]] = min(o["ms"], fastest.get(o["name"], o["ms"]))
    read_names = {o["name"] for o in timed if o["kind"] == "read"}
    reads = [ms for n, ms in fastest.items() if n in read_names]
    errors = sorted({o["err"] for o in ops if not o["ok"]})
    detail = {
        "workload": a.workload, "seed": a.seed, "cpus": run["cpus"],
        "canary_s": run["canary_s"], "rounds": len(run["rounds"]),
        "round_s": [round(r / 1000.0, 3) for r in rounds],
        "steal_pct": [round(x, 1) for x in run["steal_pct"]],
        "peak_rss_mb": run["peak_rss_mb"],
        "peak_heap_mb": run["peak_heap_mb"],
        "reads": len(reads), "read_p50_ms": (
            statistics.median(reads) if reads else None),
        "op_ms": {n: round(ms, 1) for n, ms in fastest.items()},
        "read_p95_ms": (statistics.quantiles(reads, n=20)[-1]
                        if len(reads) >= 2 else None),
        "errors": errors, "unstable": run["unstable"],
        "failed_checks": verdict["failed_checks"],
        "negative_control": verdict["negative_control"],
        "checked": verdict["checked"],
        "elapsed_s": round(time.time() - started, 1)}
    print(json.dumps(detail))
    if a.trace:
        tdir = os.path.join(ROOT, ".bench_trace", f"{a.workload}-{a.seed}")
        os.makedirs(tdir, exist_ok=True)
        shutil.copy(os.path.join(out, "trace_spans.jsonl"),
                    os.path.join(tdir, "spans.jsonl"))
        with open(os.path.join(tdir, "layers.json"), "w") as f:
            json.dump({"layers": run["layers"], "modules": run["modules"],
                       "per_layer": run["per_layer"]}, f, indent=1)
        metrics = run["per_layer"]
    else:
        metrics = {
            "setup_s": {"value": run["setup_s"], "unit": "s"},
            "wall_s": {"value": sum(fastest.values()) / 1000.0, "unit": "s"},
            "read_gmean_ms": {"value": gmean(reads), "unit": "ms"},
            "peak_rss_mb": {"value": run["peak_rss_mb"], "unit": "MB"},
        }
    correct = verdict["correct"] and not run["unstable"]
    print(json.dumps({"correct": correct, "attempted": len(ops),
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
