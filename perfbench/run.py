#!/usr/bin/env python3
"""Run one tsodspark benchmark workload and print its metrics.

Usage (from the repository root):

    python3 perfbench/run.py --workload detect-batch --seed 1 --seconds 9 --trace 0

The first call builds the engine and the benchmark from source with sbt
(`perfbench/build.sbt` depends on the engine build one directory up) and
caches the classpath under `.bench_build/`; later calls rebuild only when
a source or build file changed. Each run gets a fresh scratch root under
`.bench_build/` for the JVM temp dir, Spark's local dir, the warehouse,
the generated tables and every index and checkpoint; the root is deleted
when the run ends, so no artifact cache survives from one run to the next.
A traced run keeps its spans in `.bench_build/traces/<workload>-<seed>.jsonl`.

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics of
BENCHMARK.json with `--trace 0`, its per-layer metrics with `--trace 1`.
The line before it carries the run's settings and workload details. The
exit code is non-zero when any operation failed or any output was wrong.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

import oracle

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
BUILD = os.path.join(REPO, ".bench_build")
CLASSPATH = os.path.join(BUILD, "perfbench.classpath")
STAMP = os.path.join(BUILD, "perfbench.stamp")
HEAP = "3g"
RUN_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 840
# the spec document at the repository root names every metric and unit
SPEC = os.path.join(REPO, "BENCHMARK.json")

# Spark 4 on JDK 17 needs these when a session starts outside
# spark-submit; the engine's build.sbt passes the same list to its JVMs.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def build_inputs():
    """Every file whose change needs a rebuild."""
    roots = [os.path.join(REPO, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(REPO, "build.sbt"),
             os.path.join(REPO, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for root in roots:
        for d, _, names in os.walk(root):
            files += [os.path.join(d, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def source_digest():
    """Content hash of every build input: the rebuild key, and recorded
    in every output."""
    h = hashlib.sha256()
    for f in build_inputs():
        h.update(os.path.relpath(f, REPO).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def ensure_built(stamp):
    if os.path.isfile(CLASSPATH) and os.path.isfile(STAMP):
        with open(STAMP) as fh:
            if fh.read() == stamp:
                with open(CLASSPATH) as cp:
                    return cp.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx3g")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "-Dsbt.global.base=" + os.path.join(BUILD, "sbt-global"),
           "-Dsbt.server.autostart=false",
           "export Runtime/fullClasspath"]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=BUILD_TIMEOUT_S)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines or "classes" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        die(f"build failed (sbt exit {p.returncode})")
    cp = lines[-1].strip()
    with open(CLASSPATH, "w") as fh:
        fh.write(cp)
    with open(STAMP, "w") as fh:
        fh.write(stamp)
    print(f"perfbench: built in {time.time() - t0:.1f}s", file=sys.stderr)
    return cp


def cpu_count():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(cp, args, root, cores):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # a fixed heap, touched at start, so no page of it is first faulted in
    # while a timed phase runs
    cmd = [java, *opens, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
           f"-Djava.io.tmpdir={root}/tmp", "-Dspark.ui.enabled=false",
           "-cp", cp, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--root", root, "--cores", str(cores)]
    with open(os.path.join(root, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=root, stdout=subprocess.PIPE, stderr=log,
                             text=True, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, 9)
            p.wait()
            die(f"the JVM ran past {RUN_TIMEOUT_S}s and was stopped")
    lines = [ln for ln in out.splitlines() if ln.startswith("{")]
    if not lines:
        with open(os.path.join(root, "jvm.log")) as fh:
            log = fh.read().splitlines()
        causes = [ln for ln in log if "Exception" in ln or "Caused by" in ln]
        sys.stderr.write("\n".join(causes[:20] + log[-40:]) + "\n")
        die(f"the JVM printed no result (exit {p.returncode})")
    return json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(SPEC):
        die("BENCHMARK.json is missing")
    with open(SPEC) as fh:
        spec = json.load(fh)
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        die(f"unknown workload {args.workload}")
    if not (os.path.isfile(os.path.join(REPO, "build.sbt"))
            and os.path.isdir(os.path.join(REPO, "src", "main", "scala", "graft"))):
        die("the engine sources (build.sbt, src/main/scala/graft) are not here")

    digest = source_digest()
    cp = ensure_built(digest)
    # one core stays free for the main thread, the JIT, the collector
    # and the stream workload's generator thread
    cores = max(1, cpu_count() - 1)
    root = os.path.join(BUILD, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(os.path.join(root, "tmp"))
    try:
        res = run_jvm(cp, args, root, cores)
        # registered queries dumped by the JVM face their DuckDB oracles
        ok, bad = oracle.check(os.path.join(root, "tables"), os.path.join(root, "out"))
        res["attempted"] += ok + len(bad)
        res["failed"] += len(bad)
        res["info"]["oracle_passed"] = ok
        res["info"]["failures"] = res["info"].get("failures", []) + bad
        spans = os.path.join(root, "spans.jsonl")
        if os.path.isfile(spans):
            kept = os.path.join(BUILD, "traces", f"{args.workload}-{args.seed}.jsonl")
            os.makedirs(os.path.dirname(kept), exist_ok=True)
            shutil.move(spans, kept)
            res["info"]["spans"] = os.path.relpath(kept, REPO)
    finally:
        shutil.rmtree(root, ignore_errors=True)

    want = spec["per_layer"] if args.trace else spec["end_to_end"]
    got = res["metrics"]
    metrics = {}
    for m in want:
        if m["name"] in got:
            v = got[m["name"]]
            if v["unit"] != m["unit"]:
                die(f"metric {m['name']} came in {v['unit']}, not {m['unit']}")
            metrics[m["name"]] = {"value": v["value"], "unit": m["unit"]}
        elif args.trace:
            # a layer this workload does not exercise did no work
            metrics[m["name"]] = {"value": 0, "unit": m["unit"]}
        else:
            die(f"end-to-end metric {m['name']} was not measured")
    info = res.get("info", {})
    info["source_sha256"] = digest
    info["unreported"] = sorted(set(got) - set(metrics))
    correct = bool(res["correct"]) and res["failed"] == 0
    print(json.dumps({"info": info}, sort_keys=True))
    print(json.dumps({"correct": correct, "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
