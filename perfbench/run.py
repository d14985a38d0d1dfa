#!/usr/bin/env python3
"""Run one graft benchmark workload and print its metrics.

    python3 perfbench/run.py --workload acon_jobs --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds graft and the harness
with sbt (perfbench/build.sbt); later runs reuse the build while the
sources are unchanged. Each run generates its inputs from the seed
(perfbench/gen.py, outside the timed phase), runs the workload in one
JVM, verifies every output, and prints:

  * one compact line per workload (short keys, integer ms);
  * last, one JSON object: correct, attempted, failed and metrics — the
    end-to-end metrics of BENCHMARK.json, or with --trace 1 its per-layer
    metrics.

The full record goes to perfbench/results/. The exit code is 1 when a
verification failed, 2 when the run could not complete.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
RESULTS = os.path.join(HERE, "results")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840
JVM_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]

sys.path.insert(0, HERE)
import gen  # noqa: E402


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Digest of everything the build reads: graft's and the harness's."""
    h = hashlib.sha256()
    paths = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in sorted(os.walk(top)):
            paths += [os.path.join(d, n) for n in sorted(names)]
    for p in paths:
        if not os.path.isfile(p):
            fail("missing build input %s: run from a full checkout" % os.path.relpath(p, ROOT))
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Classpath of the harness, building it when the sources changed."""
    digest = source_digest()
    stamp = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return open(cp_file).read()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        try:
            rc = subprocess.run(
                ["sbt", "-batch", "-Dsbt.log.noformat=true",
                 "export perfbench/Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                timeout=BUILD_LIMIT_S).returncode
        except (OSError, subprocess.TimeoutExpired) as e:
            fail("build failed: %s" % e)
    lines = open(log).read().splitlines()
    cps = [l for l in lines if not l.startswith("[") and ".jar" in l]
    if rc != 0 or not cps:
        fail("build failed, see %s" % os.path.relpath(log, ROOT))
    with open(cp_file, "w") as f:
        f.write(cps[-1].strip())
    with open(stamp, "w") as f:
        f.write(digest)
    return cps[-1].strip()


def compact_line(workload, seed, trace, rec):
    """≤4 KB: short keys, integer ms (other units keep 3 decimals)."""
    def short(v, unit):
        if isinstance(v, float) and v != v:
            return None
        return int(round(v)) if unit == "ms" else round(v, 3)
    m = {k: short(v, "ms" if k.endswith("_ms") else "")
         for k, v in sorted(rec["end_to_end"].items())}
    line = {"w": workload, "seed": seed, "tr": trace, "n": rec["attempted"],
            "f": rec["failed"], "m": m}
    if trace:
        if "tracing_overhead_s" in rec:
            line["ovh_s"] = round(rec["tracing_overhead_s"], 3)
        line["self_ms"] = {k: int(round(v)) for k, v in sorted(rec["self_ms_per_op"].items())}
        line["chk"] = {k: round(v, 3) for k, v in sorted(rec["layer_checks"].items())}
    return json.dumps(line, separators=(",", ":"))


def main(argv):
    ap = argparse.ArgumentParser(description="graft benchmark, one run")
    ap.add_argument("--workload", required=True, choices=gen.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    bench_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(bench_path):
        fail("BENCHMARK.json not found at the repository root")
    with open(bench_path) as f:
        bench = json.load(f)
    cp = build()
    started = time.time()

    work = os.path.join(HERE, "work", "%s-s%d-t%d-%d" % (a.workload, a.seed, a.trace, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(RESULTS, exist_ok=True)
    out = os.path.join(RESULTS, "%s-s%d-t%d.json" % (a.workload, a.seed, a.trace))
    for p in (out, out[:-5] + "-spans.json"):
        if os.path.exists(p):
            os.remove(p)
    proc = None
    try:
        gen.generate(a.workload, a.seed, inputs)
        print("perfbench: inputs generated in %.1f s" % (time.time() - started), file=sys.stderr)
        cores = os.cpu_count() or 1
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores))
        cmd = (["java"] + [x for p in JVM_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] +
               ["-Xms1g", "-Xmx2g", "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
                "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main",
                "--workload", a.workload, "--inputs", inputs, "--work", work,
                "--seconds", str(a.seconds), "--trace", str(a.trace), "--out", out,
                "--cores", str(cores), "--launch-ms", str(int(time.time() * 1000))])
        with open(os.path.join(work, "jvm.log"), "w") as log:
            proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT)
            try:
                rc = proc.wait(timeout=max(10, RUN_LIMIT_S - (time.time() - started)))
            except subprocess.TimeoutExpired:
                fail("run exceeded %d s" % RUN_LIMIT_S)
        with open(os.path.join(work, "jvm.log")) as log:
            for line in log:
                if line.startswith("perfbench:"):
                    print(line.rstrip(), file=sys.stderr)
        if rc != 0 or not os.path.exists(out):
            os.makedirs(os.path.join(RESULTS, "logs"), exist_ok=True)
            keep = os.path.join(RESULTS, "logs", os.path.basename(work) + ".log")
            shutil.copy(os.path.join(work, "jvm.log"), keep)
            fail("JVM exited with %d, log kept at %s" % (rc, os.path.relpath(keep, ROOT)))
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run is using it

    with open(out) as f:
        rec = json.load(f)
    failed = rec["failed"]
    attempted = rec["attempted"]
    untraced = out.replace("-t1.json", "-t0.json")
    if a.trace and os.path.exists(untraced):
        with open(untraced) as f:
            base = json.load(f)["end_to_end"]["wall_s"]
        rec["tracing_overhead_s"] = rec["end_to_end"]["wall_s"] - base
        with open(out, "w") as f:
            json.dump(rec, f)
    if a.trace:
        values = rec["per_layer"]
        wanted = bench["per_layer"]
    else:
        values = rec["end_to_end"]
        wanted = bench["end_to_end"]
    metrics = {}
    for m in wanted:
        v = values.get(m["name"])
        if v is None or v != v:
            fail("metric %s was not measured" % m["name"])
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    for msg in rec.get("failures", []):
        print("perfbench: failed op: " + msg, file=sys.stderr)
    print(compact_line(a.workload, a.seed, a.trace, rec))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
