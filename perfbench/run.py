#!/usr/bin/env python3
"""The repository benchmark: one command per (workload, seed) run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It compiles the engine (src/main/scala) and
the benchmark's own Scala sources (perfbench/scala) against the Spark jars
into .bench_build/, runs the workload in one JVM as a single closed-loop
client, checks the outputs against a plain-Spark recomputation, and
prints one JSON object as the last line of standard output: the
end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.
A failed check or operation makes it exit with status 1; a missing
engine, build failure or timeout exits with status 2 and prints no result.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("elt_incremental", "llm_store_lifecycle")
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open("build.sbt") as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        if not m:
            fail("set SPARK_HOME: build.sbt names no unmanagedBase jar directory")
        jars = m.group(1)
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        fail(f"no Spark jars with a Scala compiler under {jars}")
    return os.path.join(jars, "*")


def sources(root):
    return sorted(glob.glob(os.path.join(root, "**", "*.scala"), recursive=True))


def digest(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def compile_into(out, files, classpath, jars):
    """scalac `files` into `out` unless an earlier run already did."""
    if os.path.isdir(out):
        return
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", classpath] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail("compilation failed:\n" + r.stdout[-4000:])
    try:
        os.rename(tmp, out)
    except OSError:  # a concurrent run finished the same build first
        shutil.rmtree(tmp, ignore_errors=True)


def build(build_dir):
    engine_src = sources(os.path.join("src", "main", "scala"))
    if not engine_src:
        fail("no engine sources under src/main/scala (run from the repository root)")
    bench_src = sources(os.path.join(HERE, "scala"))
    jars = spark_jars()
    engine = os.path.join(build_dir, "engine-" + digest(engine_src))
    compile_into(engine, engine_src, jars, jars)
    bench = os.path.join(build_dir, "bench-" + digest(bench_src, engine))
    compile_into(bench, bench_src, f"{engine}:{jars}", jars)
    return f"{bench}:{engine}:{jars}"


def tail(xs):
    """(value, percentile, samples beyond): the highest percentile with at
    least ten samples beyond it, or the maximum while that percentile would
    not yet lie above the median (fewer than 21 samples)."""
    s = sorted(xs)
    n = len(s)
    if n >= 21:
        return s[n - 11], 100.0 * (n - 10) / n, 10
    return s[-1], 100.0, 0


def median(xs):
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    build_dir = os.path.abspath(os.path.join(".bench_build", "perfbench"))
    os.makedirs(build_dir, exist_ok=True)
    cp = build(build_dir)
    work = os.path.join(build_dir, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    cpus = min(4, os.cpu_count() or 1)
    cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-XX:+UseParallelGC", "-Xms2g", "-Xmx2g", f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
              "-cp", cp, "graft.perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--work", work, "--out", out, "--cpus", str(cpus)])
    log_path = os.path.join(build_dir, f"{a.workload}.log")
    try:
        with open(log_path, "w") as log:
            p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
            try:
                p.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                fail(f"benchmark JVM exceeded {JVM_TIMEOUT_S} s (log: {log_path})")
        if p.returncode != 0 or not os.path.exists(out):
            fail(f"benchmark JVM exited with {p.returncode} (log: {log_path})")
        with open(out) as fh:
            res = json.load(fh)
        checks = res["checks"]
    finally:
        if a.trace:
            spans = os.path.join(work, "spans.jsonl")
            if os.path.exists(spans):
                shutil.copy(spans, os.path.join(build_dir, f"{a.workload}-spans.jsonl"))
        shutil.rmtree(work, ignore_errors=True)

    ops = res["ops"]
    prefix = ops[:res["prefix_ops"]]  # every compared metric covers the prefix only
    failed = sum(1 for o in ops if not o["ok"]) + sum(1 for c in checks if not c["ok"])
    for c in checks:
        if not c["ok"]:
            print(f"CHECK FAILED {c['name']}: {c['detail']}")
    metrics = {}
    if a.trace:
        for k, v in sorted(res["layers"].items()):
            unit = ("s" if k.endswith("_s") else "bytes" if k.endswith("_bytes")
                    else "ratio" if k.endswith(("_frac", "_at_k")) else "count")
            metrics[k] = {"value": v, "unit": unit}
    else:
        metrics["setup_s"] = {"value": res["setup_s"], "unit": "s"}
        metrics["wall_s"] = {"value": res["wall_s"], "unit": "s"}
        for kind in ("op", "read"):
            xs = [o["s"] for o in prefix if o["kind"] == kind]
            t, pct, beyond = tail(xs)
            metrics[f"{kind}_p50_s"] = {"value": median(xs), "unit": "s"}
            metrics[f"{kind}_tail_s"] = {"value": t, "unit": "s"}
            print(f"{kind}: {len(xs)} samples; tail = p{pct:.1f} ({beyond} beyond)")
        metrics["write_amp"] = {"value": res["write_amp"], "unit": "ratio"}
        metrics["space_amp"] = {"value": res["space_amp"], "unit": "ratio"}
        metrics["rss_peak_mb"] = {"value": res["rss_peak_mb"], "unit": "MB"}
    print(f"{a.workload} seed={a.seed} steps={res['steps']} "
          f"(prefix {res['prefix_steps']}) checks={len(checks)} failed={failed}")
    for k, m in metrics.items():
        print(f"  {k} = {m['value']:.6g} {m['unit']}")
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": max(1, len(ops)),
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
