#!/usr/bin/env python3
"""Benchmark entry point for graft.

Run from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

The first run builds graft's main sources and the benchmark's Scala sources
with the Scala compiler that ships in Spark's jar directory; the classes
are kept under the build directory ($CARGO_TARGET_DIR, default
.bench_build) and rebuilt when their sources change. The analytics workload
reads the fixed seed-42 fixtures under perfbench/fixture. Each run then starts one JVM (Spark local[4]) for the workload, and
the last line printed is one JSON object: correct, attempted, failed and the
end-to-end metrics (--trace 0) or the per-layer metrics (--trace 1) named in
BENCHMARK.json.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORKLOADS = ("bridge", "analytics")
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]
FIXTURE = os.path.join(HERE, "fixture", "sf0.01")
WARM_FIXTURE = os.path.join(HERE, "fixture", "sf0.001")
RUN_TIMEOUT_S = 170


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    """The jar directory graft's own build compiles against (build.sbt's
    unmanagedBase), or $SPARK_HOME/jars when that is set."""
    if os.environ.get("SPARK_HOME"):
        jar_dir = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if not m:
            sys.exit("set SPARK_HOME: build.sbt names no unmanagedBase")
        jar_dir = m.group(1)
    jars = sorted(glob.glob(os.path.join(jar_dir, "*.jar")))
    if not jars:
        sys.exit(f"no Spark jars under {jar_dir}")
    return jars


def sources(*dirs):
    out = []
    for d in dirs:
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def digest(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def stamped(build, name, key, make):
    """Runs make() unless build/<name>.stamp already holds key."""
    stamp = os.path.join(build, name + ".stamp")
    if os.path.exists(stamp) and open(stamp).read() == key:
        return
    make()
    with open(stamp, "w") as f:
        f.write(key)


def scalac(jars, classpath, out, srcs):
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    cmd = ["java", "-Xss16m", "-Xmx2g", "-cp", ":".join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", ":".join(classpath),
           "-d", out] + srcs
    log(f"compiling {len(srcs)} files into {os.path.relpath(out, ROOT)}")
    r = subprocess.run(cmd, stdout=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        sys.exit(f"compilation failed ({r.returncode})")


def build(build_dir):
    """Compiles graft and the benchmark; returns the runtime classpath."""
    graft_src = os.path.join(ROOT, "src", "main", "scala")
    bench_src = os.path.join(HERE, "src")
    if not os.path.isdir(graft_src):
        sys.exit(f"no graft sources at {graft_src}: run from a checkout root")
    jars = spark_jars()
    os.makedirs(build_dir, exist_ok=True)
    graft_out = os.path.join(build_dir, "classes-graft")
    bench_out = os.path.join(build_dir, "classes-bench")
    gsrc = sources(graft_src)
    bsrc = sources(bench_src)
    gkey = digest(gsrc, ":".join(os.path.basename(j) for j in jars))
    stamped(build_dir, "graft", gkey, lambda: scalac(jars, jars, graft_out, gsrc))
    stamped(build_dir, "bench", digest(bsrc, gkey),
            lambda: scalac(jars, jars + [graft_out], bench_out, bsrc))
    return [bench_out, graft_out] + jars


def run_jvm(classpath, args, work):
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-Dspark.ui.enabled=false"]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-cp", ":".join(classpath)] + args)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    return proc.returncode, out


def declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main():
    bench = declared()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload or --selftest is required")

    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    classpath = build(build_dir)
    if a.selftest:
        work = os.path.join(build_dir, "selftest")
        shutil.rmtree(work, ignore_errors=True)
        code, out = run_jvm(classpath, ["graftbench.SelfTest", work], work)
        sys.stdout.write(out)
        sys.exit(code)

    e2e_decl, layer_decl = bench["end_to_end"], bench["per_layer"]
    work = os.path.join(build_dir, "run", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    code, out = run_jvm(classpath, [
        "graftbench.Main", a.workload, str(a.seed), str(a.seconds), str(a.trace),
        work, FIXTURE, WARM_FIXTURE,
        os.path.join(HERE, "expected_digests.tsv")], work)
    lines = [l for l in out.splitlines() if l.startswith("RESULT ")]
    if code != 0 or not lines:
        sys.stderr.write(out)
        sys.exit(f"{a.workload} run failed (exit {code})")
    res = json.loads(lines[-1][len("RESULT "):])
    values = res["layers"] if a.trace else res["e2e"]
    metrics, correct = {}, res["correct"]
    for m in (layer_decl if a.trace else e2e_decl):
        v = values.get(m["name"])
        if v is None and a.trace:
            v = 0.0  # a layer this workload does not exercise
        elif v is None:
            log(f"metric {m['name']} was not measured")
            correct, v = False, 0.0
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    if a.trace:
        log("end-to-end in this traced run: " + json.dumps(res["e2e"], sort_keys=True))
    print(json.dumps({"correct": bool(correct), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))
    sys.stdout.flush()
    if not correct:
        sys.exit(1)


if __name__ == "__main__":
    main()
