#!/usr/bin/env python3
"""Agent-memory benchmark for the graft engine.

Run from the repository root:

  python3 agentbench/run.py --workload serve-small --seed 1 --seconds 10 --trace 0
  python3 agentbench/run.py --smoke   # every workload for a few seconds
  python3 agentbench/run.py --test    # the benchmark's own unit tests

The first call builds the benchmark together with the engine sources under
`.bench_build/` (sbt, offline); later calls reuse that build until a source
file changes. The last line of standard output is the result JSON.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
STAMP = os.path.join(BUILD, "agentbench", "classpath.txt")
CDS_ARCHIVE = os.path.join(BUILD, "agentbench", "classes.jsa")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
WORKLOADS = ["serve-small", "serve-large", "stream-lanes", "pipeline-batch"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark 4 on JDK 17 outside spark-submit needs these module openings.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"agentbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_fingerprint():
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(HERE, "src", "main"), ENGINE_SRC):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark distribution found (set SPARK_HOME)")
    return home


def sbt_env():
    env = dict(os.environ)
    env["BENCH_BUILD_DIR"] = BUILD
    env["SPARK_HOME"] = spark_home()
    env.setdefault("COURSIER_MODE", "offline")
    tmp = os.path.join(BUILD, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] = " ".join([
        env.get("SBT_OPTS", ""), "-Xmx2g", "-Dsbt.offline=true",
        "-Dsbt.server.autostart=false",
        f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}",
        f"-Djava.io.tmpdir={tmp}"])
    return env


def sbt(*tasks, timeout=BUILD_TIMEOUT_S):
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", *tasks]
    try:
        return subprocess.run(cmd, cwd=HERE, env=sbt_env(), timeout=timeout,
                              stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                              text=True)
    except subprocess.TimeoutExpired:
        fail(f"sbt {' '.join(tasks)} timed out after {timeout} s")


def build():
    """Compile once per source state; returns the runtime classpath.

    A build ends with one short serve-small run that dumps the classes it
    loaded into a class-data sharing archive, which every later run maps
    instead of loading Spark's classes from their jars. That cuts each
    run's JVM and Spark start-up by several seconds; the engine's own work
    is measured the same way with or without it."""
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"engine sources not found under {ENGINE_SRC}; run from the repository root")
    fp = sources_fingerprint()
    if os.path.exists(STAMP) and os.path.exists(CDS_ARCHIVE):
        with open(STAMP) as fh:
            stamp, cp = fh.read().split("\n", 1)
        if stamp == fp:
            return cp.strip()
    out = sbt("compile", "export Runtime/fullClasspath")
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(out.stdout[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    if os.path.exists(CDS_ARCHIVE):
        os.remove(CDS_ARCHIVE)
    if run_once(cp, "serve-small", 1, 1, 0, [f"-XX:ArchiveClassesAtExit={CDS_ARCHIVE}"],
                quiet=True) is None or not os.path.exists(CDS_ARCHIVE):
        fail("class-data sharing archive was not written")
    os.makedirs(os.path.dirname(STAMP), exist_ok=True)
    with open(STAMP, "w") as fh:
        fh.write(fp + "\n" + cp)
    return cp


def run_once(cp, workload, seed, seconds, trace, jvm_flags=None, quiet=False):
    """One benchmark process; returns the parsed result JSON or None."""
    work = os.path.join(BUILD, "run", f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    if jvm_flags is None:
        jvm_flags = [f"-XX:SharedArchiveFile={CDS_ARCHIVE}"]
    cmd = (["java", "-Xmx3g", "-Xss4m", "-XX:+UseParallelGC", *jvm_flags,
            "-Duser.timezone=UTC", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "agentbench.Main", "--workload", workload,
              "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
              "--work", work, "--out", os.path.join(BUILD, "results")])
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    last = None
    try:
        for line in proc.stdout:
            line = line.rstrip("\n")
            if line.startswith("{"):
                last = line
            elif not quiet:
                print(line, flush=True)
        proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print(f"agentbench: {workload} exceeded {RUN_TIMEOUT_S} s", file=sys.stderr)
        return None
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0 or last is None:
        print(f"agentbench: {workload} exited with {proc.returncode}", file=sys.stderr)
        return None
    return json.loads(last)


def declared_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def smoke(cp, seconds):
    """Every workload, untraced and traced: any failed op, wrong answer or
    missing metric fails the smoke run."""
    bad = []
    for w in WORKLOADS:
        for trace in (0, 1):
            res = run_once(cp, w, 1, seconds, trace)
            if res is None:
                bad.append(f"{w} trace={trace}: no result")
                continue
            missing = [m for m in declared_metrics(trace)
                       if not isinstance(res["metrics"].get(m, {}).get("value"), (int, float))
                       or not math.isfinite(res["metrics"][m]["value"])]
            if not res["correct"] or res["failed"] or missing:
                bad.append(f"{w} trace={trace}: correct={res['correct']} "
                           f"failed={res['failed']}/{res['attempted']} missing={missing}")
    for b in bad:
        print(f"SMOKE FAIL {b}")
    print("SMOKE", "FAIL" if bad else "OK")
    return 1 if bad else 0


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--test", action="store_true")
    a = ap.parse_args()
    if a.test:
        build()
        out = sbt("test")
        print(out.stdout)
        return out.returncode
    cp = build()
    if a.smoke:
        return smoke(cp, 3)
    if not a.workload:
        fail("--workload, --smoke or --test is required")
    res = run_once(cp, a.workload, a.seed, a.seconds, a.trace)
    if res is None:
        return 1
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
