#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload match-ingest --seed 1 --seconds 10 --trace 0

The first run in a checkout compiles the engine and the benchmark from
source with the Scala compiler in the Spark jar directory (into
$CARGO_TARGET_DIR or .bench_build); later runs reuse that build while the
sources are unchanged. Every file the run reads or writes lies inside the
checkout, apart from the JDK and the Spark jars, which it only reads.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(ROOT, "perfbench")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
WORKLOADS = ("match-ingest", "engine-queries")
RUN_LIMIT_S = 170
# Spark task threads. Two leave the driver, JIT and GC threads room on a
# small box: on 4 cores, local[2] ran the passes faster and steadier than
# local[4].
CORES = min(2, len(os.sched_getaffinity(0)))
BUILD_LIMIT_S = 800
# The version build.sbt compiles with; its compiler ships with the Spark jars.
SCALA_VERSION = "2.13.17"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return os.path.join(ROOT, d, "perfbench") if not os.path.isabs(d) else os.path.join(d, "perfbench")


def main_sources():
    """Every Scala source the benchmark runs: the engine's and its own."""
    tops = [ENGINE_SRC, os.path.join(BENCH, "src", "main", "scala")]
    return sorted(os.path.join(d, f) for top in tops for d, _, fs in os.walk(top)
                  for f in fs if f.endswith(".scala"))


def source_hash(sources):
    """SHA-256 over every input of the build: the sources and this script."""
    h = hashlib.sha256()
    for p in sources + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def spark_jars():
    """The Spark jar directory, taken from the repository's own build file."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m or not os.path.isdir(m.group(1)):
        fail("no Spark jar directory (unmanagedBase := file(...)) in build.sbt", 3)
    return m.group(1)


def git_commit():
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(ROOT))
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], env=env,
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def run_group(cmd, limit, **kw):
    """Run `cmd` in its own process group; kill the whole group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, err = p.communicate(timeout=limit)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        return None, None, None
    return p.returncode, out, err


def build(bdir, sources, src_hash):
    """Compile with the Scala compiler that ships with the Spark jars, unless
    the last build used the same sources. No build tool, dependency cache or
    home-directory state is involved, so a fresh checkout builds the same
    way everywhere."""
    stamp = os.path.join(bdir, "build.stamp")
    cp_file = os.path.join(bdir, "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read().strip() == src_hash:
                with open(cp_file) as g:
                    return g.read().strip()
    jars = spark_jars()
    compiler = [os.path.join(jars, f"scala-{m}-{SCALA_VERSION}.jar")
                for m in ("compiler", "library", "reflect")]
    missing = [j for j in compiler if not os.path.isfile(j)]
    if missing:
        fail(f"Scala {SCALA_VERSION} compiler jars not found: {missing}", 3)
    classes = os.path.join(bdir, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    os.makedirs(os.path.join(bdir, "tmp"), exist_ok=True)
    args = os.path.join(bdir, "sources.txt")
    with open(args, "w") as f:
        f.write("\n".join(sources) + "\n")
    log = os.path.join(bdir, "build.log")
    with open(log, "w") as lf:
        code, _, _ = run_group(
            ["java", "-Xmx2g", "-Xss8m", "-Djava.io.tmpdir=" + os.path.join(bdir, "tmp"),
             "-cp", ":".join(compiler), "scala.tools.nsc.Main", "-usejavacp:false",
             "-classpath", os.path.join(jars, "*"), "-d", classes, "@" + args],
            BUILD_LIMIT_S, cwd=bdir, stdout=lf, stderr=subprocess.STDOUT)
    if code != 0:
        with open(log) as lf:
            sys.stderr.write("".join(lf.readlines()[-30:]))
        fail(f"build failed (exit {code}); log at {log}", 3)
    cp = classes + ":" + os.path.join(jars, "*")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(src_hash)
    return cp


def untraced_pass_s(bdir, a, src_hash):
    """`pass_s` of the untraced run with the same workload, seed and sources,
    the base a traced run measures its tracing overhead against."""
    path = os.path.join(bdir, "records", f"{a.workload}-seed{a.seed}-trace0.json")
    try:
        with open(path) as f:
            rec = json.load(f)
        if rec["provenance"]["source_sha256"] == src_hash:
            return ["--untraced-pass-s", str(rec["result"]["metrics"]["pass_s"]["value"])]
    except (OSError, ValueError, KeyError):
        pass
    return []


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"engine sources not found under {ENGINE_SRC}", 2)
    bdir = build_dir()
    sources = main_sources()
    src_hash = source_hash(sources)
    cp = build(bdir, sources, src_hash)

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(bdir, "work", f"{tag}-{os.getpid()}")
    out = os.path.join(bdir, "records", f"{tag}.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(CORES),
               SPARK_LOCAL_DIRS=os.path.join(work, "local"))
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] + [
        "-Xms256m", "-Xmx2g", "-Djava.io.tmpdir=" + tmp, "-cp", cp, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--root", ROOT, "--work", work, "--out", out,
        "--cores", str(CORES), "--commit", git_commit(), "--source-hash", src_hash]
    if a.trace == "1":
        cmd += untraced_pass_s(bdir, a, src_hash)
    log = os.path.join(bdir, "logs", f"{tag}.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    t0 = time.time()
    with open(log, "w") as lf:
        code, stdout, _ = run_group(cmd, RUN_LIMIT_S, cwd=work, env=env,
                                    stdout=subprocess.PIPE, stderr=lf, text=True)
    shutil.rmtree(work, ignore_errors=True)
    if code is None:
        fail(f"run exceeded {RUN_LIMIT_S} s; log at {log}", 4)
    lines = [l for l in stdout.splitlines() if l.strip()]
    if code != 0 or not lines:
        with open(log) as lf:
            sys.stderr.write("".join(lf.readlines()[-40:]))
        fail(f"run failed (exit {code}); log at {log}", code or 5)
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"malformed result line: {lines[-1]}", 6)
    print(f"perfbench: {a.workload} seed {a.seed} ran {time.time() - t0:.1f} s; record {out}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
