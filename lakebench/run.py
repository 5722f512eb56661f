#!/usr/bin/env python3
"""Build the lake benchmark from source and run one workload.

Usage, from the root of a checkout:

    python3 lakebench/run.py --workload scan_ladder --seed 1 --seconds 10 --trace 0

The first run compiles the program's sources together with the
benchmark's (sbt, offline) and records the classpath under
.bench_build/lakebench; later runs reuse it while no source changed.
The last line of standard output is the result as one JSON object.
"""
import argparse
import hashlib
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "lakebench")

JVM_FLAGS = [
    "--add-modules=jdk.incubator.vector",
    "-XX:+IgnoreUnrecognizedVMOptions",
    "-Djdk.reflect.useDirectMethodHandle=false",
    "-Dio.netty.tryReflectionSetAccessible=true",
    "-Dfile.encoding=UTF-8",
    "-Dsun.jnu.encoding=UTF-8",
    "-Xms2g",
    "-Xmx2g",
] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def sources():
    """Every file the build reads, in a stable order."""
    out = []
    for top in (os.path.join(ROOT, "src", "main"), HERE):
        for d, dirs, files in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project") or d != HERE)
            out += [os.path.join(d, f) for f in sorted(files)
                    if f.endswith((".scala", ".java", ".sbt", ".properties"))]
    out.append(os.path.join(HERE, "project", "build.properties"))
    return out


def stamp():
    h = hashlib.sha256()
    for p in sources():
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def classpath():
    os.makedirs(BUILD, exist_ok=True)
    cp_file, stamp_file = os.path.join(BUILD, "classpath"), os.path.join(BUILD, "stamp")
    want = stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == want:
                with open(cp_file) as g:
                    return g.read()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline" not in opts:
        repos = os.path.expanduser("~/.sbt/repositories")
        extra = "-Dsbt.offline=true"
        if os.path.exists(repos):
            extra += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
        env["SBT_OPTS"] = f"{opts} {extra}".strip()
    # sbt keeps its global state (compiler bridge, server socket) inside the checkout
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true",
         "-Dsbt.global.base=" + os.path.join(BUILD, "sbt-global"),
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True)
    lines = proc.stdout.splitlines()
    cps = [l for l in lines if not l.startswith("[") and "scala-2.13" in l and ":" in l]
    if proc.returncode != 0 or not cps:
        sys.stderr.write(proc.stdout[-5000:])
        sys.exit("lakebench: build failed")
    with open(cp_file, "w") as f:
        f.write(cps[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(want)
    return cps[-1].strip()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["scan_ladder", "churn", "pipeline_dedup"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--inject", choices=["0", "1"], default="0",
                    help="negative control: give the checker one wrong expectation")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        sys.exit("lakebench: the program's sources (src/main/scala) are not in this checkout")
    cp = classpath()
    work = os.path.join(BUILD, f"work-{os.getpid()}")
    trace_out = os.path.join(ROOT, ".bench_build", "traces", f"{a.workload}-seed{a.seed}.json")
    cmd = ["java"] + JVM_FLAGS + [
        f"-Dderby.system.home={work}",
        f"-Djava.io.tmpdir={work}/tmp",
        "-Dspark.ui.enabled=false",
        f"-Dspark.hadoop.hadoop.tmp.dir={work}/tmp",
        "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
        "-cp", cp, "lakebench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--inject", a.inject, "--work-dir", work,
        "--trace-out", trace_out]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdin=subprocess.DEVNULL)
    try:
        code = proc.wait()
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        subprocess.run(["rm", "-rf", work])
    sys.exit(code)


if __name__ == "__main__":
    main()
