#!/usr/bin/env python3
"""Run one workload of the medallion freshness benchmark.

    python3 perfbench/run.py --workload refresh --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the program and the
benchmark from source with sbt (into .bench_build/) and caches the class
path; later runs start the JVM directly. The first run after a build also
dumps the classes it loaded into a class-data-sharing archive, which later
runs map at start instead of loading and verifying those classes again.
Everything the run writes stays under .bench_build/ and the per-run work
directory is removed at exit.
The last line of stdout is the JSON result printed by perfbench.Main.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CDS_ARCHIVE = os.path.join(BUILD, "classes.jsa")
PROGRAM_SRC = os.path.join(ROOT, "src", "main")
WORKLOADS = ("refresh", "backfill", "upsert", "ann")

# Module opens Spark 4 needs on JDK 17 outside spark-submit (as build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Hash of every source the build compiles, to know when to rebuild."""
    h = hashlib.sha256()
    for top in (PROGRAM_SRC, os.path.join(HERE, "src", "main"),
                os.path.join(HERE, "build.sbt"), os.path.join(HERE, "run.py"),
                os.path.join(HERE, "project", "build.properties")):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile with sbt (output to stderr) unless the cached class path
    matches the current sources; returns the class path. It lists jars
    only, as a class-data-sharing archive requires."""
    digest = source_digest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "classpath.digest")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == digest:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    if os.path.exists(CDS_ARCHIVE):
        os.remove(CDS_ARCHIVE)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    sbt_opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline" not in sbt_opts:
        sbt_opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = (sbt_opts + " -Dsbt.server.autostart=false -XX:-UsePerfData").strip()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspathAsJars"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
        timeout=840)
    sys.stderr.write(proc.stdout)
    if proc.returncode != 0:
        fail(f"build failed (sbt exit {proc.returncode})")
    lines = [l for l in proc.stdout.splitlines() if l and not l.startswith("[")]
    if not lines:
        fail("build produced no class path")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(digest)
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(PROGRAM_SRC, "scala", "graft")):
        fail(f"program sources not found under {PROGRAM_SRC}; run from a full checkout")
    cp = build()

    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = tmp
    env["SPARK_GRAFT_SCRATCH"] = tmp
    # A fixed heap never resizes during a run. JVM log lines go to stderr:
    # stdout must end with the result line.
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-Xlog:disable", "-Xlog:all=warning:stderr"]
    dump = CDS_ARCHIVE + ".tmp"
    if os.path.exists(CDS_ARCHIVE):
        cmd.append(f"-XX:SharedArchiveFile={CDS_ARCHIVE}")
    else:
        cmd.append(f"-XX:ArchiveClassesAtExit={dump}")
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work,
            "--traces", os.path.join(BUILD, "traces")]
    try:
        proc = subprocess.run(cmd, cwd=ROOT, env=env, timeout=170)
        code = proc.returncode
        if os.path.exists(dump):
            if code == 0:
                os.replace(dump, CDS_ARCHIVE)
            else:
                os.remove(dump)
    except subprocess.TimeoutExpired:
        code = 3
        print("perfbench: run exceeded 170 s", file=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
