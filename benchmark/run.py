#!/usr/bin/env python3
"""Build and run the graft benchmark.

Usage (from the repository root):
    python3 benchmark/run.py --workload curate|graph --seed N --seconds S --trace 0|1

The first run compiles the library (../src/main/scala) and the harness
with sbt, offline, and records the runtime classpath; later runs reuse
it while no source has changed. The harness runs in a plain `java`
process, so sbt never sits inside a measurement. Its last stdout line
is the JSON result; nothing is printed on stdout unless it exits 0.
"""
import argparse
import hashlib
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LIB = os.path.join(ROOT, "src", "main", "scala", "graft")
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
STAMP = os.path.join(TARGET, "build.stamp")
TMP = os.path.join(TARGET, "tmp")
HEAP = "4g"
JVM_OPTIONS = os.path.join(TARGET, "jvm-options.txt")


def sources_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties"),
             os.path.join(ROOT, "build.sbt")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    for f in sorted(files):
        h.update(f[len(ROOT):].encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    digest = sources_digest()
    if all(os.path.exists(f) for f in (CLASSPATH, JVM_OPTIONS, STAMP)):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return
    os.makedirs(TMP, exist_ok=True)
    # offline, and writing nothing outside the checkout: no boot lock, no
    # hsperfdata files (also from the launcher's `java -version` probe),
    # the launcher's, sbt's and JNA's temporary files under target/
    env = dict(os.environ, COURSIER_MODE="offline", TMPDIR=TMP,
               JAVA_TOOL_OPTIONS="-XX:-UsePerfData")
    env["SBT_OPTS"] = " ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Dsbt.boot.lock=false", "-Xmx2g",
        "-Djava.io.tmpdir=" + TMP, "-Djna.tmpdir=" + TMP,
    ])
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr, timeout=600)
    if r.returncode != 0 or not (os.path.exists(CLASSPATH) and os.path.exists(JVM_OPTIONS)):
        sys.exit("graftbench: build failed")
    with open(STAMP, "w") as fh:
        fh.write(digest)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["curate", "graph"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not os.path.isdir(LIB):
        sys.exit("graftbench: library sources not found at " + LIB)
    build()
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    # the --add-opens list Spark needs on JDK 17, from the library's build
    with open(JVM_OPTIONS) as fh:
        opts = [line.strip() for line in fh if line.strip()]
    os.makedirs(TMP, exist_ok=True)
    # no hsperfdata file: the JVM would write it outside the checkout
    cmd = ["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:-UsePerfData"] + opts + [
        "-Djava.io.tmpdir=" + TMP,
        "-Dgraftbench.work=" + os.path.join(TARGET, "work"),
        "-Dspark.local.dir=" + TMP,
        # bounded status-store retention, so live heap does not grow with
        # the number of ops a run happens to fit
        "-Dspark.ui.retainedJobs=100", "-Dspark.ui.retainedStages=100",
        "-Dspark.ui.retainedTasks=10000", "-Dspark.sql.ui.retainedExecutions=50",
        "-cp", cp, "graftbench.Main",
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
    ]
    p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    try:
        out, _ = p.communicate(timeout=170)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        sys.exit("graftbench: harness timed out")
    if p.returncode != 0:
        sys.exit("graftbench: harness exited with %d" % p.returncode)
    sys.stdout.write(out)


if __name__ == "__main__":
    main()
