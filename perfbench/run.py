#!/usr/bin/env python3
"""Benchmark entry point for the extraction engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selfcheck

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt (offline) and caches the classpath under
.bench_build/, keyed by a digest of every source and build file; later runs
start the JVM directly. The harness prints the metrics and, as its last
line, one JSON result object. The exit code is the harness's: 0 only when
every correctness gate passed.
"""
import hashlib
import json
import os
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
DIGEST = os.path.join(BUILD, "classpath.digest")

# Spark 4 on JDK 17 needs these when the session is created outside
# spark-submit (the list of org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
HEAP = "3g"


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file the build reads: the engine's and the harness's."""
    files = [os.path.join(ROOT, "build.sbt")]
    for top in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        if os.path.isdir(top):
            files += [os.path.join(top, f) for f in os.listdir(top)
                      if f.endswith((".sbt", ".properties", ".scala"))]
    files.append(os.path.join(HERE, "build.sbt"))
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(top):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """The classpath of engine + harness, rebuilt when any source changed."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("engine sources (build.sbt, src/main/scala) not found next to perfbench/")
    files = sources()
    want = digest(files)
    if os.path.isfile(DIGEST) and os.path.isfile(CLASSPATH):
        with open(DIGEST) as fh:
            if fh.read().strip() == want:
                with open(CLASSPATH) as fh:
                    return fh.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
             "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=fh, text=True)
        fh.write(proc.stdout)
    if proc.returncode != 0:
        fail(f"build failed (exit {proc.returncode}); see {log}")
    lines = [l for l in proc.stdout.splitlines() if l.startswith("/") and ".jar" in l]
    if not lines:
        fail(f"build printed no classpath; see {log}")
    cp = lines[-1].strip()
    with open(CLASSPATH, "w") as fh:
        fh.write(cp + "\n")
    with open(DIGEST, "w") as fh:
        fh.write(want + "\n")
    return cp


def java_cmd(cp, main, args):
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", f"-Dperfbench.root={ROOT}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + opens + ["-cp", cp, main] + args)


def main():
    args = sys.argv[1:]
    selfcheck = "--selfcheck" in args
    if not selfcheck and "--workload" not in args:
        fail("usage: run.py --workload <name> --seed <n> --seconds <s> --trace <0|1> | --selfcheck")
    cp = build()
    main_class = "perfbench.SelfCheck" if selfcheck else "perfbench.Main"
    proc = subprocess.Popen(java_cmd(cp, main_class, [a for a in args if a != "--selfcheck"]),
                            cwd=ROOT, stdout=subprocess.PIPE, text=True)

    def stop(signum, _frame):
        proc.terminate()
        proc.wait()
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    last = ""
    try:
        for line in proc.stdout:
            sys.stdout.write(line)
            sys.stdout.flush()
            if line.strip():
                last = line.strip()
    finally:
        code = proc.wait()
    if code == 0 and not selfcheck:
        result = json.loads(last)
        if set(result) != {"correct", "attempted", "failed", "metrics"}:
            fail("malformed result line")
    sys.exit(code)


if __name__ == "__main__":
    main()
