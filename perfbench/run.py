#!/usr/bin/env python3
"""Vintage-table benchmark runner.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <n> --trace <0|1>

Builds the program (src/main) and the benchmark (perfbench/src) from
source with the Scala compiler that ships with Spark, caches the build
under .bench_build/perfbench keyed by a hash of the sources, runs one
workload in a fresh JVM and relays its result: the last line of stdout
is one JSON object. Side output (host evidence, every operation, spans)
goes to .bench_build/perfbench/out. Everything the run writes stays
under the checkout.
"""

import argparse
import fcntl
import hashlib
import os
import re
import shutil
import signal
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
STATE = ROOT / ".bench_build" / "perfbench"
WORKLOADS = ("submissions", "submissions_sql_dv")

# Spark 4 on JDK 17 needs these outside spark-submit (build.sbt sets the same).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else build.sbt's unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    sbt = ROOT / "build.sbt"
    if sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m and Path(m.group(1)).is_dir():
            return Path(m.group(1))
    fail("Spark jars not found: set SPARK_HOME")


def sources():
    main = ROOT / "src" / "main"
    if not (main / "scala").is_dir():
        fail(f"program sources not found under {main}")
    scala = sorted(p for d in (main / "scala", main / "java") if d.is_dir()
                   for p in d.rglob("*") if p.suffix in (".scala", ".java"))
    resources = sorted(p for p in (main / "resources").rglob("*") if p.is_file()) \
        if (main / "resources").is_dir() else []
    bench = sorted((HERE / "src").glob("*.scala"))
    tests = sorted((HERE / "tests").glob("*.scala"))
    return scala, resources, bench, tests


def build():
    """Compiles program and benchmark once per source hash.

    Returns (classpath, build id); the id names the sources the classes
    were built from.
    """
    jars = spark_jars()
    scala, resources, bench, tests = sources()
    h = hashlib.sha256()
    for p in scala + resources + bench + tests:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    spark_cp = sorted(jars.glob("*.jar"))
    h.update(" ".join(p.name for p in spark_cp).encode())
    build_id = h.hexdigest()[:16]
    out = STATE / f"build-{build_id}"
    classpath = [out / "bench", out / "classes"] + spark_cp
    STATE.mkdir(parents=True, exist_ok=True)
    with open(STATE / "build.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if (out / "ok").exists():
            return classpath, build_id
        shutil.rmtree(out, ignore_errors=True)
        (out / "classes").mkdir(parents=True)
        (out / "bench").mkdir()
        cp = ":".join(str(p) for p in spark_cp)

        def scalac(dest, classpath_, files):
            args = out / f"{dest.name}.args"
            args.write_text("\n".join(str(f) for f in files) + "\n")
            cmd = ["java", "-Xss16m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                   "-nowarn", "-d", str(dest), "-classpath", classpath_, f"@{args}"]
            if subprocess.run(cmd, cwd=ROOT).returncode != 0:
                fail(f"compilation into {dest} failed", 1)

        print(f"[perfbench] building {len(scala)} program sources into {out}",
              file=sys.stderr)
        scalac(out / "classes", cp, scala)
        java = [f for f in scala if f.suffix == ".java"]
        if java:
            cmd = ["javac", "-nowarn", "-d", str(out / "classes"),
                   "-cp", f"{out / 'classes'}:{cp}"] + [str(f) for f in java]
            if subprocess.run(cmd, cwd=ROOT).returncode != 0:
                fail("javac failed", 1)
        res_root = ROOT / "src" / "main" / "resources"
        for r in resources:
            dest = out / "classes" / r.relative_to(res_root)
            dest.parent.mkdir(parents=True, exist_ok=True)
            shutil.copyfile(r, dest)
        scalac(out / "bench", f"{out / 'classes'}:{cp}", bench + tests)
        (out / "ok").write_text("")
        for old in STATE.glob("build-*"):
            if old != out:
                shutil.rmtree(old, ignore_errors=True)
    return classpath, build_id


def java_command(classpath, main, args, work):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # AlwaysPreTouch faults the whole heap in at JVM start, so first
    # touches of heap pages fall in set-up, not in timed operations
    return (["java", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch",
             "-Xlog:disable", "-Xlog:all=error:stderr",
             f"-Djava.io.tmpdir={work / 'tmp'}",
             f"-Dlog4j.configurationFile={HERE / 'log4j2.properties'}"] + opens +
            ["-cp", ":".join(str(p) for p in classpath), main] + args)


def run_java(cmd, timeout):
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_LOCAL_DIRS", "SPARK_CONF_DIR", "_JAVA_OPTIONS",
                        "JAVA_TOOL_OPTIONS")}
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                            start_new_session=True, text=True)

    def stop(signum, _frame):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(128 + signum)

    handlers = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"timed out after {timeout} s", 5)
    finally:
        for s, h in handlers.items():
            signal.signal(s, h)
    return proc.returncode, out


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if not 1 <= a.seconds <= 60:
        fail("--seconds must be 1..60")
    classpath, build_id = build()
    work = STATE / "work" / f"{a.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    try:
        cmd = java_command(classpath, "perfbench.Main", [
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--work", str(work), "--out", str(STATE / "out"), "--build", build_id], work)
        code, out = run_java(cmd, timeout=a.seconds + 150)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines or not lines[-1].startswith("{"):
        fail(f"benchmark exited with code {code} and no result", code or 1)
    print(lines[-1], flush=True)


if __name__ == "__main__":
    main()
