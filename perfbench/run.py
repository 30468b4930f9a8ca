#!/usr/bin/env python3
"""Benchmark entry point for graft.

Usage (from the repository root):

    python3 perfbench/run.py --workload <requests|ingest> \
        --seed <n> --seconds <s> --trace <0|1>

Builds graft's main sources together with the benchmark's Scala harness
(once per source tree, cached under the build directory), runs one
workload in a fresh JVM on local[nproc], and prints the harness's JSON
result as the last line of standard output. Exits non-zero without a
result if the sources are missing, the build fails, the run fails or it
exceeds its time limit.

The build directory is $CARGO_TARGET_DIR if set, else .bench_build at
the repository root. Spark and Scala come from $SPARK_HOME/jars, or
from a Spark installation on PATH.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import zipfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
RUN_LIMIT_S = 170
# what spark-submit would pass on JDK 17
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        sys.exit(f"graft sources not found at {main}")
    return sorted(main.rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala"))


def spark_jars():
    """$SPARK_HOME/jars, else the jars of the first Spark installation on
    PATH that ships a Scala compiler."""
    homes = [os.environ.get("SPARK_HOME")] + [
        Path(d, "spark-submit").resolve().parent.parent
        for d in os.environ.get("PATH", "").split(os.pathsep) if Path(d, "spark-submit").is_file()]
    for home in filter(None, homes):
        jars = Path(home) / "jars"
        if any(jars.glob("scala-compiler-*.jar")):
            return jars
    sys.exit("no Spark installation with Scala jars found: set SPARK_HOME")


def jvm(jars, app_jar, work, *extra):
    cmd = ["java", "-Xmx3g", "-XX:+UseG1GC", "-Xlog:disable", "-Xlog:all=warning:stderr",
           f"-Djava.io.tmpdir={work / 'tmp'}",
           # long call sites, so a job's first graft frame is always in them
           "-Dspark.callstack.depth=200",
           f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}", *extra]
    for m in JVM_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    return cmd + ["-cp", f"{app_jar}{os.pathsep}{jars}/*", "perfbench.Main", "--work", str(work)]


def run_jvm(cmd, work, limit):
    """Runs `cmd` in its own process group in a fresh `work` directory,
    which it removes afterwards; returns (exit code, stdout)."""
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, cwd=work,
                            start_new_session=True, text=True)
    try:
        out, _ = proc.communicate(timeout=limit)
    except subprocess.TimeoutExpired:
        out = None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if out is None:
        sys.exit(f"run exceeded {limit} s")
    return proc.returncode, out


def build(build_dir, jars):
    """Compiles once per distinct source tree into a jar; returns the jar
    and the path of its class-data sharing archive."""
    files = sources()
    digest = hashlib.sha256()
    for f in files:
        digest.update(str(f.relative_to(ROOT)).encode())
        digest.update(f.read_bytes())
    tag = digest.hexdigest()[:16]
    app_jar = build_dir / f"graft-{tag}.jar"
    archive = build_dir / f"graft-{tag}.jsa"
    done = build_dir / f"graft-{tag}.ok"
    if not done.exists():
        for old in build_dir.glob("graft-*"):
            old.unlink()
        classes = build_dir / "classes"
        shutil.rmtree(classes, ignore_errors=True)
        classes.mkdir(parents=True)
        argfile = build_dir / "sources.txt"
        argfile.write_text("\n".join(str(f) for f in files) + "\n")
        log(f"compiling {len(files)} Scala sources")
        t0 = time.time()
        cp = f"{jars}/*"
        proc = subprocess.run(
            ["java", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
             "-Ybackend-parallelism", str(min(4, os.cpu_count() or 1)),
             "-d", str(classes), "-classpath", cp, f"@{argfile}"],
            stdout=sys.stderr, stderr=sys.stderr, timeout=800)
        argfile.unlink()
        if proc.returncode != 0:
            sys.exit("build failed")
        # class-data sharing archives only classes loaded from jars
        with zipfile.ZipFile(app_jar, "w", zipfile.ZIP_STORED) as z:
            for f in sorted(classes.rglob("*")):
                if f.is_file():
                    z.write(f, f.relative_to(classes).as_posix())
        shutil.rmtree(classes)
        done.write_text("ok\n")
        log(f"built in {time.time() - t0:.1f} s")
    return app_jar, archive


def main():
    # a terminated run still stops its compiler or JVM: SystemExit unwinds
    # through the handlers that kill them
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("terminated"))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["requests", "ingest"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    args = ap.parse_args()

    build_dir = Path(os.environ.get("CARGO_TARGET_DIR", ROOT / ".bench_build"))
    if not build_dir.is_absolute():
        build_dir = ROOT / build_dir
    build_dir.mkdir(parents=True, exist_ok=True)
    jars = spark_jars()
    app_jar, archive = build(build_dir, jars)

    work = build_dir / "runs" / f"{args.workload}-{os.getpid()}"
    # class-data sharing halves JVM and Spark start-up; the first run
    # after a build records the archive as it exits, later runs map it
    tried = archive.with_suffix(".tried")
    if archive.exists():
        extra = [f"-XX:SharedArchiveFile={archive}"]
    elif not tried.exists():
        tried.write_text("")
        extra = [f"-XX:ArchiveClassesAtExit={archive}"]
    else:
        extra = []
    code, out = run_jvm(jvm(jars, app_jar, work, *extra)
                        + ["--workload", args.workload, "--seed", str(args.seed),
                           "--seconds", str(args.seconds), "--trace", args.trace],
                        work, RUN_LIMIT_S)
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if code != 0 or not lines:
        sys.stderr.write(out)
        sys.exit(f"run failed (exit {code})")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.exit("malformed result")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
