#!/usr/bin/env python3
"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload export_hour --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark from source on first use (sbt,
offline), then runs one workload in a fresh JVM, which prints a table and,
as its last stdout line, one JSON object with the metrics. Exit code 0
means every output check passed.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD_DIR = HERE / "target"
CLASSPATH_FILE = BUILD_DIR / "bench-classpath.txt"
RUN_TIMEOUT_S = 172
HEAP = "2g"
# Spark 4 on JDK 17 outside spark-submit: the same opens the repo's build
# passes to forked runs.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every input of the build, so a changed checkout rebuilds."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties", HERE / "build.sbt",
             HERE / "project" / "build.properties"]
    for base in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(base.rglob("*.scala"))
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build():
    stamp = source_stamp()
    stamp_file = BUILD_DIR / "bench-stamp.txt"
    if CLASSPATH_FILE.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return CLASSPATH_FILE.read_text().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.exists():
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    print("perfbench: building engine and benchmark (sbt)", file=sys.stderr)
    t0 = time.time()
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "compile", "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=840)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        die("build failed", 3)
    cp = [line for line in r.stdout.splitlines()
          if ".jar" in line and not line.startswith("[")]
    if not cp:
        sys.stderr.write(r.stdout[-4000:])
        die("build printed no classpath", 3)
    BUILD_DIR.mkdir(exist_ok=True)
    CLASSPATH_FILE.write_text(cp[-1].strip())
    stamp_file.write_text(stamp)
    print(f"perfbench: built in {time.time() - t0:.0f} s", file=sys.stderr)
    return cp[-1].strip()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # the engine is built from the checkout this script sits in
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        die(f"no engine sources next to {HERE.name}/ (expected build.sbt and src/main/scala/graft)")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java must be on PATH")

    classpath = build()
    work = ROOT / ".bench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    out = ROOT / ".bench_out"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    out.mkdir(exist_ok=True)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={work / 'tmp'}", f"-Dspark.local.dir={work / 'spark-local'}",
            f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--work", str(work), "--out", str(out)]
    # the engine runs as it ships: no engine knob leaks in from the caller
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        code = 4
        print("perfbench: run timed out", file=sys.stderr)
    except BaseException:
        proc.kill()
        proc.wait()
        raise
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
