#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload keboola_jobs --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run compiles the engine (the root
sbt build) and the benchmark (perfbench/build.sbt) and caches the classpath
under perfbench/target/bench, keyed by a digest of every source and build
file; later runs launch the JVM directly. The JVM's last stdout line is the
result: {"correct", "attempted", "failed", "metrics"}. The line before it
is context (calibration, nproc, commit, seed, per-class percentiles and the
sample counts behind them). Exit code 0 means every output check passed.
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
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
CACHE = HERE / "target" / "bench"
WORKLOADS = ("keboola_jobs", "lake_reads")
RUN_LIMIT_S = 170      # a run (build excluded) must end within this
BUILD_LIMIT_S = 700    # the first run of a checkout also builds

# Spark on JDK 17 outside spark-submit needs the module opens that
# org.apache.spark.launcher.JavaModuleOptions lists.
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


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; return (exit code, stdout) or
    None on timeout. On timeout or SIGTERM/SIGINT the whole group is killed
    and waited for, so no process outlives this one."""
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True, **kw)

    def kill():
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()

    def on_signal(sig, _frame):
        kill()
        fail(f"stopped by signal {sig}")

    for sig in (signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, on_signal)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        kill()
        return None


def source_files():
    roots = [ROOT / "src" / "main", HERE / "src" / "main"]
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for r in roots:
        files += [p for p in r.rglob("*") if p.is_file()]
    return sorted(files)


def source_digest():
    h = hashlib.sha256()
    for p in source_files():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(b"\0")
        h.update(p.read_bytes())
    return h.hexdigest()


def build(digest):
    """Compile engine + benchmark once per source digest; return the classpath."""
    stamp, cp_file = CACHE / "digest", CACHE / "classpath"
    if stamp.exists() and cp_file.exists() and stamp.read_text() == digest:
        return cp_file.read_text()
    CACHE.mkdir(parents=True, exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"]
    res = run_group(cmd, BUILD_LIMIT_S, cwd=HERE, stderr=subprocess.STDOUT)
    if res is None:
        fail("build timed out")
    code, out = res
    (CACHE / "build.log").write_text(out)
    cps = [l for l in out.splitlines() if ".jar" in l and os.pathsep in l]
    if code != 0 or not cps:
        sys.stderr.write(out[-4000:])
        fail(f"build failed (exit {code})")
    cp_file.write_text(cps[-1].strip())
    stamp.write_text(digest)
    return cps[-1].strip()


def commit_id(digest):
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        if r.returncode == 0 and r.stdout.strip():
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "src-" + digest[:16]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()

    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir() or not (ROOT / "build.sbt").is_file():
        fail("engine sources (src/main/scala/graft, build.sbt) not found beside perfbench/")
    digest = source_digest()
    classpath = build(digest)

    work = HERE / "target" / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    logs = HERE / "target" / "logs"
    logs.mkdir(parents=True, exist_ok=True)
    cmd = ["java", "-Xmx3g", f"-Djava.io.tmpdir={work / 'tmp'}", "-Dspark.ui.enabled=false",
           # GC threads stay below the core count, beside Spark's task threads
           "-XX:ParallelGCThreads=2", "-XX:ConcGCThreads=1"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", args.trace,
            "--workdir", str(work), "--commit", commit_id(digest)]
    log_path = logs / f"{args.workload}-seed{args.seed}-trace{args.trace}.log"
    t0 = time.monotonic()
    try:
        with open(log_path, "w") as log:
            res = run_group(cmd, RUN_LIMIT_S, cwd=ROOT, stderr=log)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if res is None:
        fail(f"run exceeded {RUN_LIMIT_S}s; see {log_path}")
    code, out = res
    lines = [l for l in out.splitlines() if l.strip()]
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if result is None or set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.stderr.write(out[-2000:])
        fail(f"no result line (JVM exit {code}); see {log_path}")
    for l in lines:
        print(l)
    print(f"perfbench: {args.workload} seed {args.seed} took {time.monotonic() - t0:.1f}s",
          file=sys.stderr)
    sys.exit(0 if code == 0 and result["correct"] else 1)


if __name__ == "__main__":
    main()
