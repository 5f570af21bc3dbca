#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload {batch_elt,analytics}
                             --seed N --seconds S --trace {0,1}
    python3 perfbench/run.py --selftest          # the benchmark's own tests
    python3 perfbench/run.py --record-digests    # re-record analytics digests

Builds the library (src/main/scala) and the benchmark (perfbench/scala)
from source with the Scala compiler shipped in the Spark distribution,
caching the classes by source content under the build directory
($CARGO_TARGET_DIR, default .bench_build), next to the fixed inputs the
workloads generate on their first run. Each workload runs in its own
JVM with a local[nproc] session. The library keeps its scratch caches
under /dev/shm when it can write there; the JVM runs in a private mount
namespace where /dev/shm is a directory inside the build directory, so
the run reads and writes only inside the checkout. The JVM prints every
metric with its unit and sample count, and the result object as the last
stdout line; the exit code is non-zero when an output check failed.
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

ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = ("batch_elt", "analytics")
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """$SPARK_HOME/jars, or the jars next to `spark-submit` on the PATH."""
    home = os.environ.get("SPARK_HOME")
    submit = shutil.which("spark-submit")
    if not home and submit:
        home = str(Path(submit).resolve().parent.parent)
    jars = Path(home or ".") / "jars"
    if not any(jars.glob("spark-sql_*.jar")):
        fail(f"no Spark jars under {jars} (set SPARK_HOME)")
    return jars


def sources():
    lib = ROOT / "src" / "main" / "scala"
    if not lib.is_dir():
        fail(f"library sources not found at {lib}: run from a full checkout")
    files = sorted(lib.rglob("*.scala")) + sorted((ROOT / "perfbench" / "scala").rglob("*.scala"))
    if not files:
        fail("no Scala sources to build")
    return files


def build(build_dir, jars):
    """Compiles library + benchmark once per source content; returns the class dir."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    out = build_dir / f"classes-{h.hexdigest()[:16]}"
    if (out / ".ok").exists():
        return out
    for old in [*build_dir.glob("classes-*"), *build_dir.glob("inputs-*")]:
        shutil.rmtree(old, ignore_errors=True)
    tmp = build_dir / "classes-tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    t0 = time.time()
    cp = f"{jars}/*"
    cmd = ["java", "-Xmx3g", "-Xss16m", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-classpath", cp] + [str(f) for f in files]
    r = subprocess.run(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        fail("build failed", 3)
    (tmp / ".ok").write_text("")
    tmp.rename(out)
    print(f"perfbench: built {len(files)} sources in {time.time() - t0:.0f} s", file=sys.stderr)
    return out


def private_shm_prefix(shm):
    """`unshare` prefix that mounts `shm` over /dev/shm, or [] if unavailable."""
    probe = ["unshare", "-rm", "sh", "-c", 'mount --bind "$0" /dev/shm', str(shm)]
    try:
        ok = subprocess.run(probe, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                            timeout=10).returncode == 0
    except (OSError, subprocess.TimeoutExpired):
        ok = False
    if not ok:
        print("perfbench: no private mount namespace; the library's scratch goes to /dev/shm",
              file=sys.stderr)
        return []
    return ["unshare", "-rm", "sh", "-c", 'mount --bind "$0" /dev/shm && shift && exec "$@"', str(shm), "--"]


def jvm(classes, jars, work, main, args):
    tmp = work / "tmp"
    shm = work / "shm"
    for d in (tmp, shm):
        d.mkdir(parents=True, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # a fixed-size heap (-Xms = -Xmx): no heap resizing whose timing
    # follows the host's speed, so pass times and peak RSS repeat better
    cmd = private_shm_prefix(shm) + ["java"] + opens + [
        "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={tmp}", f"-Dlog4j2.configurationFile={ROOT / 'perfbench' / 'log4j2.properties'}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", f"{classes}:{jars}/*", main] + args
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, start_new_session=True)
    deadline = time.time() + JVM_TIMEOUT_S
    last = None
    try:
        for line in proc.stdout:
            line = line.rstrip("\n")
            print(line, flush=True)
            if line.strip():
                last = line
            if time.time() > deadline:
                raise subprocess.TimeoutExpired(cmd, JVM_TIMEOUT_S)
        proc.wait(timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"{main} exceeded {JVM_TIMEOUT_S} s", 4)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    return proc.returncode, last


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--record-digests", action="store_true")
    a = ap.parse_args()
    if not (a.selftest or a.record_digests) and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")

    jars = spark_jars()
    build_dir = ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    build_dir.mkdir(parents=True, exist_ok=True)
    classes = build(build_dir, jars)
    name = "selftest" if a.selftest else "digests" if a.record_digests else a.workload
    work = build_dir / "work" / name
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        if a.selftest:
            code, _ = jvm(classes, jars, work, "graft.perfbench.SelfTest", [])
            sys.exit(code)
        if a.record_digests:
            code, _ = jvm(classes, jars, work, "graft.perfbench.RecordDigests", ["--work", str(work)])
            sys.exit(code)
        # fixed benchmark inputs outlive a run; they are keyed by the build
        inputs = build_dir / f"inputs-{classes.name}"
        code, last = jvm(classes, jars, work, "graft.perfbench.Main", [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", str(work), "--inputs", str(inputs)])
    finally:
        spans = work / "trace_spans.jsonl"
        if spans.exists():  # a traced run's spans outlive its scratch
            spans.replace(build_dir / f"trace_spans-{name}.jsonl")
        shutil.rmtree(work, ignore_errors=True)
    try:
        result = json.loads(last or "")
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (ValueError, AssertionError):
        fail("the workload printed no result object", 3)
    sys.exit(code if code != 0 else (0 if result["correct"] else 1))


if __name__ == "__main__":
    main()
