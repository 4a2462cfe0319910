#!/usr/bin/env python3
"""Run one wiserspark benchmark workload and print its result.

Usage, from the repository root:

    python3 perfbench/run.py --workload batch --seed 1 --seconds 6 --trace 0

Builds the library and the benchmark program from source with sbt (once per
source tree; outputs under .bench_build/), then runs the program in one JVM
at local[nproc] with the settings of perfbench/settings.json. The last line
of standard output is the result: one JSON object with the keys correct,
attempted, failed and metrics. The line before it is the run's
diagnostics record (settings, host probes, oracle counts, the workload's
own named figures).
"""
import argparse
import hashlib
import json
import os
import pathlib
import signal
import subprocess
import sys

HERE = pathlib.Path(__file__).resolve().parent
ROOT = pathlib.Path.cwd()
BUILD = ROOT / ".bench_build" / "perfbench"
QUERY_LOG = ROOT / "data" / "queries.log"
WORKLOADS = ("batch", "ingest")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600

# JDK 17 module openings Spark needs outside spark-submit (as in build.sbt)
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
    """Run `cmd` in its own process group; on timeout kill the whole group
    and wait for it. Returns the exit code, or None on timeout."""
    p = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None


def sources():
    lib = ROOT / "src" / "main" / "scala"
    if not (lib / "graft").is_dir():
        fail(f"library sources not found under {lib} (run from the repository root)")
    files = sorted(lib.rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala"))
    return files + [HERE / "build.sbt", HERE / "project" / "build.properties"]


def build():
    """Compile with sbt unless the stamp matches the current sources;
    returns the runtime classpath."""
    h = hashlib.sha256()
    for f in sources():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp = h.hexdigest()
    cp_file, stamp_file = BUILD / "classpath.txt", BUILD / "build.stamp"
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    BUILD.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = pathlib.Path.home() / ".sbt" / "repositories"
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    cmd = ["sbt", "--batch", "--no-server", "-Dsbt.log.noformat=true",
           "compile", "export Runtime/fullClasspath"]
    print("perfbench: building with sbt", file=sys.stderr)
    log = BUILD / "build.log"
    with open(log, "w") as f:
        rc = run_group(cmd, BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=f, stderr=subprocess.STDOUT)
    text = log.read_text()
    lines = [l for l in text.splitlines() if l.startswith("/") and ".jar" in l]
    if rc != 0 or not lines:
        sys.stderr.write(text[-4000:])
        fail(f"sbt build failed (exit {rc}); log in {log}")
    cp_file.write_text(lines[-1])
    stamp_file.write_text(stamp)
    return lines[-1]


def driver_mem():
    """The tier-1 heap: half of RAM, clamped to 2-8 GB."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(8, max(2, g))}g"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--scale", default="default", choices=("default", "tiny"))
    a = ap.parse_args()

    settings = json.loads((HERE / "settings.json").read_text())
    cp = build()
    if not QUERY_LOG.is_file():
        fail(f"query log not found at {QUERY_LOG}")
    run_dir = BUILD / "runs"
    run_dir.mkdir(parents=True, exist_ok=True)
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    out, diag = run_dir / f"{tag}.result.json", run_dir / f"{tag}.diag.json"
    for f in (out, diag):
        f.unlink(missing_ok=True)
    mem = driver_mem()
    cmd = ["java", f"-Xmx{mem}", f"-Xms{mem}", "-Xss8m"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--scale", a.scale,
            "--work", str(BUILD / "work" / tag), "--out", str(out), "--diag", str(diag),
            "--parts", str(settings["partitions"]), "--queries", str(QUERY_LOG),
            "--page-warm-gb", str(settings["page_warm_gb"])]
    for k, v in settings["spark_conf"].items():
        cmd += ["--conf", f"{k}={v}"]
    # the JVM's own output goes to stderr: stdout carries only the result
    rc = run_group(cmd, RUN_TIMEOUT_S, stdout=sys.stderr)
    if rc is None:
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    if rc != 0 or not out.exists():
        fail(f"benchmark JVM exited with code {rc}")
    d = json.loads(diag.read_text())
    d["driver_mem"] = mem
    print(json.dumps({"diagnostics": d}))
    print(out.read_text().strip())


if __name__ == "__main__":
    main()
