#!/usr/bin/env python3
"""Runs one workload of the graft benchmark and prints its JSON result.

    python3 perfbench/run.py --workload serve_warm --seed 1 --seconds 8 --trace 0

Run it from anywhere inside a checkout of the repository. The first run
compiles the engine's sources together with the benchmark (sbt, offline)
and caches the classpath under perfbench/target; later runs reuse it until
a source file changes. The run itself is one JVM (perfbench.Main). Scratch
files go to .perfbench/ at the checkout root and are removed afterwards;
a traced run (--trace 1) leaves its spans in .perfbench/trace-*.jsonl.

The last line of standard output is the result object. On any failure the
script exits non-zero without printing a result.
"""

import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
ENGINE_SRC = ROOT / "src" / "main" / "scala"
CLASSPATH_FILE = BENCH / "target" / "perfbench-classpath.txt"
SCRATCH = ROOT / ".perfbench"
WORKLOADS = ("serve_warm", "serve_dist")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
HEAP = "3g"
# JDK 17 module opens Spark needs outside spark-submit (as the root build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_stamp():
    """Hash of every file the benchmark build compiles or is configured by."""
    files = sorted(
        [p for d in (ENGINE_SRC, BENCH / "src" / "main") for p in d.rglob("*") if p.is_file()]
        + [BENCH / "build.sbt", BENCH / "project" / "build.properties"])
    h = hashlib.sha256()
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the whole group on timeout
    and always waits for it to end. Returns (returncode, stdout)."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        return None, None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def classpath():
    stamp = source_stamp()
    if CLASSPATH_FILE.exists():
        cached_stamp, cp = CLASSPATH_FILE.read_text().split("\n", 1)
        if cached_stamp == stamp:
            return cp.strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    tmp = SCRATCH / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = f"{opts} -Djava.io.tmpdir={tmp} -XX:-UsePerfData".strip()
    t0 = time.time()
    code, out = run_group(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "compile", "printClasspath"],
        BUILD_TIMEOUT_S, cwd=BENCH, env=env, stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if code != 0:
        sys.stderr.write(out or "")
        fail(f"build failed (exit {code})")
    cps = [l[len("CLASSPATH="):] for l in out.splitlines() if l.startswith("CLASSPATH=")]
    if not cps:
        fail("build printed no classpath")
    CLASSPATH_FILE.parent.mkdir(parents=True, exist_ok=True)
    CLASSPATH_FILE.write_text(stamp + "\n" + cps[-1] + "\n")
    print(f"perfbench: built in {time.time() - t0:.0f} s", file=sys.stderr)
    return cps[-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be positive")
    if not ENGINE_SRC.is_dir():
        fail(f"no engine sources at {ENGINE_SRC.relative_to(ROOT)}: run inside a repository checkout")
    cp = classpath()

    work = SCRATCH / f"work-{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    log = SCRATCH / f"{a.workload}-seed{a.seed}-trace{a.trace}.log"
    # Every temporary file Spark, Hadoop and the JVM write stays in the work
    # dir. A fixed heap, and the JIT held to C1 at a tenth of its thresholds,
    # so the read path is compiled within the warm-up and stays put. Under C2
    # it kept getting faster for 10-20 s of reads while the compiler worked
    # off a backlog of ~90 CPU-seconds, and where on that slope a run was
    # timed depended on how much CPU the host left the compiler: runs of one
    # seed read at 6 or at 9 ms. C2-compiled reads are ~2.5x faster. With C1
    # alone the code cache defaults to 48 MB, which these compiles overflow
    # (the JIT then shuts off), hence the tiered default of 240 MB.
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(tmp))
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:TieredStopAtLevel=1",
              "-XX:CompileThresholdScaling=0.1", "-XX:ReservedCodeCacheSize=240m", "-XX:-UsePerfData",
              "-Dspark.ui.enabled=false", f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
              f"-Dspark.hadoop.hadoop.tmp.dir={tmp}", "-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--dir", str(work)])
    try:
        with open(log, "w") as err:
            code, out = run_group(cmd, RUN_TIMEOUT_S, cwd=ROOT, env=env, stdin=subprocess.DEVNULL,
                                  stdout=subprocess.PIPE, stderr=err, text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = (out or "").rstrip("\n").splitlines()
    if code != 0 or not lines or not lines[-1].startswith("{"):
        sys.stderr.write((out or "") + "".join(open(log).readlines()[-40:]))
        fail("run timed out" if code is None else f"run failed (exit {code}); log: {log}")
    print("\n".join(lines))


if __name__ == "__main__":
    main()
