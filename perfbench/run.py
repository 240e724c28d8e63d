#!/usr/bin/env python3
"""Run one benchmark workload of the graft KG pipeline.

    python3 perfbench/run.py --workload zipf_mega --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. The first run builds the program and the
benchmark program from source with sbt (offline) into `.bench_build/`; later
runs reuse that build while the sources are unchanged. The JVM's own output
ends with one JSON line; this script prints it as its last line and exits 0,
or exits non-zero without printing a result.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("zipf_mega", "golden_replay")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700

# Spark on JDK 17 needs these outside spark-submit (the program's build.sbt
# passes the same set to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def sources_digest():
    """Hash of every file the build reads, to know when to rebuild."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
             os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project"), os.path.join(HERE, "src")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(r)
            if "target" not in d.split(os.sep) for f in fs)
        for p in paths:
            if os.path.isfile(p) and not p.endswith(".class"):
                h.update(p.encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def run_killable(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, err = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise
    return p.returncode, out, err


def build():
    """Compile the program and the benchmark; return the runtime classpath."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main")):
        log("program sources (build.sbt, src/main) not found next to perfbench/")
        sys.exit(2)
    cp_file = os.path.join(OUT, "classpath.txt")
    stamp_file = os.path.join(OUT, "build.stamp")
    digest = sources_digest()
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == digest:
                with open(cp_file) as fh2:
                    return fh2.read().strip()
    os.makedirs(OUT, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    sbt_tmp = os.path.join(OUT, "sbt-tmp")
    os.makedirs(sbt_tmp, exist_ok=True)
    # sbt's own state and scratch stay inside the checkout too
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.autostart=false",
            f"-Dsbt.global.base={os.path.join(OUT, 'sbt-global')}",
            f"-Djava.io.tmpdir={sbt_tmp}", f"-Dperfbench.classpath={cp_file}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building program + benchmark with sbt (first run only)")
    t0 = time.time()
    with open(os.path.join(OUT, "build.log"), "w") as blog:
        code, _, _ = run_killable(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
            BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=blog,
            stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    if code != 0 or not os.path.isfile(cp_file):
        log(f"build failed (exit {code}); see .bench_build/build.log")
        sys.exit(3)
    with open(stamp_file, "w") as fh:
        fh.write(digest)
    log(f"build took {time.time() - t0:.0f} s")
    with open(cp_file) as fh:
        return fh.read().strip()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    classpath = build()
    out = os.path.join(OUT, "perfbench")
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    # Steadiness settings, benchmark only (see perfbench/README.md):
    # a fixed heap, so GC sizing and soft-reference clearing do not drift
    # between runs; and C1-only JIT, because C2 on this program does not
    # settle within a run (compile time kept growing pass after pass).
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:TieredStopAtLevel=1",
           "-XX:ReservedCodeCacheSize=512m", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dfile.encoding=UTF-8",
           "-Dstdout.encoding=UTF-8"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graft.perfbench.PerfBench",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--out", out, "--cpus", str(cpus)]
    jvm_log = os.path.join(out, f"jvm-{args.workload}.log")
    jvm_out = os.path.join(out, f"jvm-{args.workload}.out")
    try:
        with open(jvm_log, "w") as err, open(jvm_out, "w") as sout:
            code, _, _ = run_killable(cmd, RUN_TIMEOUT_S, cwd=ROOT,
                                      stdout=sout, stderr=err,
                                      stdin=subprocess.DEVNULL)
    except subprocess.TimeoutExpired:
        log(f"benchmark JVM timed out after {RUN_TIMEOUT_S} s; "
            f"see {os.path.relpath(jvm_out, ROOT)}")
        sys.exit(4)
    with open(jvm_out, encoding="utf-8", errors="replace") as fh:
        lines = fh.read().rstrip("\n").split("\n")
    result = None
    if code == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if result is None or set(result) != {"correct", "attempted", "failed", "metrics"}:
        # never echo anything that could be read as a result
        sys.stdout.write("\n".join(
            l for l in lines[-40:] if not l.lstrip().startswith("{")) + "\n")
        log(f"benchmark JVM failed (exit {code}); see {os.path.relpath(jvm_log, ROOT)}")
        with open(jvm_log, errors="replace") as fh:
            sys.stderr.write(fh.read()[-4000:])
        sys.exit(code or 5)
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
