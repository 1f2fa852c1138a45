#!/usr/bin/env python3
"""Repository benchmark: build the program from source, run one workload in
a fresh JVM, and relay its report. The last stdout line is one JSON object
with `correct`, `attempted`, `failed` and `metrics`.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Run it from the repository root. The first run builds the program and the
benchmark with sbt (`perfbench/build.sbt`); later runs reuse the build while
the sources are unchanged. Everything the benchmark writes goes under
`.bench_build/`. The registry workloads read the fixed seed-42 test tables
from `$PERFBENCH_DATA` (default `~/testdata`).
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".bench_build")
HEAP = "2g"
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
SELFTEST_TIMEOUT_S = 900
WORKLOADS = ["visibility_merge", "graph_fixpoint", "dedup_setsim", "relational_mix"]
# Spark on JDK 17 outside spark-submit needs these (the program's build.sbt
# passes the same list to its forked runs).
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


def source_files():
    """Every file whose change requires a rebuild, relative to ROOT."""
    roots = [os.path.join("src", "main"), os.path.join(os.path.relpath(HERE, ROOT), "src")]
    files = ["build.sbt", os.path.join("project", "build.properties"),
             os.path.join(os.path.relpath(HERE, ROOT), "build.sbt"),
             os.path.join(os.path.relpath(HERE, ROOT), "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group; on timeout kills the group and
    waits for it, so nothing outlives the benchmark."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        return None, None
    return p.returncode, out


def build():
    """Compiles the program and the benchmark (skipped while sources are
    unchanged) and returns the runtime classpath."""
    if not (os.path.isfile("build.sbt") and os.path.isdir(os.path.join("src", "main", "scala"))):
        fail(f"no program sources in {ROOT}: run from the repository root")
    h = hashlib.sha256()
    for f in source_files():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    cp_file = os.path.join(OUT, "classpath.txt")
    stamp_file = os.path.join(OUT, "build.stamp")
    os.makedirs(OUT, exist_ok=True)
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as c:
                    return c.read()
    cmd = ["sbt", "--batch", "-J-Xmx2g", "-J-XX:-UsePerfData", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "-Dsbt.offline=true", f"-Dperfbench.classpath={cp_file}"]
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if os.path.isfile(repos):
        cmd += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    cmd += ["compile", "writeClasspath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    log = os.path.join(OUT, "build.log")
    with open(log, "w") as fh:
        rc, _ = run_group(cmd, BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=fh,
                          stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    if rc != 0 or not os.path.isfile(cp_file):
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-30:]))
        fail(f"build failed (rc={rc}); log in {log}")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    with open(cp_file) as c:
        return c.read()


def java(classpath, main, args, log_name, timeout=RUN_TIMEOUT_S, capture=True):
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(os.path.join(OUT, "logs"), exist_ok=True)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, main] + args
    log = os.path.join(OUT, "logs", log_name)
    with open(log, "w") as err:
        rc, out = run_group(cmd, timeout, stdout=subprocess.PIPE if capture else None,
                            stderr=err, stdin=subprocess.DEVNULL, text=True)
    if rc is None:
        fail(f"{main} timed out after {timeout} s; log in {log}")
    return rc, out, log


def data_dir():
    d = os.environ.get("PERFBENCH_DATA") or os.path.expanduser(os.path.join("~", "testdata"))
    return os.path.abspath(d)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="smoke-test the benchmark itself on the smallest inputs")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")
    classpath = build()
    work = os.path.join(OUT, "work")
    if a.selftest:
        rc, out, log = java(classpath, "perfbench.SelfTest",
                            ["--work", os.path.join(work, "selftest"), "--data", data_dir(),
                             "--bench", os.path.join(ROOT, "BENCHMARK.json")], "selftest.log",
                            timeout=SELFTEST_TIMEOUT_S, capture=False)
        if rc != 0:
            fail(f"self-test failed (rc={rc}); log in {log}")
        return
    rc, out, log = java(classpath, "perfbench.Main",
                        ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                         "--trace", str(a.trace), "--work", work, "--data", data_dir()],
                        f"{a.workload}-seed{a.seed}-trace{a.trace}.log")
    lines = out.rstrip("\n").splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except ValueError:
        result = None
    if rc != 0 or not isinstance(result, dict) or \
            set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.stdout.write("\n".join(lines[:-1]) + "\n" if lines else "")
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"workload {a.workload} failed (rc={rc}); log in {log}")
    sys.stdout.write(out)


if __name__ == "__main__":
    main()
