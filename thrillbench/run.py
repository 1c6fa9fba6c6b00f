#!/usr/bin/env python3
"""Build the program with the benchmark harness, run one workload, and
print its result as the last line of standard output.

    python3 thrillbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds (sbt, offline) into
$CARGO_TARGET_DIR/thrillbench, or .bench_build/thrillbench; later runs reuse
the build while the sources are unchanged and launch the JVM directly.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORKLOADS = ("dia_ordered", "dedup_clusters")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[thrillbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    dirs = [os.path.join(ROOT, "src", "main", "scala"),
            os.path.join(BENCH, "src", "main", "scala")]
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for d in dirs:
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_killing_group(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the whole group on timeout
    and waits for it, so no process outlives the benchmark."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        return None, None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def build(target):
    """Compiles the repo's main sources with the harness; returns the
    runtime classpath."""
    cp_file = os.path.join(target, "runtime-classpath.txt")
    stamp_file = os.path.join(target, "source-stamp.txt")
    want = stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == want:
                with open(cp_file) as g:
                    return g.read().strip()
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt not found")
    os.makedirs(target, exist_ok=True)
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = [os.environ.get("SBT_OPTS", ""), "-Dsbt.offline=true",
            "-Dsbt.server.autostart=false", f"-Dthrillbench.target={target}"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts))
    log = os.path.join(target, "build.log")
    with open(log, "w") as lf:
        rc, _ = run_killing_group(
            [sbt, "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
            BUILD_TIMEOUT_S, cwd=BENCH, env=env, stdout=lf, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL)
    if rc != 0 or not os.path.exists(cp_file):
        fail(f"build failed (rc={rc}); see {log}")
    with open(stamp_file, "w") as f:
        f.write(want)
    with open(cp_file) as g:
        return g.read().strip()


def main():
    # a terminated runner still unwinds, so its child process group is killed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no program sources under {ROOT}/src/main/scala; "
             "run from the root of a full checkout")
    java = shutil.which("java")
    if java is None:
        fail("java not found")
    build_root = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or
                                 os.path.join(ROOT, ".bench_build"))
    target = os.path.join(build_root, "thrillbench")
    classpath = build(target)

    work = os.path.join(target, "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "thrillbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--out", os.path.join(target, "results")]
    log = os.path.join(target, f"{a.workload}-seed{a.seed}.log")
    t0 = time.time()
    with open(log, "w") as lf:
        rc, out = run_killing_group(cmd, RUN_TIMEOUT_S, cwd=ROOT, stdout=subprocess.PIPE,
                                    stderr=lf, stdin=subprocess.DEVNULL, text=True)
    shutil.rmtree(work, ignore_errors=True)
    if rc is None:
        fail(f"run exceeded {RUN_TIMEOUT_S} s; see {log}")
    lines = [l for l in (out or "").splitlines() if l.strip()]
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        fail(f"no result line (rc={rc}, {time.time() - t0:.0f} s); see {log}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
