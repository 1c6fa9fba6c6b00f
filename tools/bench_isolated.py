#!/usr/bin/env python3
"""Noise-free per-query bench: one JVM per query (SPARK_GRAFT_ONLY), so no
page-cache / JIT / block-manager state bleeds between queries — the mode
that separates real regressions from in-suite interference (SCALE.md:
q_dedup_corpus read 12.6x in-suite at sf1 but 1.0 s isolated).

Usage: python3 tools/bench_isolated.py <sfDir> [out.json] [name ...] [--warm]
--warm runs each query once untimed first (JIT-warms codec paths; the
cold one-shot mode charges q_audio_* ~13 s of pure JIT - SCALE.md).
Names default to the full set in ./bench_out.json (written by any prior
graft.Bench run). Launches `java -cp target/classes:/opt/spark/jars/*`
directly (~5 s JVM overhead per query vs ~25 s via sbt); requires a
prior `sbt compile`. Flags mirror build.sbt's javaOptions exactly so
isolated numbers stay comparable with sbt-launched ones.
"""
import glob
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ADDOPENS_PKGS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
JAVA_CMD = ["java"]
for p in ADDOPENS_PKGS:
    JAVA_CMD += ["--add-opens", f"{p}=ALL-UNNAMED"]
JAVA_CMD += [
    "-Xmx" + os.environ.get("SPARK_DRIVER_MEM", "8g"),
    "-cp", f"{REPO}/target/scala-2.13/classes:/opt/spark/jars/*",
    "graft.Bench",
]
if not glob.glob(f"{REPO}/target/scala-2.13/classes/graft/Bench*.class"):
    sys.exit("no compiled classes — run `sbt compile` first")

argv = [a for a in sys.argv[1:] if a != "--warm"]
warm = "--warm" in sys.argv  # per-query untimed pre-run (JIT-warm codecs)
sf_dir = argv[0] if len(argv) > 0 else "/root/testdata/sf0.1"
out_path = argv[1] if len(argv) > 1 else "bench_isolated.json"
names = argv[2:]
if not names:
    with open("bench_out.json") as f:
        names = sorted(json.load(f)["queries"])

results, failed = {}, []
for i, name in enumerate(names):
    out_file = f"/tmp/bench_iso_{name}.json"
    # stderr kept per query: a one-in-a-hundred JVM flake in an hour-long
    # column is undiagnosable from a DEVNULL'd launcher
    err_file = f"/tmp/bench_iso_{name}.err"
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir, SPARK_GRAFT_ONLY=name,
               SPARK_GRAFT_BENCH_OUT=out_file,
               **({"SPARK_GRAFT_WARM": "1"} if warm else {}))
    # a stale file from a previous invocation would be silently read as
    # this run's result when the query crashes before rewriting it
    if os.path.exists(out_file):
        os.remove(out_file)
    with open(err_file, "w") as ef:
        rc = subprocess.run(JAVA_CMD, env=env,
                            stdout=subprocess.DEVNULL, stderr=ef).returncode
    try:
        with open(out_file) as f:
            t = json.load(f)["queries"][name]
    except Exception:
        t, rc = -1, rc or 1
    # a gate that crashes is a failure in the column, not a re-run
    if rc or t < 0:
        failed.append(name)
    results[name] = t
    print(f"[{i+1}/{len(names)}] {name}: {t:.3f}s rc={rc}", flush=True)

line = {"metric": "total", "value": round(sum(t for t in results.values() if t > 0), 3),
        "unit": "sec", "queries": results, "failed": failed, "sf": sf_dir,
        "isolated": True, "warm": warm}
with open(out_path, "w") as f:
    json.dump(line, f, indent=1)
print(json.dumps({"total": line["value"], "failed": failed}))
