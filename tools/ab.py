#!/usr/bin/env python3
"""Paired parent/change benchmark runner: the one way a speed-up is claimed.

    python3 tools/ab.py --base <rev> [--pairs N]   (N >= 10, default 10)

The current checkout is the change; --base names the parent commit. The
parent's tree is exported with `git archive` to .bench_build/ab/<sha>/tree
(reused while the sha is the same), and each side runs its own
thrillbench/run.py with its own CARGO_TARGET_DIR. Both sides must carry
the same thrillbench/ and BENCHMARK.json, or the runner refuses (exit 2):
a run over different benchmark code is not a comparison.

For every workload in BENCHMARK.json it runs --pairs pairs at the
declared run_seconds; the side that runs first alternates from pair to
pair, and pair i (from 1) runs seed i on both sides. For every
workload x end-to-end metric it prints each side's median and quartiles,
the change's pair win rate, the parent's quartile spread and one verdict
(see `verdict`), then the attempted/failed operation counts per side. The
same report is written as JSON under .bench_build/ab/. Exit status: 0
when every run returned a correct result and the change failed no more
than the parent (see `more_failures`), 1 otherwise, 2 on refusal.

The decision rules are pure functions; check them with
`python3 -m doctest tools/ab.py`.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
AB_DIR = os.path.join(ROOT, ".bench_build", "ab")
BENCH_FILES = ("thrillbench", "BENCHMARK.json")
RUN_TIMEOUT_S = 1200  # run.py's own build (850 s) and run (170 s) limits, plus slack
PAIRS = 10  # the fewest pairs a gain may rest on


def quartiles(xs):
    """(q1, median, q3) of `xs`, quartiles as `statistics.quantiles(n=4)`.

    >>> quartiles([1, 2, 3, 4, 5])
    (1.5, 3, 4.5)
    >>> quartiles([7.0])
    (7.0, 7.0, 7.0)
    """
    if len(xs) < 2:
        return (xs[0], xs[0], xs[0])
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return (q1, statistics.median(xs), q3)


def wins(pairs, better):
    """Pairs (parent, change) the change wins. A tie counts for neither
    side, and neither does a pair where either side has no value (None),
    so a missing change run is a loss.

    >>> wins([(3.0, 2.0), (3.0, 3.0), (2.0, 3.0)], "lower")
    1
    >>> wins([(3.0, 2.0), (3.0, 3.0), (2.0, 3.0)], "higher")
    1
    >>> wins([(3.0, 2.0), (3.0, None), (None, 2.0)], "lower")
    1
    """
    sign = 1 if better == "lower" else -1
    return sum(1 for p, c in pairs
               if p is not None and c is not None and sign * (p - c) > 0)


def more_failures(parent, change):
    """Whether the change failed more than the parent: more runs without a
    correct result, or a larger share of its operations failed.

    >>> clean = {"no_result": 0, "incorrect": 0, "attempted": 120, "failed": 0}
    >>> more_failures(clean, clean)
    False
    >>> more_failures(clean, dict(clean, failed=1))
    True
    >>> more_failures(clean, dict(clean, no_result=1))
    True
    >>> more_failures(dict(clean, incorrect=2), dict(clean, incorrect=1))
    False
    """
    def share(o):
        return o["failed"] / o["attempted"] if o["attempted"] else 0.0
    bad = lambda o: o["no_result"] + o["incorrect"]
    return bad(change) > bad(parent) or share(change) > share(parent)


def verdict(pairs, better, bound, failed_more=False):
    """One verdict for a metric from its (parent, change) pairs, one per
    pair run; a side whose run returned no correct result is None there.
    Medians and quartiles are over each side's values:

    - `gain`: at least PAIRS pairs ran, the change failed no more than the
      parent (`failed_more` is false, see
      `more_failures`), it wins >= 90% of all pairs run
      and the medians differ, in its favour, by more than the parent's
      quartile spread;
    - `worse`: the change's median is worse than the parent's by more than
      `bound` (a share of the parent's median);
    - `unresolved`: the parent's own quartile spread is wider than `bound`,
      unless every change run beats every parent run;
    - `within bound` otherwise.

    Ties count for neither side, so 8 wins and 2 ties is not a gain:

    >>> verdict([(10.0, 9.0)] * 8 + [(10.0, 10.0)] * 2, "lower", 0.24)
    'within bound'

    A 9/10 win whose medians differ by less than the parent's spread:

    >>> parent = [9.0, 9.5, 10.0, 10.0, 10.0, 10.0, 10.0, 10.5, 11.0, 11.0]
    >>> change = [p - 0.1 for p in parent[:9]] + [11.5]
    >>> verdict(list(zip(parent, change)), "lower", 0.24)
    'within bound'
    >>> verdict(list(zip(parent, [p - 1.5 for p in parent])), "lower", 0.24)
    'gain'

    Worse past the bound, for either direction of `better`:

    >>> verdict([(10.0, 12.5)] * 10, "lower", 0.24)
    'worse'
    >>> verdict([(100.0, 85.0)] * 10, "higher", 0.1)
    'worse'

    A parent spread wider than the bound is unresolved, unless every
    change run beats every parent run:

    >>> noisy = [6.0, 7.0, 8.0, 9.0, 10.0, 11.0, 12.0, 13.0, 14.0, 15.0]
    >>> verdict(list(zip(noisy, noisy[1:] + noisy[:1])), "lower", 0.24)
    'unresolved'
    >>> beats_all = [5.5 - i * 0.01 for i in range(10)]
    >>> verdict(list(zip(noisy, beats_all)), "lower", 0.24)
    'within bound'

    (Every change run beats every parent run, yet the medians differ by
    less than the parent's spread, so it is no gain either.)

    >>> verdict(list(zip(noisy, [5.9, 15.5] + [5.5] * 8)), "lower", 0.24)
    'unresolved'

    A change run without a correct result is a lost pair, so a change
    that wins 7 pairs and crashes in 3 is no gain:

    >>> verdict([(10.0, 8.0)] * 7 + [(10.0, None)] * 3, "lower", 0.24)
    'within bound'
    >>> verdict([(10.0, 8.0)] * 10, "lower", 0.24)
    'gain'

    Nor is a clear win over fewer than PAIRS pairs, or one where the change
    failed more runs or operations than the parent:

    >>> verdict([(10.0, 8.0)] * 5, "lower", 0.24)
    'within bound'
    >>> verdict([(10.0, 8.0)] * 10, "lower", 0.24, failed_more=True)
    'within bound'
    >>> verdict([(10.0, None)] * 10, "lower", 0.24)
    'no result'
    """
    parent = [p for p, _ in pairs if p is not None]
    change = [c for _, c in pairs if c is not None]
    if not parent or not change:
        return "no result"
    q1, mp, q3 = quartiles(parent)
    mc = statistics.median(change)
    sign = 1 if better == "lower" else -1
    if (len(pairs) >= PAIRS and not failed_more
            and wins(pairs, better) >= 0.9 * len(pairs)
            and sign * (mp - mc) > q3 - q1):
        return "gain"
    if sign * (mc - mp) > bound * abs(mp):
        return "worse"
    beats_all = (max(change) < min(parent) if better == "lower"
                 else min(change) > max(parent))
    if q3 - q1 > bound * abs(mp) and not beats_all:
        return "unresolved"
    return "within bound"


def git(*args, cwd=ROOT):
    return subprocess.run(["git", *args], cwd=cwd, check=True, text=True,
                          capture_output=True).stdout


def refuse(msg):
    print(f"[ab] {msg}", file=sys.stderr)
    sys.exit(2)


def bench_blobs_at(sha):
    """{path: blob id} of the benchmark files in commit `sha`."""
    out = git("ls-tree", "-r", sha, "--", *BENCH_FILES)
    return {line.split("\t", 1)[1]: line.split()[2] for line in out.splitlines()}


def bench_blobs_here():
    """{path: blob id} of the benchmark files in the working tree
    (tracked and untracked, ignored files left out)."""
    paths = git("ls-files", "-co", "--exclude-standard", "--", *BENCH_FILES).split()
    paths = [p for p in paths if os.path.isfile(os.path.join(ROOT, p))]
    ids = git("hash-object", "--", *paths).split() if paths else []
    return dict(zip(paths, ids))


def check_same_benchmark(sha):
    base, here = bench_blobs_at(sha), bench_blobs_here()
    for side, blobs in (("base", base), ("change", here)):
        missing = [f for f in BENCH_FILES
                   if not any(p == f or p.startswith(f + "/") for p in blobs)]
        if missing:
            refuse(f"{', '.join(missing)} missing on the {side} side")
    if base != here:
        differ = sorted(p for p in set(base) | set(here) if base.get(p) != here.get(p))
        refuse("benchmark files differ between the sides: " + ", ".join(differ))


def export_base(sha):
    """The parent's tree, exported once per sha with `git archive`."""
    tree = os.path.join(AB_DIR, sha, "tree")
    if os.path.isdir(tree):
        return tree
    tmp = tree + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    archive = subprocess.run(["git", "archive", "--format=tar", sha], cwd=ROOT,
                             check=True, capture_output=True).stdout
    subprocess.run(["tar", "-x", "-C", tmp], input=archive, check=True)
    os.rename(tmp, tree)
    return tree


def value(result, metric):
    """A metric's value in a run's result line; None when the run returned
    no result or an incorrect one, whose figures count for nothing.

    >>> m = {"wall_s": {"value": 3.5, "unit": "s"}}
    >>> value({"correct": True, "metrics": m}, "wall_s")
    3.5
    >>> value({"correct": False, "metrics": m}, "wall_s") is None
    True
    >>> value(None, "wall_s") is None
    True
    """
    if not result or result.get("correct") is not True:
        return None
    return (result.get("metrics", {}).get(metric) or {}).get("value")


def run_side(root, target, workload, seed, seconds):
    """One thrillbench run of the tree at `root`; its result dict, or None
    if it returned none. run.py starts the JVM in a process group of its
    own and kills it when it is terminated, so the runner is stopped with
    SIGTERM first and SIGKILL only if it does not exit."""
    cmd = [sys.executable, os.path.join(root, "thrillbench", "run.py"),
           "--workload", workload, "--seed", str(seed), "--seconds", str(seconds)]
    env = dict(os.environ, CARGO_TARGET_DIR=target)
    p = subprocess.Popen(cmd, cwd=root, env=env, stdout=subprocess.PIPE,
                         stderr=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, err = p.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        out, err = "", f"timed out after {RUN_TIMEOUT_S} s"
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGTERM)
            try:
                p.wait(timeout=30)
            except subprocess.TimeoutExpired:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    lines = [l for l in out.splitlines() if l.strip()]
    try:
        return json.loads(lines[-1])
    except (IndexError, ValueError):
        print(f"[ab]   no result: {err.strip().splitlines()[-1:] or ['?']}", file=sys.stderr)
        return None


def main():
    # a terminated runner still unwinds, so its running side is killed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--base", required=True, help="the parent revision")
    ap.add_argument("--pairs", type=int, default=PAIRS)
    a = ap.parse_args()
    if a.pairs < PAIRS:
        refuse(f"--pairs must be >= {PAIRS}: a claim rests on at least {PAIRS} pairs")
    try:
        sha = git("rev-parse", "--verify", a.base + "^{commit}").strip()
    except subprocess.CalledProcessError:
        refuse(f"unknown revision {a.base}")
    check_same_benchmark(sha)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = spec["run_seconds"]
    metrics = spec["end_to_end"]
    sides = {
        "parent": (export_base(sha), os.path.join(AB_DIR, sha, "target")),
        "change": (ROOT, os.path.join(AB_DIR, "change", "target")),
    }

    report = {"base": sha, "head": git("rev-parse", "HEAD").strip(),
              "dirty": bool(git("status", "--porcelain").strip()),
              "pairs": a.pairs, "run_seconds": seconds,
              "workloads": {}}
    all_ok = True
    for w in (x["name"] for x in spec["workloads"]):
        runs = {"parent": [], "change": []}
        for i in range(a.pairs):
            seed = i + 1
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            for side in order:
                t0 = time.time()
                res = run_side(*sides[side], w, seed, seconds)
                runs[side].append(res)
                ok = res is not None and res.get("correct") is True
                all_ok &= ok
                print(f"[ab] {w} pair {i + 1}/{a.pairs} seed {seed} {side}: "
                      f"{'ok' if ok else 'FAILED'} wall_s={value(res, 'wall_s')} "
                      f"({time.time() - t0:.0f} s)", flush=True)
        ops = {side: {"runs": len(rs), "no_result": sum(r is None for r in rs),
                      "incorrect": sum(1 for r in rs if r and r.get("correct") is not True),
                      "attempted": sum(r["attempted"] for r in rs if r),
                      "failed": sum(r["failed"] for r in rs if r)}
               for side, rs in runs.items()}
        failed_more = more_failures(ops["parent"], ops["change"])
        all_ok &= not failed_more
        rows = {}
        for m in metrics:
            name = m["name"]
            pairs = [(value(p, name), value(c, name))
                     for p, c in zip(runs["parent"], runs["change"])]
            row = {"unit": m["unit"], "better": m["better"], "bound": m["bound"],
                   "parent": [p for p, _ in pairs], "change": [c for _, c in pairs],
                   "change_wins": wins(pairs, m["better"]), "pairs": len(pairs),
                   "verdict": verdict(pairs, m["better"], m["bound"], failed_more)}
            if row["verdict"] != "no result":
                pq = quartiles([p for p in row["parent"] if p is not None])
                row.update(parent_quartiles=pq,
                           change_quartiles=quartiles([c for c in row["change"] if c is not None]),
                           parent_spread=(pq[2] - pq[0]) / pq[1] if pq[1] else 0.0)
            rows[name] = row
        report["workloads"][w] = {"metrics": rows, "operations": ops,
                                  "change_failed_more": failed_more, "runs": runs}

    print(f"\n[ab] base {sha[:12]} vs change {report['head'][:12]}"
          f"{' + uncommitted edits' if report['dirty'] else ''}: "
          f"{a.pairs} pairs, seeds 1..{a.pairs}, "
          f"{seconds} s runs")
    print(f"{'workload':<16} {'metric':<13} {'parent median [q1, q3]':<28} "
          f"{'change median [q1, q3]':<28} {'wins':>6} {'spread':>7} {'bound':>6}  verdict")
    for w, r in report["workloads"].items():
        for name, row in r["metrics"].items():
            if "parent_quartiles" not in row:
                print(f"{w:<16} {name:<13} {row['verdict']}")
                continue
            def fmt(q):
                return f"{q[1]:.3f} [{q[0]:.3f}, {q[2]:.3f}]"
            print(f"{w:<16} {name:<13} {fmt(row['parent_quartiles']):<28} "
                  f"{fmt(row['change_quartiles']):<28} "
                  f"{row['change_wins']:>3}/{row['pairs']:<2} "
                  f"{row['parent_spread']:>7.1%} {row['bound']:>6.0%}  {row['verdict']}")
    for w, r in report["workloads"].items():
        for side, o in r["operations"].items():
            print(f"{w:<16} {side:<7} operations failed {o['failed']}/{o['attempted']}, "
                  f"runs without result {o['no_result']}/{o['runs']}, "
                  f"incorrect {o['incorrect']}")
        if r["change_failed_more"]:
            print(f"{w:<16} the change failed more runs or a larger share of "
                  f"operations than the parent: no gain")
    os.makedirs(AB_DIR, exist_ok=True)
    out = os.path.join(AB_DIR, f"report-{sha[:12]}-{time.strftime('%Y%m%dT%H%M%S')}.json")
    with open(out, "w") as f:
        json.dump(report, f, indent=1)
    print(f"[ab] report: {os.path.relpath(out, ROOT)}")
    return 0 if all_ok else 1


if __name__ == "__main__":
    sys.exit(main())
