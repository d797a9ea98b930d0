#!/usr/bin/env python3
"""Paired benchmark runs of a parent revision against the working tree.

Usage: python3 tools/perfpairs.py --parent REV --workload W --pairs N [--seed S]

REV is exported (git archive) into a temporary directory outside the
repository. Fewer than ten pairs prints a warning: the workloads' own
run-to-run spread is too wide for fewer to resolve a bound or a gain.
Each pair runs BENCHMARK.json's command (perfbench/run.py, --trace 0) once
in that tree and once in the working tree, alternating which side runs
first. The last stdout line of every run is its JSON result. For each
gated metric of BENCHMARK.json the report gives both medians, the
parent's interquartile range, how many pairs the change won (ties count
for neither side), and whether the change's median is within the
metric's bound of the parent's: "yes" or "NO", or "unresolved" when the
parent's interquartile range is wider than the bound times the parent's
median, so run-to-run spread cannot tell the two apart (unless every
change run is better than every parent run, when the verdict stands);
then the failed-operation counts.

Build outputs go to per-side cache directories under the system temp
directory, so nothing is written inside the repository; the exported
tree is removed on exit.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile

RUN_TIMEOUT_S = 1200
MIN_PAIRS = 10


def git(root, *args):
    return subprocess.run(["git", "-C", root] + list(args), check=True,
                          capture_output=True, text=True).stdout.strip()


def run(tree, cache, bench, workload, seed):
    """One benchmark run in `tree`: its JSON result, or None if it failed."""
    cmd = bench["command"] + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(bench["run_seconds"]),
                              "--trace", "0"]
    env = dict(os.environ, CARGO_TARGET_DIR=cache)
    p = subprocess.Popen(cmd, cwd=tree, env=env, stdout=subprocess.PIPE,
                         stderr=subprocess.PIPE, text=True)
    try:
        out, err = p.communicate(timeout=RUN_TIMEOUT_S)
    except BaseException as e:
        # SIGINT makes run.py stop its JVM before it exits
        p.send_signal(signal.SIGINT)
        p.wait()
        if isinstance(e, subprocess.TimeoutExpired):
            return None
        raise
    try:
        res = json.loads(out.strip().splitlines()[-1])
    except (IndexError, ValueError):
        sys.stderr.write(err[-2000:])
        return None
    # gated metrics print as {"value": v, "unit": u}
    res["metrics"] = {k: v["value"] if isinstance(v, dict) else v
                      for k, v in res["metrics"].items()}
    return res


def iqr(xs):
    if len(xs) < 2:
        return 0.0
    q = statistics.quantiles(xs, n=4)
    return q[2] - q[0]


def report(bench, pairs):
    print(f"{'metric':<18}{'parent':>12}{'change':>12}{'parent IQR':>12}"
          f"{'wins':>8}  within bound")
    for m in bench["end_to_end"]:
        name, lower = m["name"], m["better"] == "lower"
        ps = [p["metrics"][name] for p, _ in pairs if name in p["metrics"]]
        cs = [c["metrics"][name] for _, c in pairs if name in c["metrics"]]
        if not ps or not cs:
            print(f"{name:<18}  missing from a side's results")
            continue
        pm, cm = statistics.median(ps), statistics.median(cs)
        wins = sum(1 for p, c in pairs
                   if name in p["metrics"] and name in c["metrics"] and
                   (c["metrics"][name] < p["metrics"][name] if lower
                    else c["metrics"][name] > p["metrics"][name]))
        limit = pm * (1 + m["bound"]) if lower else pm * (1 - m["bound"])
        ok = cm <= limit if lower else cm >= limit
        verdict = "yes" if ok else "NO"
        separated = max(cs) < min(ps) if lower else min(cs) > max(ps)
        if iqr(ps) > m["bound"] * pm and not separated:
            verdict = "unresolved"
        print(f"{name:<18}{pm:>12.1f}{cm:>12.1f}{iqr(ps):>12.1f}"
              f"{wins:>5}/{len(pairs):<2}  {verdict} (bound {m['bound']})")
    for side, k in (("parent", 0), ("change", 1)):
        att = sum(p[k]["attempted"] for p in pairs)
        bad = sum(p[k]["failed"] for p in pairs)
        print(f"failed ops {side}: {bad} of {att}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", required=True, help="revision to compare with")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()
    if a.pairs < MIN_PAIRS:
        print(f"warning: --pairs {a.pairs} < {MIN_PAIRS}: the run-to-run "
              "spread of these workloads needs at least ten pairs to "
              "resolve a bound or a gain", file=sys.stderr, flush=True)
    root = git(os.path.dirname(os.path.abspath(__file__)),
               "rev-parse", "--show-toplevel")
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    rev = git(root, "rev-parse", "--verify", a.parent + "^{commit}")
    caches = os.path.join(tempfile.gettempdir(), "perfpairs")
    tmp = tempfile.mkdtemp(prefix="perfpairs-")
    tree = os.path.join(tmp, "parent")
    # SIGTERM unwinds through the finally below like Ctrl-C does
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        os.makedirs(tree)
        archive = subprocess.Popen(["git", "-C", root, "archive", rev],
                                   stdout=subprocess.PIPE)
        subprocess.run(["tar", "-x", "-C", tree], stdin=archive.stdout,
                       check=True)
        if archive.wait() != 0:
            sys.exit(f"git archive {rev} failed")
        sides = {"parent": tree, "change": root}
        pairs, runs_failed = [], 0
        for i in range(a.pairs):
            order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
            got = {s: run(sides[s], os.path.join(caches, s), bench,
                          a.workload, a.seed) for s in order}
            if got["parent"] is None or got["change"] is None:
                runs_failed += 1
                print(f"pair {i + 1}: a run failed "
                      f"(parent {got['parent'] is not None}, "
                      f"change {got['change'] is not None})", flush=True)
                continue
            pairs.append((got["parent"], got["change"]))
            vals = {s: " ".join(f"{m['name']}={got[s]['metrics'].get(m['name'], 0):.1f}"
                                for m in bench["end_to_end"]) for s in order}
            print(f"pair {i + 1} ({order[0]} first): parent {vals['parent']} | "
                  f"change {vals['change']}", flush=True)
        print(f"== {a.workload} seed {a.seed}: parent {rev[:12]} vs working "
              f"tree, {len(pairs)} pairs, {runs_failed} pairs with a failed run")
        if pairs:
            report(bench, pairs)
        sys.exit(1 if runs_failed else 0)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
