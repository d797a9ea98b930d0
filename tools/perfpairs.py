#!/usr/bin/env python3
"""Paired benchmark runs of a parent revision against the working tree.

Usage: python3 tools/perfpairs.py --parent REV --workload W --pairs N [--seed S]
       python3 tools/perfpairs.py --selftest

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
then the failed-operation counts. Paired statistics follow each
metric: the median of the per-pair change/parent ratios with a
distribution-free confidence interval on it (a pair of the ratios'
order statistics, from the binomial distribution of how many ratios
fall below the true median; its coverage is printed, since it moves in
steps with the number of pairs), and the exact two-sided sign-test
p-value of the pairs' wins against their losses (ties dropped), i.e.
how likely a split at least that uneven is when the change makes no
difference. The last column is the gain verdict, the rule a claimed
gain must meet: the change wins at least 9 of every 10 pairs, and its
median is better than the parent's by more than the parent's
interquartile range. --selftest checks these statistics on fixed
inputs.

Build outputs go to per-side cache directories under the system temp
directory, so nothing is written inside the repository; the exported
tree is removed on exit.
"""
import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile

RUN_TIMEOUT_S = 1200
MIN_PAIRS = 10
CI_LEVEL = 0.95
# a gain needs wins in at least GAIN_WINS of every GAIN_OF pairs
GAIN_WINS, GAIN_OF = 9, 10


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


def median_ratio(pairs):
    """Median of the per-pair change/parent ratios of (parent, change)
    values; pairs whose parent value is 0 have no ratio."""
    rs = [c / p for p, c in pairs if p != 0]
    return statistics.median(rs) if rs else float("nan")


def median_ci(xs, level=CI_LEVEL):
    """Distribution-free confidence interval on the median of `xs`:
    the order statistics (x(k), x(n+1-k)) for the largest k whose
    coverage, 1 - 2 P(Binomial(n, 1/2) < k), is still at least `level`.
    Returns (low, high, coverage), or None when even (min, max) covers
    less than `level` (fewer than 6 values at 95%)."""
    s, n = sorted(xs), len(xs)
    best = None
    for k in range(1, n // 2 + 1):
        cov = 1 - 2 * sum(math.comb(n, i) for i in range(k)) / 2 ** n
        if cov < level:
            break
        best = (s[k - 1], s[n - k], cov)
    return best


def is_gain(ps, cs, wins, lower):
    """The claimed-gain rule on parent values `ps` and change values
    `cs` of one metric: the change won at least GAIN_WINS of every
    GAIN_OF pairs, and its median beats the parent's by more than the
    parent's interquartile range."""
    if not ps or not cs:
        return False
    pm, cm = statistics.median(ps), statistics.median(cs)
    margin = pm - cm if lower else cm - pm
    return wins * GAIN_OF >= GAIN_WINS * len(ps) and margin > iqr(ps)


def sign_test_p(wins, losses):
    """Exact two-sided sign-test p-value of `wins` against `losses`: the
    probability, under a fair coin per pair, of a split at least as
    uneven as this one."""
    n = wins + losses
    if n == 0:
        return 1.0
    tail = sum(math.comb(n, i) for i in range(min(wins, losses) + 1))
    return min(1.0, 2 * tail / 2 ** n)


def selftest():
    assert median_ratio([(100, 50), (200, 150), (10, 10)]) == 0.75
    assert median_ratio([(4, 1), (2, 1)]) == 0.375
    assert math.isnan(median_ratio([(0, 1)]))
    assert sign_test_p(10, 0) == sign_test_p(0, 10) == 2 / 1024
    assert sign_test_p(9, 1) == 22 / 1024
    assert sign_test_p(8, 2) == 112 / 1024
    assert sign_test_p(5, 5) == 1.0
    assert sign_test_p(0, 0) == 1.0
    assert sign_test_p(3, 0) == 0.25
    # n = 10: P(B <= 1) = 11/1024, P(B <= 2) = 56/1024 > 2.5%
    assert median_ci(range(10, 0, -1)) == (2, 9, 1 - 22 / 1024)
    # n = 6: only (min, max) reaches 95% (1 - 2/64)
    assert median_ci([5, 1, 4, 2, 6, 3]) == (1, 6, 1 - 2 / 64)
    assert median_ci([1, 2, 3, 4, 5]) is None
    assert median_ci([0.5] * 10, level=0.99) == (0.5, 0.5, 1 - 2 / 1024)
    parent = [100, 102, 98, 101, 99, 100, 103, 97, 100, 100]
    assert iqr(parent) == 2.5
    fast = [95] * 10
    assert is_gain(parent, fast, 9, lower=True)
    assert not is_gain(parent, fast, 8, lower=True)      # 8/10 wins
    assert not is_gain(parent, [98.5] * 10, 10, lower=True)  # 1.5 <= IQR 2.5
    assert not is_gain(parent, [105] * 10, 10, lower=True)   # worse
    assert is_gain(parent, [105] * 10, 10, lower=False)
    assert is_gain(parent[:5], fast[:5], 5, lower=True)
    assert not is_gain(parent[:5], fast[:5], 4, lower=True)  # 4/5 < 9/10
    assert not is_gain([], [], 0, lower=True)
    print("perfpairs selftest: ok")


def report(bench, pairs):
    print(f"{'metric':<18}{'parent':>12}{'change':>12}{'parent IQR':>12}"
          f"{'wins':>8}{'ratio':>8}{'ratio CI':>26}{'sign p':>9}"
          f"  within bound{'':<16}gain")
    for m in bench["end_to_end"]:
        name, lower = m["name"], m["better"] == "lower"
        ps = [p["metrics"][name] for p, _ in pairs if name in p["metrics"]]
        cs = [c["metrics"][name] for _, c in pairs if name in c["metrics"]]
        if not ps or not cs:
            print(f"{name:<18}  missing from a side's results")
            continue
        pm, cm = statistics.median(ps), statistics.median(cs)
        both = [(p["metrics"][name], c["metrics"][name]) for p, c in pairs
                if name in p["metrics"] and name in c["metrics"]]
        wins = sum(1 for p, c in both if (c < p if lower else c > p))
        losses = sum(1 for p, c in both if (c > p if lower else c < p))
        limit = pm * (1 + m["bound"]) if lower else pm * (1 - m["bound"])
        ok = cm <= limit if lower else cm >= limit
        verdict = "yes" if ok else "NO"
        separated = max(cs) < min(ps) if lower else min(cs) > max(ps)
        if iqr(ps) > m["bound"] * pm and not separated:
            verdict = "unresolved"
        ci = median_ci([c / p for p, c in both if p != 0])
        ci_txt = (f"[{ci[0]:.3f}, {ci[1]:.3f}] {100 * ci[2]:.1f}%"
                  if ci else "n/a")
        bound_txt = f"{verdict} (bound {m['bound']})"
        gain = "yes" if is_gain(ps, cs, wins, lower) else "no"
        print(f"{name:<18}{pm:>12.1f}{cm:>12.1f}{iqr(ps):>12.1f}"
              f"{wins:>5}/{len(pairs):<2}{median_ratio(both):>8.3f}"
              f"{ci_txt:>26}{sign_test_p(wins, losses):>9.4f}  "
              f"{bound_txt:<28}{gain}")
    for side, k in (("parent", 0), ("change", 1)):
        att = sum(p[k]["attempted"] for p in pairs)
        bad = sum(p[k]["failed"] for p in pairs)
        print(f"failed ops {side}: {bad} of {att}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", help="revision to compare with")
    ap.add_argument("--workload")
    ap.add_argument("--pairs", type=int)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--selftest", action="store_true",
                    help="check the paired statistics on fixed inputs")
    a = ap.parse_args()
    if a.selftest:
        selftest()
        return
    if a.parent is None or a.workload is None or a.pairs is None:
        ap.error("--parent, --workload and --pairs are required")
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
