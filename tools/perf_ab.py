#!/usr/bin/env python3
"""A/B the benchmark: alternating pairs of a base revision and this checkout.

    python3 tools/perf_ab.py --workload curation --pairs 10 --base HEAD~1 \
                             [--seed 1] [--trace 0]

Checks `--base` out into a git worktree under `.bench_ab/` (gitignored,
removed again at the end) and runs `perfbench/run.py` there and in this checkout, one pair per seed
(`--seed`, `--seed`+1, ...), with the same workload, seconds and trace
flag on both sides. The base runs first on even pairs and second on odd
ones, so a drift of the host over the session taxes both sides alike.

For every metric BENCHMARK.json lists for the chosen trace mode it prints
each side's median and quartiles, the pairs the change won and lost (an
exactly equal pair is a tie and counts for neither side), the same won/lost
split into base-first and change-first pairs (so an order effect, one side
favoured by running second, shows), and whether the gain rule holds: the
change wins at least nine tenths of ALL pairs run, and the medians differ,
in the better direction, by more than the distance between the base's own
quartiles. The raw results are kept in
`.bench_ab/ab-<workload>-<base>-<time>.json`.

The tool never writes under `perfbench/`; each checkout builds and runs its
own copy of the benchmark.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
AB_DIR = os.path.join(ROOT, ".bench_ab")
RUN_TIMEOUT_S = 1800


def summary(values):
    """(q1, median, q3) of a non-empty sample, quartiles by linear
    interpolation between ranks (numpy's default)."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, median, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, median, q3


def base_runs_first(pair):
    """The base runs first on even pairs, the change on odd ones."""
    return pair % 2 == 0


def tally(pairs, better):
    """(won, lost, tied) for the change over (base, change) value pairs;
    `better` is "higher" or "lower". A pair with a missing side (None, a
    failed run) is neither won, lost nor tied, but it still counts as run."""
    won = lost = tied = 0
    for base, change in pairs:
        if base is None or change is None:
            continue
        if change == base:
            tied += 1
        elif (change > base) == (better == "higher"):
            won += 1
        else:
            lost += 1
    return won, lost, tied


def tally_by_order(pairs, better):
    """((won, lost, tied) over base-first pairs, the same over change-first
    pairs): `tally` split by which side ran first (`base_runs_first`)."""
    return (tally([p for i, p in enumerate(pairs) if base_runs_first(i)], better),
            tally([p for i, p in enumerate(pairs) if not base_runs_first(i)], better))


def gain_holds(pairs, better):
    """The gain rule: the change wins at least nine tenths of all pairs run
    (ties and failed pairs count for neither side), and the medians differ
    in the better direction by more than the base's quartile distance."""
    won, _, _ = tally(pairs, better)
    base = [b for b, _ in pairs if b is not None]
    change = [c for _, c in pairs if c is not None]
    if not pairs or not base or not change or won < 0.9 * len(pairs):
        return False
    q1, base_med, q3 = summary(base)
    diff = summary(change)[1] - base_med
    if better == "lower":
        diff = -diff
    return diff > q3 - q1


def run_bench(checkout, workload, seed, seconds, trace):
    """One perfbench run in `checkout`: its result line, or None on failure."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    try:
        p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True,
                           timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print("  run timed out in %s" % checkout, file=sys.stderr)
        return None
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if p.returncode != 0 or not lines:
        print("  run failed in %s (exit %d): %s" % (checkout, p.returncode, p.stderr[-2000:]),
              file=sys.stderr)
        return None
    return json.loads(lines[-1])


def git(*args):
    return subprocess.run(["git"] + list(args), cwd=ROOT, check=True, capture_output=True,
                          text=True).stdout.strip()


def report(metric_specs, results):
    """Table rows, one per metric, from the per-pair (base, change) results."""
    rows = []
    for m in metric_specs:
        name, better = m["name"], m["better"]
        pairs = [(b["metrics"][name]["value"] if b else None,
                  c["metrics"][name]["value"] if c else None) for b, c in results]
        base = [v for v, _ in pairs if v is not None]
        change = [v for _, v in pairs if v is not None]
        if not base or not change:
            rows.append({"metric": name, "better": better, "pairs": len(pairs)})
            continue
        won, lost, tied = tally(pairs, better)
        base_first, change_first = tally_by_order(pairs, better)
        rows.append({"metric": name, "better": better, "pairs": len(pairs),
                     "base": summary(base), "change": summary(change),
                     "won": won, "lost": lost, "tied": tied,
                     "base_first": base_first, "change_first": change_first,
                     "gain": gain_holds(pairs, better)})
    return rows


def fmt(q):
    return "%.4g [%.4g, %.4g]" % (q[1], q[0], q[2])


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--base", required=True, help="git revision to compare against")
    ap.add_argument("--seed", type=int, default=1, help="seed of the first pair")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    metric_specs = spec["per_layer"] if args.trace else spec["end_to_end"]
    sha = git("rev-parse", "--verify", args.base + "^{commit}")
    base_dir = os.path.join(AB_DIR, sha[:12])
    os.makedirs(AB_DIR, exist_ok=True)
    git("worktree", "add", "--detach", base_dir, sha)
    results = []
    try:
        for i in range(args.pairs):
            seed = args.seed + i
            order = ["base", "change"] if base_runs_first(i) else ["change", "base"]
            got = {}
            for side in order:
                where = base_dir if side == "base" else ROOT
                print("pair %d/%d seed %d: %s" % (i + 1, args.pairs, seed, side), file=sys.stderr)
                got[side] = run_bench(where, args.workload, seed, spec["run_seconds"], args.trace)
            results.append((got["base"], got["change"]))
    finally:
        git("worktree", "remove", "--force", base_dir)

    rows = report(metric_specs, results)
    out = os.path.join(AB_DIR, "ab-%s-%s-%d.json" % (args.workload, sha[:12], int(time.time())))
    with open(out, "w") as f:
        json.dump({"workload": args.workload, "base": sha, "seed": args.seed,
                   "trace": args.trace, "results": results, "rows": rows}, f, indent=1)
    failed = sum(1 for b, c in results if b is None or c is None)
    print("%s, %d pairs (%d with a failed run), base %s, seeds %d-%d; median [q1, q3]"
          % (args.workload, len(results), failed, sha[:12], args.seed, args.seed + args.pairs - 1))
    print("| metric | better | base | change | change/base | won/lost/tied "
          "| base first won/lost | change first won/lost | gain rule |")
    print("|---|---|---|---|---|---|---|---|---|")
    for r in rows:
        if "base" not in r:
            print("| %s | %s | n/a | n/a | | | | | no |" % (r["metric"], r["better"]))
            continue
        ratio = r["change"][1] / r["base"][1] if r["base"][1] else float("nan")
        print("| %s | %s | %s | %s | %.3f | %d/%d/%d | %d/%d | %d/%d | %s |"
              % (r["metric"], r["better"], fmt(r["base"]), fmt(r["change"]), ratio,
                 r["won"], r["lost"], r["tied"], r["base_first"][0], r["base_first"][1],
                 r["change_first"][0], r["change_first"][1],
                 "holds" if r["gain"] else "no"))
    for side, k in (("base", 0), ("change", 1)):
        runs = [r[k] for r in results if r[k]]
        print("%s: failed operations %d of %d" % (side, sum(r["failed"] for r in runs),
                                                   sum(r["attempted"] for r in runs)))
    correct = all(b and c and b["correct"] and c["correct"] for b, c in results)
    print("all runs correct: %s; raw results: %s" % (correct, os.path.relpath(out, ROOT)))


if __name__ == "__main__":
    main()
