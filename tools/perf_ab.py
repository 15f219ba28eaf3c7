#!/usr/bin/env python3
"""Paired A/B of the perfbench benchmark: a parent revision against a change.

Usage (from anywhere inside the repository):

    python3 tools/perf_ab.py --base HEAD~1 --change HEAD \\
        --workload catalog_sync --pairs 10 --seed0 901 --seconds 10

Checks each revision out into its own `git worktree` under --workdir, each
with its own CARGO_TARGET_DIR (perfbench's build cache), then runs
`perfbench/run.py` N times on each side in alternating order (pair i runs
the parent first when i is even, the change first when i is odd). Pair i
uses seed seed0 + i on both sides. For every workload and metric it prints
each side's median and quartiles, and how many pairs the change won, ties
counting for neither side. A gain is claimed (GAIN) when the change wins at
least nine tenths of the pairs and the medians differ by more than the
parent's interquartile range. A loss is flagged the same way (LOSS). Every
end-to-end metric is also checked against its bound in BENCHMARK.json
(WORSE when the change's median is worse than the parent's by more than
the bound).

Raw runs go to --out as JSON lines, one per run. The worktrees are removed
at exit unless --keep (which lets a later call reuse their builds).
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def git(*args, cwd=None):
    return subprocess.run(["git", *args], cwd=cwd, check=True,
                          capture_output=True, text=True).stdout.strip()


def quartiles(xs):
    """(q1, median, q3) with the inclusive method; a single value repeats."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def directions(bench):
    """metric name -> ("lower"|"higher", bound or None)."""
    out = {m["name"]: (m["better"], m.get("bound")) for m in bench.get("per_layer", [])}
    out.update({m["name"]: (m["better"], m["bound"]) for m in bench["end_to_end"]})
    return out


def run_one(tree, target_dir, workload, seed, seconds, trace):
    env = dict(os.environ, CARGO_TARGET_DIR=target_dir)
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=tree, env=env, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        sys.stderr.write(p.stderr[-4000:])
        result = {"correct": False, "attempted": 1, "failed": 1, "metrics": {}}
    result["exit"] = p.returncode
    result["wall_s"] = round(time.time() - t0, 1)
    return result


def report(runs, bench):
    """Print one table per workload from the raw run records."""
    dirs = directions(bench)
    for wl in sorted({r["workload"] for r in runs}):
        pairs = {}
        for r in runs:
            if r["workload"] == wl:
                pairs.setdefault(r["pair"], {})[r["side"]] = r
        pairs = [p for _, p in sorted(pairs.items()) if len(p) == 2]
        if not pairs:
            continue
        print(f"\n== {wl}: {len(pairs)} pairs ==")
        fails = {s: sum(p[s]["failed"] for p in pairs) for s in ("base", "change")}
        tries = {s: sum(p[s]["attempted"] for p in pairs) for s in ("base", "change")}
        print(f"failed/attempted: base {fails['base']}/{tries['base']}, "
              f"change {fails['change']}/{tries['change']}")
        names = [n for n in pairs[0]["base"]["metrics"] if n in dirs]
        print(f"{'metric':26} {'base median [q1, q3]':>30} "
              f"{'change median [q1, q3]':>30} {'ratio':>6} {'wins':>6}  verdict")
        for n in names:
            better, bound = dirs[n]
            vals = [(p["base"]["metrics"].get(n, {}).get("value"),
                     p["change"]["metrics"].get(n, {}).get("value")) for p in pairs]
            vals = [(b, c) for b, c in vals if b is not None and c is not None]
            if not vals:
                continue
            bs, cs = [b for b, _ in vals], [c for _, c in vals]
            bq, cq = quartiles(bs), quartiles(cs)
            sign = 1 if better == "lower" else -1
            wins = sum(1 for b, c in vals if sign * (b - c) > 0)
            gap = sign * (bq[1] - cq[1])
            spread = bq[2] - bq[0]
            verdict = ""
            if wins * 10 >= 9 * len(vals) and gap > spread:
                verdict = "GAIN"
            elif (len(vals) - wins - sum(1 for b, c in vals if b == c)) * 10 >= 9 * len(vals) \
                    and -gap > spread:
                verdict = "LOSS"
            if bound is not None and bq[1] != 0 and -gap / abs(bq[1]) > bound:
                verdict = (verdict + " WORSE>bound").strip()
            ratio = f"{cq[1] / bq[1]:.3f}" if bq[1] else "-"
            fmt = lambda q: f"{q[1]:.4g} [{q[0]:.4g}, {q[2]:.4g}]"
            print(f"{n:26} {fmt(bq):>30} {fmt(cq):>30} {ratio:>6} "
                  f"{wins:>3}/{len(vals):<2}  {verdict}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", default="HEAD~1", help="parent revision")
    ap.add_argument("--change", default="HEAD", help="changed revision")
    ap.add_argument("--workload", action="append", required=True,
                    help="perfbench workload; repeat for several")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed0", type=int, required=True,
                    help="seed of pair 0; pair i uses seed0 + i")
    ap.add_argument("--seconds", type=float, default=None,
                    help="run length (default: run_seconds of BENCHMARK.json)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--workdir", default=None,
                    help="where the worktrees and build caches go "
                         "(default: a directory next to the repository)")
    ap.add_argument("--out", default=None, help="raw runs, JSON lines")
    ap.add_argument("--keep", action="store_true", help="keep the worktrees")
    a = ap.parse_args()

    repo = git("rev-parse", "--show-toplevel")
    with open(os.path.join(repo, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = a.seconds if a.seconds is not None else bench["run_seconds"]
    workdir = os.path.abspath(a.workdir or os.path.join(
        os.path.dirname(repo), os.path.basename(repo) + "-perf-ab"))
    os.makedirs(workdir, exist_ok=True)
    out_path = a.out or os.path.join(workdir, "runs.jsonl")
    sides = {}
    for side, rev in (("base", a.base), ("change", a.change)):
        tree = os.path.join(workdir, side)
        sha = git("rev-parse", rev, cwd=repo)
        if os.path.isdir(tree):
            git("checkout", "--detach", "--quiet", sha, cwd=tree)
        else:
            git("worktree", "add", "--detach", "--quiet", tree, sha, cwd=repo)
        sides[side] = (tree, os.path.join(workdir, f"target-{side}"), sha)
        print(f"{side}: {rev} = {sha[:12]}", file=sys.stderr)

    runs = []
    try:
        with open(out_path, "a") as out:
            for i in range(a.pairs):
                order = ("base", "change") if i % 2 == 0 else ("change", "base")
                for wl in a.workload:
                    for side in order:
                        tree, target, sha = sides[side]
                        r = run_one(tree, target, wl, a.seed0 + i, seconds, a.trace)
                        r.update(workload=wl, side=side, pair=i, seed=a.seed0 + i,
                                 sha=sha)
                        runs.append(r)
                        out.write(json.dumps(r) + "\n")
                        out.flush()
                        print(f"pair {i} {wl} {side}: exit {r['exit']}, "
                              f"{r['wall_s']} s", file=sys.stderr)
        report(runs, bench)
    finally:
        if not a.keep:
            for tree, _, _ in sides.values():
                subprocess.run(["git", "worktree", "remove", "--force", tree],
                               cwd=repo, capture_output=True)


if __name__ == "__main__":
    main()
