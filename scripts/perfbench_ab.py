#!/usr/bin/env python3
"""A/B two git revisions with perfbench in alternating pairs.

    python3 scripts/perfbench_ab.py --base HEAD~1 --change HEAD \\
        --workloads sparql_mix build_staged --pairs 10 --first-seed 20

Both revisions are checked out into temporary ``git worktree``s, which
are removed when the script ends. Pair ``i`` runs
``perfbench/run.py --workload W --seed <first-seed + i> --trace 0`` once
on each side, the base first in even pairs and the change first in odd
ones, so both sides of a pair see the same seed and, as far as the host
allows, the same host phase. Runs are sequential: never time anything
else on the host meanwhile.

For every end-to-end metric ``BENCHMARK.json`` declares, the report
gives each side's median and quartiles, the pairs the change won (ties
count for neither side), the base's interquartile range and a verdict:

- ``gain``: the change won at least 9/10 of the pairs run, its median is
  better than the base's by more than the base's IQR, and no more of its
  runs failed;
- ``regression``: the change's median is worse than the base's by more
  than the metric's ``bound`` (a fraction of the base median);
- ``unresolved``: not a regression, but the base's IQR exceeds the
  bound, and not every change run beats every base run;
- ``no regression``: otherwise.

Per-run results go to stdout as they finish (one JSON line each), the
report after them; ``--out`` also writes every run and the report as
JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def git(*args) -> str:
    return subprocess.run(["git", *args], cwd=ROOT, check=True,
                          capture_output=True, text=True).stdout.strip()


def run_once(tree: str, workload: str, seed: int, seconds: float) -> dict:
    """One ``--trace 0`` run in ``tree``: its end-to-end metrics, or
    ``failed`` with the reason."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=tree, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        tail = proc.stderr.strip().splitlines()[-3:]
        return {"failed": "exit %d: %s" % (proc.returncode, " | ".join(tail))}
    out = {k: v["value"] for k, v in result["metrics"].items()}
    if not result["correct"]:
        out["failed"] = "%d of %d checks failed" % (result["failed"],
                                                    result["attempted"])
    return out


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    return tuple(statistics.quantiles(xs, n=4, method="inclusive"))


def verdict(metric: dict, pairs: list) -> dict:
    """Compare one end-to-end metric over ``pairs`` of (base run,
    change run) by the rules in the module docstring."""
    name, bound = metric["name"], metric["bound"]
    sign = 1.0 if metric["better"] == "lower" else -1.0
    base = [b[name] for b, _ in pairs if name in b and "failed" not in b]
    change = [c[name] for _, c in pairs if name in c and "failed" not in c]
    row = {"metric": name, "unit": metric["unit"], "pairs": len(pairs),
           "base_failed": sum("failed" in b for b, _ in pairs),
           "change_failed": sum("failed" in c for _, c in pairs)}
    if not base or not change:
        return dict(row, verdict="unresolved (no successful runs)")
    bq, cq = quartiles(base), quartiles(change)
    wins = sum(1 for b, c in pairs
               if "failed" not in b and "failed" not in c
               and sign * (b[name] - c[name]) > 0)
    iqr = bq[2] - bq[0]
    rel = (cq[1] - bq[1]) / bq[1]  # change median vs base median
    if (wins >= 0.9 * len(pairs) and -sign * (cq[1] - bq[1]) > iqr
            and row["change_failed"] <= row["base_failed"]):
        v = "gain"
    elif sign * rel > bound:
        v = "regression"
    elif (iqr / bq[1] > bound
          and not all(sign * (b - c) > 0 for b in base for c in change)):
        v = "unresolved (base spread wider than the bound)"
    else:
        v = "no regression"
    return dict(row, base_quartiles=bq, change_quartiles=cq, wins=wins,
                base_iqr=iqr, change_vs_base=rel,
                bound=bound, verdict=v)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", required=True, help="parent revision")
    ap.add_argument("--change", default="HEAD", help="revision under test")
    ap.add_argument("--workloads", nargs="+", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=None,
                    help="run length; default: BENCHMARK.json run_seconds")
    ap.add_argument("--out", help="also write runs and report to this JSON")
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = args.seconds or bench["run_seconds"]
    revs = {side: git("rev-parse", "--verify", rev + "^{commit}")
            for side, rev in (("base", args.base), ("change", args.change))}

    tmp = tempfile.mkdtemp(prefix="perfbench-ab-")
    trees = {}
    runs = []
    try:
        for side, sha in revs.items():
            trees[side] = os.path.join(tmp, side)
            git("worktree", "add", "--detach", trees[side], sha)
        for i in range(args.pairs):
            seed = args.first_seed + i
            order = ("base", "change") if i % 2 == 0 else ("change", "base")
            for wl in args.workloads:
                for side in order:
                    r = dict(run_once(trees[side], wl, seed, seconds),
                             side=side, workload=wl, seed=seed, pair=i)
                    runs.append(r)
                    print(json.dumps(r), flush=True)
    finally:
        for tree in trees.values():
            subprocess.run(["git", "worktree", "remove", "--force", tree],
                           cwd=ROOT, capture_output=True)
        git("worktree", "prune")
        shutil.rmtree(tmp, ignore_errors=True)

    report = []
    for wl in args.workloads:
        by_pair = {}
        for r in runs:
            if r["workload"] == wl:
                by_pair.setdefault(r["pair"], {})[r["side"]] = r
        pairs = [(p["base"], p["change"]) for _, p in sorted(by_pair.items())
                 if len(p) == 2]
        for metric in bench["end_to_end"]:
            report.append(dict(verdict(metric, pairs), workload=wl))

    print("# base %s, change %s, %d pairs, seeds %d-%d, %.0f s runs"
          % (revs["base"][:10], revs["change"][:10], args.pairs,
             args.first_seed, args.first_seed + args.pairs - 1, seconds))
    for r in report:
        if "base_quartiles" not in r:
            print("%-13s %-14s %s" % (r["workload"], r["metric"],
                                      r["verdict"]))
            continue
        print("%-13s %-14s base %s  change %s  %+.1f%%  wins %d/%d  "
              "base IQR %.4g  failed %d/%d  -> %s"
              % (r["workload"], r["metric"],
                 "/".join("%.4g" % q for q in r["base_quartiles"]),
                 "/".join("%.4g" % q for q in r["change_quartiles"]),
                 100 * r["change_vs_base"], r["wins"], r["pairs"],
                 r["base_iqr"], r["base_failed"], r["change_failed"],
                 r["verdict"]))
    if args.out:
        with open(args.out, "w") as fh:
            json.dump({"revisions": revs, "runs": runs, "report": report},
                      fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
