#!/usr/bin/env python3
"""Same-window A/B of fdrbench between a parent ref and the working tree.

    python3 tools/fdrbench_ab.py --parent <ref> [--pairs 10] [--seconds 10]
        [--workloads stream_catchup,lake_query] [--seed0 1]
        [--scratch DIR] [--parent-dir DIR] [--out FILE]

Run from anywhere inside the repository. The parent ref is checked out
into a detached `git worktree` under the scratch dir (a temporary dir
by default; the worktree is removed at exit). `--parent-dir` instead
uses an existing checkout of the parent, e.g. a `git clone`, and leaves
it in place. Each side runs `python3 fdrbench/run.py --workload W --seed
N --seconds S` from its own root, so each builds and runs its own
sources; the first run of a side pays its sbt build outside the timed
region.

For each workload, pair i runs both sides on seed `seed0 + i`, the
parent first when i is even and the change first when i is odd. For
every end-to-end metric of BENCHMARK.json the script prints each side's
median and quartiles, the pairs each side won (ties count for neither)
and a verdict:

  regression  the change's median is worse than the parent's by more
              than the metric's bound (a fraction of the parent median)
  unresolved  not a regression, but either side's interquartile range
              exceeds the bound, and not every change run beats every
              parent run
  gain        the change won >= 9/10 of all the pairs run (a pair in which
              either run reported nothing is not a win), the medians
              differ, in its favour, by more than the parent's
              interquartile range, and the change's share of failed
              operations is no larger than the parent's
  within      none of the above

It also reports each side's runs with `correct: false` and its share of
failed operations. The raw runs and the summary go to --out as JSON when
given. The script reads BENCHMARK.json and writes nothing under
fdrbench/ itself (run.py keeps its build and scratch there, git-ignored).
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def log(msg):
    print("[ab] " + msg, file=sys.stderr, flush=True)


def quartiles(xs):
    """(q1, median, q3) by the inclusive method; one value repeats."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def run_side(root, workload, seed, seconds):
    """One fdrbench run; its JSON result, or None when it printed none."""
    cmd = [sys.executable, "fdrbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds)]
    proc = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, text=True)
    lines = [l for l in proc.stdout.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or not lines:
        log("run failed (exit %d): %s in %s" % (proc.returncode, " ".join(cmd), root))
        return None
    return json.loads(lines[-1])


def verdict(metric, parent, change, pairs_run, more_failures):
    """The verdict on one metric from each side's values over the pairs
    in which both runs reported; `pairs_run` counts every pair run, and
    `more_failures` is whether the change failed a larger share of
    operations than the parent."""
    lower = metric["better"] == "lower"
    bound = metric["bound"]
    pq1, pmed, pq3 = quartiles(parent)
    cq1, cmed, cq3 = quartiles(change)

    def better(a, b):
        return a < b if lower else a > b

    wins = sum(better(c, p) for p, c in zip(parent, change))
    losses = sum(better(p, c) for p, c in zip(parent, change))
    scale = abs(pmed) or 1.0
    worse_by = (cmed - pmed if lower else pmed - cmed) / scale
    spread = max(pq3 - pq1, cq3 - cq1) / scale
    all_better = all(better(c, p) for c in change for p in parent)
    if worse_by > bound:
        v = "regression"
    elif spread > bound and not all_better:
        v = "unresolved"
    elif (wins >= 0.9 * pairs_run and not more_failures and better(cmed, pmed)
          and abs(cmed - pmed) > pq3 - pq1):
        v = "gain"
    else:
        v = "within"
    return {"parent": {"q1": pq1, "median": pmed, "q3": pq3},
            "change": {"q1": cq1, "median": cmed, "q3": cq3},
            "change_wins": wins, "parent_wins": losses, "pairs": pairs_run,
            "change_worse_by": worse_by, "spread": spread, "bound": bound,
            "verdict": v}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent", required=True, help="git ref of the parent commit")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seconds", type=int, default=None,
                    help="run length (default: BENCHMARK.json run_seconds)")
    ap.add_argument("--workloads", default=None,
                    help="comma-separated (default: every BENCHMARK.json workload)")
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--scratch", default=None, help="where the parent worktree goes")
    ap.add_argument("--parent-dir", default=None,
                    help="an existing checkout of the parent to use instead of a worktree")
    ap.add_argument("--out", default=None, help="write runs and summary here as JSON")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = args.seconds or bench["run_seconds"]
    workloads = (args.workloads.split(",") if args.workloads
                 else [w["name"] for w in bench["workloads"]])
    metrics = bench["end_to_end"]

    worktree = None
    if args.parent_dir:
        parent_root = os.path.abspath(args.parent_dir)
    else:
        scratch = args.scratch or tempfile.mkdtemp(prefix="fdrbench-ab-")
        sha = subprocess.run(["git", "-C", ROOT, "rev-parse", args.parent], check=True,
                             stdout=subprocess.PIPE, text=True).stdout.strip()
        worktree = os.path.join(os.path.abspath(scratch), "parent-" + sha[:12])
        subprocess.run(["git", "-C", ROOT, "worktree", "add", "--detach", worktree, sha],
                       check=True)
        parent_root = worktree
    sides = {"parent": parent_root, "change": ROOT}

    runs = {w: {"parent": [], "change": []} for w in workloads}
    try:
        for w in workloads:
            for i in range(args.pairs):
                seed = args.seed0 + i
                order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
                for side in order:
                    r = run_side(sides[side], w, seed, seconds)
                    log("%s pair %d seed %d %s: %s" % (w, i, seed, side, json.dumps(r)))
                    runs[w][side].append(r)
    finally:
        if worktree:
            subprocess.run(["git", "-C", ROOT, "worktree", "remove", "--force", worktree])
            shutil.rmtree(worktree, ignore_errors=True)

    summary = {}
    for w in workloads:
        # a pair counts only when both of its runs reported
        pairs = [(p, c) for p, c in zip(runs[w]["parent"], runs[w]["change"]) if p and c]
        summary[w] = {
            "pairs": len(pairs),
            "incorrect": {s: sum(1 for r in runs[w][s] if not r or not r["correct"])
                          for s in sides},
            "failed_share": {s: sum(r["failed"] for r in runs[w][s] if r) /
                             max(1, sum(r["attempted"] for r in runs[w][s] if r))
                             for s in sides},
            "metrics": {}}
        print("\n%s: %d pairs, incorrect runs parent %d / change %d, failed ops "
              "parent %.4f / change %.4f" % (
                  w, len(pairs), summary[w]["incorrect"]["parent"],
                  summary[w]["incorrect"]["change"], summary[w]["failed_share"]["parent"],
                  summary[w]["failed_share"]["change"]))
        print("%-22s %-33s %-33s %-9s %s" % ("metric", "parent q1 / median / q3",
                                             "change q1 / median / q3", "wins c:p",
                                             "verdict"))
        if not pairs:
            continue
        for m in metrics:
            vals = [(p["metrics"][m["name"]]["value"], c["metrics"][m["name"]]["value"])
                    for p, c in pairs]
            v = verdict(m, [p for p, _ in vals], [c for _, c in vals], args.pairs,
                        summary[w]["failed_share"]["change"] >
                        summary[w]["failed_share"]["parent"])
            summary[w]["metrics"][m["name"]] = v
            fmt = "%.4g / %.4g / %.4g"
            print("%-22s %-33s %-33s %-9s %s (worse by %+.1f%%, spread %.1f%%, bound %.0f%%)" % (
                m["name"],
                fmt % (v["parent"]["q1"], v["parent"]["median"], v["parent"]["q3"]),
                fmt % (v["change"]["q1"], v["change"]["median"], v["change"]["q3"]),
                "%d:%d" % (v["change_wins"], v["parent_wins"]), v["verdict"],
                100 * v["change_worse_by"], 100 * v["spread"], 100 * v["bound"]))
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"parent": args.parent, "seconds": seconds, "runs": runs,
                       "summary": summary}, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
