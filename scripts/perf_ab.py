#!/usr/bin/env python3
"""A/B benchmark of a change against a parent commit, in alternating pairs.

    python3 scripts/perf_ab.py --workload etl_ticks --pairs 10 --seed0 901
    python3 scripts/perf_ab.py --workload etl_ticks --base HEAD~1 --trace 1

Exports the base revision (default HEAD) with `git archive` into a temp
directory, and runs `perfbench/run.py` for one workload N times on each
side: pair i uses seed seed0+i on both sides, and the side that goes first
alternates from pair to pair so that a drift in the host's speed falls on
both sides alike. The change side is the working tree. Every run lasts
BENCHMARK.json's `run_seconds`. Runs go one at a time.

Prints one line per run, then for every end-to-end metric in BENCHMARK.json
each side's median and quartiles, the change's median delta, the number of
pairs the change won (by the metric's "better" direction) out of all pairs
run, and a verdict: "gain" when the change won at least 9 in 10 pairs and
its median beats the base's by more than the base's interquartile range;
"worse than bound" when its median is worse by more than the metric's
bound; "unresolved" when any run failed or reported incorrect output, or
the base's own spread exceeds the bound; else "within bound". A run with
incorrect output counts as a failed run: its pair is not won, and its
figures enter no median. Then each side's failed/attempted ops and
incorrect runs. Exits 1 when a run fails or reports incorrect output.

When the runs' context lines carry per-statement-kind latencies
(`phases_s.p50_latency.<kind>`, as `bi_dashboard` runs do), it then prints,
for each kind, each side's median of the runs' p50 latencies, the change's
median delta and the pairs the change won, so a change shows which kinds
of statement moved.

Each run's line also carries the VM's CPU steal during the run (the
`cpu_share.steal` of its context line), and a pair where either side ran
at more than 5% steal is marked, in its own line and in the summary: its
figures may measure the host rather than the change. Marked pairs still
count toward the verdict.
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
STEAL_MARK = 0.05
KIND_PREFIX = "p50_latency."


def export(rev, dest):
    """Write the tree of `rev` into `dest` with git archive."""
    os.makedirs(dest)
    archive = subprocess.Popen(["git", "-C", ROOT, "archive", rev], stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", dest], stdin=archive.stdout, check=True)
    if archive.wait() != 0:
        sys.exit(f"git archive {rev} failed")


def run_one(tree, workload, seed, seconds, trace):
    """One perfbench run in `tree`; returns its result JSON, or None."""
    res = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=tree, capture_output=True, text=True)
    lines = res.stdout.strip().splitlines()
    if res.returncode != 0 or len(lines) < 2:
        sys.stderr.write(res.stderr[-2000:])
        return None
    return dict(json.loads(lines[-1]), context=json.loads(lines[-2])["context"])


def steal(run):
    """The CPU steal share during a run, or None when it was not measured."""
    return ((run or {}).get("context", {}).get("cpu_share") or {}).get("steal")


def kind_latencies(run):
    """A run's p50 latency per statement kind, from its context line."""
    phases = (run or {}).get("context", {}).get("phases_s") or {}
    return {k[len(KIND_PREFIX):]: v for k, v in phases.items() if k.startswith(KIND_PREFIX)}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=901)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--base", default="HEAD", help="parent revision (default HEAD)")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    end_to_end, seconds = bench["end_to_end"], bench["run_seconds"]
    tmp = tempfile.mkdtemp(prefix="perf_ab_")
    try:
        trees = {"base": os.path.join(tmp, "base"), "change": ROOT}
        export(args.base, trees["base"])
        runs = {"base": [], "change": []}
        marked = []
        ok = True
        for i in range(args.pairs):
            seed = args.seed0 + i
            order = ("base", "change") if i % 2 == 0 else ("change", "base")
            for side in order:
                r = run_one(trees[side], args.workload, seed, seconds, args.trace)
                runs[side].append(r)
                if r is None:
                    ok = False
                    print(f"pair {i + 1} seed {seed} {side:6}: run failed", flush=True)
                    continue
                ok = ok and r["correct"]
                vals = " ".join(f"{m['name']}={r['metrics'][m['name']]['value']:.3f}"
                                for m in end_to_end if m["name"] in r["metrics"])
                st = steal(r)
                print(f"pair {i + 1} seed {seed} {side:6}: {vals} "
                      f"failed={r['failed']}/{r['attempted']} correct={r['correct']} "
                      f"steal={'n/a' if st is None else f'{st:.1%}'}", flush=True)
            if any((steal(runs[side][-1]) or 0) > STEAL_MARK for side in order):
                marked.append(i + 1)
                print(f"pair {i + 1} seed {seed}: steal above {STEAL_MARK:.0%} "
                      "on at least one side", flush=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    print(f"\n{args.workload}: {args.pairs} pairs, --seconds {seconds}, "
          f"seeds {args.seed0}-{args.seed0 + args.pairs - 1}, base {args.base}, "
          "change working tree")
    print(f"{'metric':10} {'base median [q1-q3]':>26} {'change median [q1-q3]':>26} "
          f"{'delta':>7} {'wins':>6}  verdict")
    correct = [(b, c) for b, c in zip(runs["base"], runs["change"])
               if b and c and b["correct"] and c["correct"]]
    for m in end_to_end:
        name, lower = m["name"], m["better"] == "lower"
        pairs = [(b["metrics"][name]["value"], c["metrics"][name]["value"])
                 for b, c in correct if name in b["metrics"] and name in c["metrics"]]
        if not pairs:
            continue
        base, change = [b for b, _ in pairs], [c for _, c in pairs]
        bq, cq = quartiles(base), quartiles(change)
        wins = sum(1 for b, c in pairs if (c < b if lower else c > b))
        gain = (bq[1] - cq[1]) if lower else (cq[1] - bq[1])
        all_better = (max(change) < min(base)) if lower else (min(change) > max(base))
        if len(pairs) < args.pairs:
            verdict = "unresolved (failed or incorrect runs)"
        elif wins >= 0.9 * args.pairs and gain > bq[2] - bq[0]:
            verdict = "gain"
        elif -gain / bq[1] > m["bound"]:
            verdict = "worse than bound"
        elif (bq[2] - bq[0]) / bq[1] > m["bound"] and not all_better:
            verdict = "unresolved (base spread above bound)"
        else:
            verdict = "within bound"
        print(f"{name:10} {bq[1]:9.3f} [{bq[0]:.3f}-{bq[2]:.3f}] "
              f"{cq[1]:9.3f} [{cq[0]:.3f}-{cq[2]:.3f}] "
              f"{(cq[1] - bq[1]) / bq[1]:+7.1%} {wins:>2}/{args.pairs}  {verdict}")
    by_kind = [(kind_latencies(b), kind_latencies(c)) for b, c in correct]
    kinds = sorted({k for b, c in by_kind for k in b.keys() & c.keys()})
    if kinds:
        print("\np50 latency per statement kind (s; the median of the runs' p50s)")
        width = max(10, *map(len, kinds))
        print(f"{'kind':{width}} {'base':>9} {'change':>9} {'delta':>7} {'wins':>6}")
        for kind in kinds:
            pairs = [(b[kind], c[kind]) for b, c in by_kind if kind in b and kind in c]
            bm = statistics.median(b for b, _ in pairs)
            cm = statistics.median(c for _, c in pairs)
            wins = sum(1 for b, c in pairs if c < b)
            print(f"{kind:{width}} {bm:9.3f} {cm:9.3f} {(cm - bm) / bm:+7.1%} {wins:>2}/{len(pairs)}")
    print(f"pairs with steal above {STEAL_MARK:.0%}: "
          f"{', '.join(map(str, marked)) if marked else 'none'}")
    for side in ("base", "change"):
        done = [r for r in runs[side] if r]
        print(f"{side}: failed ops {sum(r['failed'] for r in done)}/"
              f"{sum(r['attempted'] for r in done)}, runs failed "
              f"{len(runs[side]) - len(done)}, runs incorrect "
              f"{sum(1 for r in done if not r['correct'])}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
