#!/usr/bin/env python3
"""Alternating parent/change A/B pairs of perfbench/run.py.

Usage (from the repository root):

    python3 tools/ab_pairs.py --parent REV_OR_DIR --change REV_OR_DIR \\
        --workload marketing_serve [--workload corpus_batch] \\
        --seeds 11-20 [--seconds 15] [--trace 0] [--workdir DIR]

Each side is either an existing checkout directory or a git revision of
this repository. A revision is checked out into its own standalone
`git clone --shared` under --workdir (default: a fresh temp dir), so the
source repository gets no worktree metadata and the copy can be removed
with `rm -rf`. Pair i runs seed i on both sides, parent first on even
pairs and change first on odd ones, so drift on the host hits both sides
alike.

Every run prints one line with its correct/failed result and its
end-to-end metrics. The summary follows the pairs rule for small hosts:
for each workload and end-to-end metric (and each per-layer metric when
--trace 1), each side's median and quartiles, and change-wins/N with
ties counting for neither side. A metric reads as a gain only over at
least ten pairs, when the change wins at least nine tenths of them and
the medians differ by more than the parent's interquartile range; the relative change is
printed next to the metric's bound from BENCHMARK.json.

The summary also prints each side's spread of `attempted` (the operations one timed window
completed) and lists the pairs whose sides attempted a different number of fewer than ten
operations, as corpus_batch's few runs do. Over so few runs the first, cold one weighs on
every metric: with two runs against three, one side's p50 is the mean of a cold and a warm
run while the other's is a warm run.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FEW_RUNS = 10  # below this many operations per run, one cold operation moves the metrics


def seeds_arg(text):
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def checkout(spec, workdir, label):
    """An existing directory as is; a revision as a shared clone."""
    if os.path.isdir(spec):
        return os.path.abspath(spec)
    dest = os.path.join(workdir, label)
    subprocess.run(["git", "clone", "--quiet", "--shared", "--no-checkout", ROOT, dest],
                   check=True)
    subprocess.run(["git", "-C", dest, "checkout", "--quiet", "--detach", spec], check=True)
    return dest


def run_once(tree, workload, seed, seconds, trace):
    """(result line, run record) of one run; empty dicts if it broke."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    try:
        return json.loads(lines[-1]), json.loads(lines[-2])
    except (IndexError, ValueError):
        sys.stderr.write(p.stderr[-2000:])
        return {}, {}


def values(record):
    """name -> value over the record's end-to-end and per-layer metrics."""
    out = {}
    for section in ("end_to_end", "per_layer"):
        for name, m in record.get(section, {}).items():
            out[name] = m["value"]
    return out


def quartiles(xs):
    if len(xs) < 2:
        return (xs[0], xs[0], xs[0]) if xs else (float("nan"),) * 3
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def report_attempted(attempted):
    """Each side's spread of attempted operations, and the pairs of few operations
    where the sides differ."""
    for side in ("parent", "change"):
        xs = [x for x in attempted[side] if x is not None]
        if xs:
            print(f"  attempted {side:<6} min {min(xs)} median {statistics.median(xs):g} "
                  f"max {max(xs)}")
    uneven = [f"{i + 1} ({p} vs {c})"
              for i, (p, c) in enumerate(zip(attempted["parent"], attempted["change"]))
              if p is not None and c is not None and p != c and min(p, c) < FEW_RUNS]
    if uneven:
        print(f"  UNEVEN RUNS: pairs {', '.join(uneven)} (parent vs change attempted); "
              "their per-run means mix cold and warm runs unequally")


def report(metric, better, bound, pairs):
    """One summary line; pairs holds (parent value, change value)."""
    both = [(a, b) for a, b in pairs if a is not None and b is not None]
    if not both:
        print(f"  {metric}: no complete pair")
        return
    par = [a for a, _ in both]
    chg = [b for _, b in both]
    pq1, pm, pq3 = quartiles(par)
    cq1, cm, cq3 = quartiles(chg)
    sign = -1 if better == "lower" else 1
    wins = sum(1 for a, b in both if sign * (b - a) > 0)
    rel = (cm - pm) / pm if pm else float("nan")
    gain = (len(both) >= 10 and wins * 10 >= 9 * len(both)
            and sign * (cm - pm) > (pq3 - pq1))
    worse = bound is not None and sign * rel < -bound
    verdict = "GAIN" if gain else ("WORSE THAN BOUND" if worse else "-")
    bound_s = f" bound {bound:.2f}" if bound is not None else ""
    print(f"  {metric:<40} parent {pm:.4g} [{pq1:.4g}, {pq3:.4g}]  "
          f"change {cm:.4g} [{cq1:.4g}, {cq3:.4g}]  {rel:+.1%}{bound_s}  "
          f"change wins {wins}/{len(both)}  {verdict}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", action="append", required=True)
    ap.add_argument("--seeds", type=seeds_arg, required=True, help="e.g. 11-20 or 3,5,7")
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--workdir")
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = a.seconds if a.seconds is not None else bench["run_seconds"]
    workdir = a.workdir or tempfile.mkdtemp(prefix="ab_pairs_")
    os.makedirs(workdir, exist_ok=True)
    trees = {"parent": checkout(a.parent, workdir, "parent"),
             "change": checkout(a.change, workdir, "change")}
    metrics = [(m["name"], m["better"], m.get("bound")) for m in bench["end_to_end"]]
    if a.trace == "1":
        metrics += [(m["name"], m["better"], None) for m in bench["per_layer"]]

    for w in a.workload:
        runs = {"parent": [], "change": []}
        attempted = {"parent": [], "change": []}
        for i, seed in enumerate(a.seeds):
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            for side in order:
                result, record = run_once(trees[side], w, seed, seconds, a.trace)
                vals = values(record)
                runs[side].append(vals)
                attempted[side].append(result.get("attempted"))
                e2e = " ".join(f"{m['name']}={vals[m['name']]:.4g}"
                               for m in bench["end_to_end"] if m["name"] in vals)
                print(f"{w} pair {i + 1}/{len(a.seeds)} seed {seed} {side:<6} "
                      f"correct={result.get('correct', 'missing')} "
                      f"failed={result.get('failed', 'missing')}/"
                      f"{result.get('attempted', '?')} {e2e}", flush=True)
        print(f"{w}: median [q1, q3] over {len(a.seeds)} pairs")
        report_attempted(attempted)
        for name, better, bound in metrics:
            pairs = [(p.get(name), c.get(name)) for p, c in zip(runs["parent"], runs["change"])]
            if any(v for pair in pairs for v in pair):  # skip all-zero counters
                report(name, better, bound, pairs)
    print(f"checkouts: parent {trees['parent']}  change {trees['change']}")


if __name__ == "__main__":
    main()
