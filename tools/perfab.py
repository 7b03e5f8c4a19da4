#!/usr/bin/env python3
"""Alternating same-seed A/B runs of one perfbench workload: a base git
ref against the working tree.

Usage (from the repository root):

    python3 tools/perfab.py <base-ref> --workload events_stream \\
        [--pairs 5] [--seed 3] [--seconds 12] [--trace 0] [--out ab.json]

The base ref's committed files are extracted with `git archive` into
target/perfab/<sha> (reused when already there). Both sides are built
first (perfbench/run.py's own build step), so no measured run pays a
compile. Then --pairs pairs of `perfbench/run.py` runs with the same
seed on both sides; which side runs first alternates from pair to pair,
so a drift of the host over the session does not favour one side.

A run that exits non-zero, is not correct or has failed operations
counts as failed: it enters no pair, and any failed run makes the exit
code 1.

Prints, per metric: the median of each side, the change/base ratio of
the medians, each pair's change/base ratio, how many pairs the change
won (direction from BENCHMARK.json), and each side's spread as
IQR / median. --out also writes every run's metrics as JSON.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def extract(ref):
    """The committed files of `ref` under target/perfab/<sha>."""
    sha = subprocess.run(["git", "rev-parse", "--verify", f"{ref}^{{commit}}"], cwd=ROOT,
                         capture_output=True, text=True, check=True).stdout.strip()
    d = os.path.join(ROOT, "target", "perfab", sha)
    if not os.path.isdir(d):
        tmp = d + ".partial"
        subprocess.run(["rm", "-rf", tmp], check=True)
        os.makedirs(tmp)
        archive = subprocess.Popen(["git", "archive", sha], cwd=ROOT, stdout=subprocess.PIPE)
        subprocess.run(["tar", "-x", "-C", tmp], stdin=archive.stdout, check=True)
        if archive.wait() != 0:
            sys.exit(f"perfab: git archive {sha} failed")
        os.rename(tmp, d)
    return sha, d


def build(side_dir):
    """perfbench/run.py's own build step, outside any measured run."""
    code = ("import sys; sys.path.insert(0, 'perfbench'); import run; "
            "run.build(run.spark_jars())")
    subprocess.run([sys.executable, "-c", code], cwd=side_dir, check=True)


def run_once(side_dir, a):
    """One perfbench run: its metrics as {name: value} plus the host's
    steal share during the run (`host_steal_share`), or None when the run
    failed, was incorrect or had failed operations."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace)]
    p = subprocess.run(cmd, cwd=side_dir, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-2000:])
        return None
    res = json.loads(lines[-1])
    if not res["correct"] or res["failed"]:
        checks = "; ".join(l for l in lines if l.startswith("FAILED "))
        print(f"  incorrect run in {side_dir}: correct={res['correct']} "
              f"failed={res['failed']} {checks}", flush=True)
        return None
    out = {k: m["value"] for k, m in res["metrics"].items()}
    result_file = os.path.join(side_dir, "perfbench", "results",
                               f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    out["host_steal_share"] = json.load(open(result_file))["info"]["host_steal_share"]
    return out


def spread(xs):
    """IQR / median (inclusive quartiles); 0 for fewer than two values."""
    if len(xs) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    med = statistics.median(xs)
    return (q3 - q1) / med if med else float("nan")


def directions():
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    return {m["name"]: m["better"] for m in bench["end_to_end"] + bench["per_layer"]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("base")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=5)
    ap.add_argument("--seed", type=int, default=3)
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out")
    a = ap.parse_args()

    sha, base_dir = extract(a.base)
    sides = {"base": base_dir, "change": ROOT}
    for d in sides.values():
        build(d)
    runs = {"base": [], "change": []}
    for i in range(a.pairs):
        order = ("base", "change") if i % 2 == 0 else ("change", "base")
        for side in order:
            m = run_once(sides[side], a)
            runs[side].append(m)
            shown = "FAILED" if m is None else " ".join(
                f"{k}={m[k]:.4g}" for k in sorted(m)
                if k in ("latency_p50_ms", "items_per_s", "host_steal_share"))
            print(f"pair {i + 1}/{a.pairs} {side}: {shown}", flush=True)

    pairs = [(b, c) for b, c in zip(runs["base"], runs["change"]) if b and c]
    failed = {s: sum(r is None for r in rs) for s, rs in runs.items()}
    print(f"\n{a.workload} seed={a.seed} seconds={a.seconds} trace={a.trace}: "
          f"base {a.base} ({sha[:10]}) vs working tree, {len(pairs)} complete pairs, "
          f"failed runs base={failed['base']} change={failed['change']}")
    better = directions()
    names = sorted(set().union(*(b.keys() & c.keys() for b, c in pairs))) if pairs else []
    print(f"{'metric':<40} {'base med':>11} {'change med':>11} {'ratio':>7} {'won':>5} "
          f"{'base sprd':>9} {'chg sprd':>9}  per-pair change/base")
    summary = {}
    for k in names:
        bs = [b[k] for b, _ in pairs]
        cs = [c[k] for _, c in pairs]
        ratios = [c / b if b else float("nan") for b, c in zip(bs, cs)]
        bm, cm = statistics.median(bs), statistics.median(cs)
        lower = better.get(k, "lower") == "lower"
        won = sum((c < b) if lower else (c > b) for b, c in zip(bs, cs))
        summary[k] = {"base_median": bm, "change_median": cm,
                      "ratio": cm / bm if bm else None, "pair_ratios": ratios,
                      "change_won": won, "better": "lower" if lower else "higher",
                      "base_spread": spread(bs), "change_spread": spread(cs)}
        print(f"{k:<40} {bm:>11.5g} {cm:>11.5g} {summary[k]['ratio'] or float('nan'):>7.3f} "
              f"{won:>2}/{len(pairs):<2} {spread(bs):>9.3f} {spread(cs):>9.3f}  "
              + " ".join(f"{r:.3f}" for r in ratios))
    if a.out:
        with open(a.out, "w") as fh:
            json.dump({"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                       "trace": a.trace, "base": a.base, "base_sha": sha,
                       "runs": runs, "metrics": summary}, fh, indent=1)
    sys.exit(1 if any(failed.values()) else 0)


if __name__ == "__main__":
    main()
