#!/usr/bin/env python3
"""Compare two checkouts on the benchmark in alternating pairs.

    python3 tools/ab_pairs.py --parent <dir> --change <dir> --workload flagship
        [--seeds 401-410] [--seconds 5] [--trace 0] [--out runs.jsonl]

Runs `python3 perfbench/run.py` once per seed in each checkout, the two
sides alternating which goes first (parent first on even pairs, change
first on odd ones), so drift over the session lands on both sides. Then
prints, per metric: the median of each side, change/parent, the quartile
spread (IQR / median) of each side, and in how many pairs the change was
better. An end-to-end metric whose change median is worse than the
parent's by more than its bound in BENCHMARK.json (read, never written) is
flagged `OUT`; a run that fails or is not `correct` is listed. `--out`
appends every run's result as one JSON line.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds_of(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run(checkout, workload, seed, seconds, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", trace]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
    except json.JSONDecodeError:
        result = None
    if result is None:
        sys.stderr.write(proc.stderr[-2000:])
    return result


def iqr_ratio(xs, median):
    """Interquartile range over the median; 0 for fewer than two values."""
    xs = sorted(xs)
    if len(xs) < 2 or not median:
        return 0.0
    q1, _, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return (q3 - q1) / median


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="401-410")
    ap.add_argument("--seconds", default="5")
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    ap.add_argument("--out")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    spec = {m["name"]: m for m in bench["end_to_end"] + bench.get("per_layer", [])}

    sides = {"parent": args.parent, "change": args.change}
    runs = {"parent": {}, "change": {}}
    for i, seed in enumerate(seeds_of(args.seeds)):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            result = run(sides[side], args.workload, seed, args.seconds, args.trace)
            runs[side][seed] = result
            ok = result is not None and result.get("correct") and not result.get("failed")
            print(f"# seed {seed} {side}: {'ok' if ok else 'FAILED'}", file=sys.stderr)
            if args.out:
                with open(args.out, "a") as f:
                    f.write(json.dumps({"workload": args.workload, "seed": seed,
                                        "side": side, "result": result}) + "\n")

    bad = [(side, seed) for side in runs for seed, r in runs[side].items()
           if r is None or not r.get("correct") or r.get("failed")]
    for side, seed in bad:
        print(f"failed or incorrect run: {side} seed {seed}")

    def values(side, name):
        return {seed: r["metrics"][name]["value"] for seed, r in runs[side].items()
                if r is not None and name in r.get("metrics", {})}

    names = sorted({n for side in runs for r in runs[side].values() if r
                    for n in r.get("metrics", {})})
    print(f"{'metric':44} {'parent':>11} {'change':>11} {'ratio':>7} "
          f"{'iqr/p':>6} {'iqr/c':>6} {'better':>7}")
    for name in names:
        p, c = values("parent", name), values("change", name)
        if not p or not c:
            continue
        pm, cm = statistics.median(p.values()), statistics.median(c.values())
        higher = spec.get(name, {}).get("better") == "higher"
        paired = [s for s in p if s in c]
        wins = sum(1 for s in paired if (c[s] > p[s] if higher else c[s] < p[s]))
        spread = [iqr_ratio(d.values(), m) for d, m in ((p, pm), (c, cm))]
        ratio = cm / pm if pm else float("nan")
        flag = ""
        bound = spec.get(name, {}).get("bound")
        if bound is not None and pm:
            worse = cm < pm * (1 - bound) if higher else cm > pm * (1 + bound)
            flag = "OUT" if worse else ""
        print(f"{name:44} {pm:11.5g} {cm:11.5g} {ratio:7.3f} {spread[0]:6.3f} "
              f"{spread[1]:6.3f} {wins:3d}/{len(paired):<3d} {flag}")


if __name__ == "__main__":
    main()
