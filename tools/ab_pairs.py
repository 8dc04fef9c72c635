#!/usr/bin/env python3
"""Interleaved A/B pairs of two checkouts through perfbench/run.py.

    python3 tools/ab_pairs.py --base ../parent --change . --workload ingest \
        --pairs 10 --seed 46

Each pair runs the same workload and seed once in each checkout, untraced;
pair i uses seed SEED+i, and the side that goes first alternates from pair
to pair, so a slow spell of a shared box falls on both sides alike. Both
checkouts are built before the first pair, so no pair pays for a build.

For each end-to-end metric of the base's BENCHMARK.json it prints both
medians, the change's median relative to the base's as a signed
percentage, both sides' interquartile ranges, and how many pairs each side
won (by the metric's `better` direction; ties count for neither). A metric
whose change median is worse than the base's by more than the metric's
`bound` is flagged WORSE and named on a line of its own. It names every
run that was incorrect, had a failed epoch or did not finish, and exits
non-zero if any run was bad or any metric is flagged. With --out, every
run's result line is appended there as JSON.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path


def build(root: Path) -> None:
    res = subprocess.run([sys.executable, "perfbench/build.py"], cwd=root,
                         capture_output=True, text=True)
    if res.returncode != 0:
        sys.exit(f"ab_pairs: build failed in {root}:\n{res.stderr[-2000:]}")


def run_one(root: Path, workload: str, seed: int):
    """One untraced run, as long as the benchmark sets: its last stdout
    line parsed, or None if it did not finish."""
    res = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--trace", "0"],
        cwd=root, capture_output=True, text=True)
    lines = res.stdout.strip().splitlines()
    if res.returncode != 0 or not lines:
        return None
    return json.loads(lines[-1])


def quartiles(xs):
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--base", required=True, type=Path)
    ap.add_argument("--change", required=True, type=Path)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--out", type=Path)
    args = ap.parse_args()

    sides = {"base": args.base.resolve(), "change": args.change.resolve()}
    spec = json.loads((sides["base"] / "BENCHMARK.json").read_text())
    for root in sides.values():
        build(root)

    runs = {"base": [], "change": []}
    bad = []
    for i in range(args.pairs):
        seed = args.seed + i
        order = ["base", "change"] if i % 2 == 0 else ["change", "base"]
        pair = {}
        for side in order:
            r = run_one(sides[side], args.workload, seed)
            if r is None:
                bad.append(f"{side} seed {seed}: did not finish")
            elif not r["correct"] or r["failed"]:
                bad.append(f"{side} seed {seed}: correct={r['correct']} "
                           f"failed={r['failed']}")
            if args.out:
                with open(args.out, "a") as f:
                    f.write(json.dumps({"side": side, "seed": seed,
                                        "workload": args.workload,
                                        "result": r}) + "\n")
            pair[side] = r
        if all(pair[s] is not None for s in sides):
            for s in sides:
                runs[s].append(pair[s]["metrics"])
        p50 = {s: pair[s]["metrics"]["epoch_s_p50"]["value"] if pair[s] else None
               for s in sides}
        print(f"pair {i + 1}/{args.pairs} seed {seed} first={order[0]} "
              f"epoch_s_p50 base={p50['base']} change={p50['change']}",
              flush=True)

    n = len(runs["base"])
    print(f"\n{args.workload}: {n} complete pairs")
    print(f"{'metric':14s} {'base p50':>10s} {'change p50':>11s} "
          f"{'vs base':>8s} {'base IQR':>19s} {'change IQR':>19s} "
          f"{'wins b/c':>9s}")
    worse = []
    for m in spec["end_to_end"]:
        name = m["name"]
        b = [r[name]["value"] for r in runs["base"]]
        c = [r[name]["value"] for r in runs["change"]]
        if not b:
            continue
        sign = 1 if m["better"] == "higher" else -1
        wins_b = sum(sign * (x - y) > 0 for x, y in zip(b, c))
        wins_c = sum(sign * (y - x) > 0 for x, y in zip(b, c))
        iqr = " ".join("[{:8.4g}, {:8.4g}]".format(*(quartiles(xs) if n > 1
                                                    else (xs[0], xs[0])))
                       for xs in (b, c))
        mb, mc = statistics.median(b), statistics.median(c)
        rel = (mc - mb) / mb if mb else 0.0
        flag = " WORSE" if -sign * rel > m["bound"] else ""
        if flag:
            worse.append(f"WORSE {name}: {rel:+.1%} against a bound of "
                         f"{m['bound']:.0%}")
        print(f"{name:14s} {mb:10.4g} {mc:11.4g} {rel:+8.1%} {iqr} "
              f"{wins_b:4d}/{wins_c:<4d}{flag}")
    for line in worse:
        print(line)
    for line in bad:
        print(f"BAD RUN {line}")
    if not bad:
        print("all runs correct, 0 failed")
    return 1 if bad or worse else 0


if __name__ == "__main__":
    sys.exit(main())
