#!/usr/bin/env python3
"""Interleaved A/B of the repo benchmark: a base revision against the working tree.

    python3 dev/perfbench_ab.py --workload ingest --seeds 305-310 [--base HEAD]
                                [--seconds 10] [--trace 0] [--out ab.jsonl]

Exports the base revision with `git archive` into .bench_build/ab/<sha>
(kept between invocations, so its build is reused), then runs
`perfbench/run.py` once per seed in each tree, alternating which tree
goes first. Prints each metric's median per side and the ratio
working/base. Every run's JSON line goes to --out when given. A run
that reports `correct: false` is listed and excluded from the medians.
The benchmark itself is only called, never changed.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec):
    """"305-310" or "1,4,7" → list of ints."""
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def export(rev):
    sha = subprocess.check_output(["git", "rev-parse", "--short", rev], cwd=ROOT,
                                  text=True).strip()
    tree = os.path.join(ROOT, ".bench_build", "ab", sha)
    if not os.path.isdir(tree):
        os.makedirs(tree)
        archive = subprocess.Popen(["git", "archive", sha], cwd=ROOT, stdout=subprocess.PIPE)
        subprocess.check_call(["tar", "-x", "-C", tree], stdin=archive.stdout)
        if archive.wait() != 0:
            sys.exit(f"perfbench_ab: git archive {sha} failed")
    return sha, tree


def run(tree, a, seed):
    cmd = [sys.executable, "perfbench/run.py", "--workload", a.workload, "--seed", str(seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace)]
    r = subprocess.run(cmd, cwd=tree, stdout=subprocess.PIPE, text=True)
    lines = [l for l in r.stdout.splitlines() if l.startswith("{")]
    if r.returncode != 0 or not lines:
        sys.exit(f"perfbench_ab: run failed in {tree} (seed {seed}, exit {r.returncode})")
    return json.loads(lines[-1])


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help='e.g. "305-310" or "1,4,7"')
    ap.add_argument("--base", default="HEAD", help="git revision to compare against")
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--out", help="append every run's record here (JSON lines)")
    a = ap.parse_args(argv)

    sha, base_tree = export(a.base)
    sides = {"base": base_tree, "work": ROOT}
    results = {"base": [], "work": []}
    for i, seed in enumerate(seeds(a.seeds)):
        order = ["base", "work"] if i % 2 == 0 else ["work", "base"]
        for side in order:
            res = run(sides[side], a, seed)
            rec = {"side": side, "rev": sha if side == "base" else "working tree",
                   "seed": seed, **res}
            print(json.dumps(rec), file=sys.stderr, flush=True)
            if a.out:
                with open(a.out, "a") as f:
                    f.write(json.dumps(rec) + "\n")
            if res["correct"]:
                results[side].append(res["metrics"])
            else:
                print(f"perfbench_ab: {side} seed {seed} reported correct=false; "
                      "excluded", file=sys.stderr)

    if not (results["base"] and results["work"]):
        sys.exit("perfbench_ab: a side has no correct run")
    print(f"{'metric':32} {'base ' + sha:>14} {'working':>14} {'ratio':>8}"
          f"   (medians; runs {len(results['base'])}/{len(results['work'])})")
    for m in results["base"][0]:
        base, work = (statistics.median(r[m]["value"] for r in results[s])
                      for s in ("base", "work"))
        ratio = f"{work / base:8.3f}" if base else f"{'-':>8}"
        print(f"{m:32} {base:>14.6g} {work:>14.6g} {ratio}")


if __name__ == "__main__":
    main()
