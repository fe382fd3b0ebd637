#!/usr/bin/env python3
"""Run every workload over several seeds, on one or more checkouts, and
record each result line.

    python3 perfbench/sweep.py --seeds 1-10 --side . runs/a
    python3 perfbench/sweep.py --seeds 1-10 --side ../parent runs/parent --side . runs/change

Each --side names a checkout of the repository (with this benchmark under
perfbench/) and the directory its runs go to. Every workload in
BENCHMARK.json runs untraced for run_seconds. With several sides the runs
interleave seed by seed, and the side that runs first rotates from one seed
to the next, so a change in the host's load falls on both sides alike.

Each run's result line is saved as OUT/<workload>.<seed>.json, and everything
the run measured (all values, sample counts, graph size) as
OUT/full/<workload>.<seed>.json. At the end the spread of every end-to-end
metric on each side is printed: the distance between the first and third
quartile of its values, as a share of their median, next to the metric's
bound. Two sides are compared with compare.py.
"""
import argparse
import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
from stats import relative_spread  # noqa: E402


def seeds(spec):
    out = []
    for part in spec.split(","):
        a, _, b = part.partition("-")
        out.extend(range(int(a), int(b or a) + 1))
    return out


def run_once(checkout, out, workload, seed, seconds):
    r = subprocess.run([sys.executable, str(checkout / "perfbench" / "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=checkout, stdout=subprocess.PIPE, text=True)
    last = r.stdout.strip().splitlines()[-1] if r.stdout.strip() else ""
    if r.returncode != 0 or not last:
        print(f"{checkout} {workload} seed {seed}: exit {r.returncode}", file=sys.stderr)
        return False
    (out / f"{workload}.{seed}.json").write_text(last + "\n")
    full = checkout / ".bench_build" / "results" / f"{workload}-{seed}-t0.json"
    (out / "full").mkdir(exist_ok=True)
    (out / "full" / f"{workload}.{seed}.json").write_text(full.read_text())
    print(f"{checkout} {workload} seed {seed}: done", file=sys.stderr, flush=True)
    return True


def main():
    bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--side", nargs=2, action="append", required=True, metavar=("CHECKOUT", "OUT"))
    args = p.parse_args()
    sides = [(Path(c).resolve(), Path(o)) for c, o in args.side]
    for _, out in sides:
        out.mkdir(parents=True, exist_ok=True)
    workloads = [w["name"] for w in bench["workloads"]]

    ok = True
    for w in workloads:
        for k, s in enumerate(seeds(args.seeds)):
            turn = k % len(sides)
            for checkout, out in sides[turn:] + sides[:turn]:
                ok &= run_once(checkout, out, w, s, bench["run_seconds"])

    for checkout, out in sides:
        for w in workloads:
            runs = [json.loads(f.read_text()) for f in sorted(out.glob(f"{w}.*.json"))]
            print(f"\n{out} ({checkout}), {w}: {len(runs)} runs")
            for m in bench["end_to_end"]:
                vals = [r["metrics"][m["name"]]["value"] for r in runs]
                if len(vals) >= 2:
                    print(f"  {m['name']:<16} spread {relative_spread(vals):6.3f}  bound {m['bound']}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
