#!/usr/bin/env python3
"""Compare two sets of benchmark runs: parent and change.

    python3 perfbench/compare.py runs/parent runs/change

Each directory holds result lines as sweep.py writes them
(<workload>.<seed>.json). Runs are paired by workload and seed. For every
workload and metric it prints the medians and quartiles of both sides, the
share of pairs the change won, and a verdict: improved, unchanged, worse or
unresolved (see stats.verdict). End-to-end metrics are judged against their
bounds in BENCHMARK.json; per-layer metrics, which have none, only by the
pair rule. Exits 1 if any end-to-end metric is worse.
"""
import json
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
from stats import quartiles, verdict  # noqa: E402


def load(d):
    runs = {}
    for f in sorted(Path(d).glob("*.json")):
        workload, _, seed = f.stem.rpartition(".")
        runs[(workload, seed)] = json.loads(f.read_text())
    return runs


def seeds(parent, change, workload):
    """The seeds both sets ran the workload with, in seed order."""
    common = {s for w, s in parent if w == workload} & {s for w, s in change if w == workload}
    return sorted(common, key=lambda s: (len(s), s))


def rows(parent, change, bench):
    specs = {m["name"]: m for m in bench["end_to_end"] + bench["per_layer"]}
    for workload in sorted({w for w, _ in parent}):
        matched = seeds(parent, change, workload)
        if not matched:
            continue
        names = parent[(workload, matched[0])]["metrics"].keys()
        for name in names:
            if name not in specs or any(name not in change[(workload, s)]["metrics"] for s in matched):
                continue
            p = [parent[(workload, s)]["metrics"][name]["value"] for s in matched]
            c = [change[(workload, s)]["metrics"][name]["value"] for s in matched]
            spec = specs[name]
            v, wins = verdict(p, c, spec["better"], spec.get("bound"))
            yield workload, name, len(matched), quartiles(p), quartiles(c), wins, v, "bound" in spec


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    parent, change = load(sys.argv[1]), load(sys.argv[2])
    print(f"{'workload':<16} {'metric':<44} {'n':>3} {'parent q1/med/q3':>32} "
          f"{'change q1/med/q3':>32} {'wins':>5}  verdict")
    worse = False
    for workload, name, n, pq, cq, wins, v, e2e in rows(parent, change, bench):
        fmt = lambda q: "/".join(f"{x:.4g}" for x in q)  # noqa: E731
        print(f"{workload:<16} {name:<44} {n:>3} {fmt(pq):>32} {fmt(cq):>32} {wins:>5.2f}  {v}")
        worse |= e2e and v == "worse"
    sys.exit(1 if worse else 0)


if __name__ == "__main__":
    main()
