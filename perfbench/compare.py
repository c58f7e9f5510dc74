"""Compare two checkouts, a parent and a change, on the benchmark.

    python3 perfbench/compare.py --parent ../parent --change . [--pairs 10]
        [--workloads tweets_live,corpus_prep] [--seed0 1000]

Both checkouts must hold the same perfbench/ files, so only the program
differs. Each pair runs the two sides on one seed, alternating which
side goes first; every pair uses a new seed. Per workload and
end-to-end metric it prints one row: each side's median and quartiles,
the change's win share over all pairs (ties count for neither) and a
verdict:

- ``gain``: the change won at least 9 of 10 pairs and the medians differ
  by more than the parent's own quartile spread;
- ``regression``: the change's median is worse than the parent's by
  more than the metric's bound;
- ``unresolved``: the parent's quartile spread exceeds the bound and not
  every change run beats every parent run;
- ``flat``: none of these.

Workloads, metrics, bounds and the run length come from BENCHMARK.json
in the change checkout. Each side's last output line is kept in
``--log`` (JSON lines) for the record.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import statistics
import subprocess
import sys
from pathlib import Path


def _digest(root: Path, paths: list[str]) -> str:
    h = hashlib.sha256()
    for p in paths:
        for f in sorted((root / p).rglob("*.py")):
            h.update(str(f.relative_to(root)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()


def _run(root: Path, bench: dict, workload: str, seed: int) -> dict:
    cmd = bench["command"] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(bench["run_seconds"]), "--trace", "0",
    ]
    p = subprocess.run(cmd, cwd=root, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        raise RuntimeError(f"{root}: {' '.join(cmd)} exited {p.returncode}:\n{p.stderr[-2000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def verdict(parent: list[float], change: list[float], better: str, bound: float) -> dict:
    sign = 1 if better == "higher" else -1
    pm, cm = statistics.median(parent), statistics.median(change)
    pq = statistics.quantiles(parent, n=4) if len(parent) > 1 else [pm, pm, pm]
    cq = statistics.quantiles(change, n=4) if len(change) > 1 else [cm, cm, cm]
    wins = sum(sign * (c - p) > 0 for p, c in zip(parent, change))
    spread = pq[2] - pq[0]
    if wins >= 0.9 * len(parent) and sign * (cm - pm) > spread:
        v = "gain"
    elif sign * (pm - cm) > bound * abs(pm):
        v = "regression"
    elif spread > bound * abs(pm) and not all(sign * (c - p) > 0 for c in change for p in parent):
        v = "unresolved"
    else:
        v = "flat"
    return {
        "parent": [pq[0], pm, pq[2]],
        "change": [cq[0], cm, cq[2]],
        "win_share": wins / len(parent),
        "parent_spread_share": spread / abs(pm) if pm else float("inf"),
        "verdict": v,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True, type=Path)
    ap.add_argument("--change", required=True, type=Path)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--workloads", help="comma-separated; default: all in BENCHMARK.json")
    ap.add_argument("--seed0", type=int, default=1000)
    ap.add_argument("--log", type=Path, help="append every run's result line here")
    args = ap.parse_args(argv)

    bench = json.loads((args.change / "BENCHMARK.json").read_text())
    if _digest(args.parent, bench["paths"]) != _digest(args.change, bench["paths"]):
        print("compare: the two checkouts hold different benchmark files", file=sys.stderr)
        return 2
    workloads = args.workloads.split(",") if args.workloads else [w["name"] for w in bench["workloads"]]
    metrics = bench["end_to_end"]
    sides = {"parent": args.parent, "change": args.change}
    for w in workloads:
        vals = {s: {m["name"]: [] for m in metrics} for s in sides}
        incorrect = {s: 0 for s in sides}
        for i in range(args.pairs):
            order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
            for side in order:
                res = _run(sides[side], bench, w, args.seed0 + i)
                incorrect[side] += not res["correct"]
                for m in metrics:
                    vals[side][m["name"]].append(res["metrics"][m["name"]]["value"])
                if args.log:
                    with args.log.open("a") as f:
                        f.write(json.dumps({"workload": w, "side": side, "seed": args.seed0 + i, **res}) + "\n")
        rows = {
            m["name"]: verdict(vals["parent"][m["name"]], vals["change"][m["name"]], m["better"], m["bound"])
            for m in metrics
        }
        print(json.dumps({"workload": w, "pairs": args.pairs, "incorrect_runs": incorrect, "metrics": rows}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
