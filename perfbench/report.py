"""Print the end-to-end figures of every workload, by name and with units.

    python3 perfbench/report.py [--seed 1] [--seconds 10]

Runs ``perfbench/run.py`` once per workload (tweets_live, tweets_backlog,
corpus_prep) with tracing off and prints one JSON row per workload: the
workload's own figures from the report line (freshness_p50_s,
backlog_tweets_per_s, near_dup_recall, wrong_results, ...) and the
result's metrics. Exits 1 if any run fails or reads incorrect.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
from pathlib import Path

WORKLOADS = ("tweets_live", "tweets_backlog", "corpus_prep")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    args = ap.parse_args(argv)
    ok = True
    for w in WORKLOADS:
        cmd = [sys.executable, str(Path(__file__).with_name("run.py")), "--workload", w,
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
        p = subprocess.run(cmd, capture_output=True, text=True)
        if p.returncode != 0:
            print(json.dumps({"workload": w, "exit": p.returncode, "stderr": p.stderr[-2000:]}))
            ok = False
            continue
        report, result = (json.loads(x) for x in p.stdout.strip().splitlines()[-2:])
        ok &= result["correct"]
        print(json.dumps({"workload": w, "correct": result["correct"],
                          "metrics": {**report["metrics"], **result["metrics"]}}))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
