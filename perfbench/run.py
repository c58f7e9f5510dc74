"""Benchmark of the streaming job and the corpus-preparation job,
measured from outside through their public entrypoints.

    python3 perfbench/run.py --workload tweets_live --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Workloads (``WORKLOADS`` below):

- ``tweets_live``: open loop. One generator thread writes 2000 tweets/s
  as one JSON-lines file every 200 ms into a directory a file source
  reads (the stand-in for Kafka), through
  ``twitter_stream_app.build_queries`` over ``kafka.parse_tweets`` at the
  production 5 s trigger.
- ``corpus_prep``: batch. ``corpus_prep_app.run`` over a seeded corpus
  with planted exact and near duplicates, repeated for ``--seconds`` and
  at least three times.
- ``tweets_backlog``: closed drain of a backlog with
  ``available_now=True``, repeated for ``--seconds`` (runnable by name;
  not in BENCHMARK.json, see tweets.py).

End-to-end metrics (``--trace 0``), the same names on every workload:

- ``setup_s``: the median of three set-ups, each a session start and
  the generation of every input (the first also launches the JVM), plus
  one warm-up pass. The pass runs once: in a fresh JVM it is mostly class
  loading and JIT compilation, and each repeat would cost as much as the
  measurement;
- ``latency_p50_s``: tweets_live: a tweet's creation to the first
  TotalTweetCountFlink point whose total includes it; tweets_backlog: the
  start of the drain to that point; corpus_prep: the median wall time of
  one ``run()``, input to complete result.

CPU per 1000 tweets or documents (JIT compilation left out, see
procs.py) is in the report line only: on a shared machine it moves with
the neighbours' load by up to a fifth between runs.

``--trace 1`` runs the same workload with spans recorded (spans.py) and
prints the per-layer metrics instead; the spans go to
``perfbench/.traces/``. The line before the last is a report with the
workload's own metric names (freshness_p95_s, window_latency_p50_s,
peak_rss_mb, near_dup_recall, wrong_results, ...), the environment and
the co-tenant load. Throughput and peak memory are reported there rather
than in the result: on tweets_live the throughput is the fixed input
rate, and the JVM's peak memory follows its garbage collector more than
the workload. The last line is the result:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

SETUPS = 3


def _driver_mem() -> str:
    """A quarter of the machine's memory, at most 8g: build_session's
    default of 24g assumes a larger machine."""
    with open("/proc/meminfo") as f:
        gb = int(f.readline().split()[1]) // 2**20
    return f"{max(1, min(8, gb // 4))}g"


class Context:
    """What one run shares across its phases: arguments, the work
    directory, the current Spark session and the meters."""

    def __init__(self, args, work: Path) -> None:
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = work
        self.spark = None
        self.session_start_s: list[float] = []
        self.warm_up_s = 0.0
        self.tracer = None
        self.meter = None

    def new_session(self):
        """Stop the current session, if any, and build a fresh one."""
        from flink_streaming_twitter_spark.session import build_session
        from procs import JVM_OPTIONS

        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = build_session(
            app_name="perfbench",
            master=f"local[{os.environ['SPARK_GRAFT_CPUS']}]",
            extra_conf={
                "spark.sql.warehouse.dir": str(self.work / "warehouse"),
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work / 'tmp'} -XX:-UsePerfData {JVM_OPTIONS}",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_start_s.append(time.perf_counter() - t0)
        return self.spark

    def setup(self, generate, warm_up) -> tuple[object, float]:
        """Start a session and generate every input ``SETUPS`` times, then
        run one warm-up pass on the last session. Returns the last
        inputs and the set-up time: the median of the repeated part plus
        the warm-up pass."""
        times = []
        for i in range(SETUPS):
            t0 = time.perf_counter()
            self.new_session()
            inputs = generate(self.work / f"setup{i}")
            times.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        warm_up(inputs)
        self.warm_up_s = time.perf_counter() - t0
        return inputs, statistics.median(times) + self.warm_up_s


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    for needed in ("flink_streaming_twitter_spark", "examples", "bench.py"):
        if not (ROOT / needed).exists():
            print(f"perfbench: {ROOT / needed} is missing; run from a full checkout", file=sys.stderr)
            return 2

    work = HERE / ".work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    nproc = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", _driver_mem())
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "tmp")
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    sys.path[:0] = [str(ROOT), str(ROOT / "examples"), str(HERE)]

    import corpus
    import tweets
    from bench import _CotenantSampler
    from procs import ProgramMeter, environment, stop_program
    from result import REPORT_UNITS
    from spans import Tracer

    workloads = {
        "tweets_live": tweets.live,
        "tweets_backlog": tweets.backlog,
        "corpus_prep": corpus.corpus_prep,
    }
    if args.workload not in workloads:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(workloads)}",
              file=sys.stderr)
        return 2

    # every metric BENCHMARK.json names is reported on every workload; a
    # layer that does no work in a workload reports 0 there
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    ctx = Context(args, work)
    cotenant = _CotenantSampler()
    try:
        with ProgramMeter(cotenant=cotenant) as meter:
            ctx.meter = meter
            ctx.tracer = Tracer() if ctx.trace else None
            res = workloads[args.workload](ctx)
            env = environment(ctx.spark)
    finally:
        stop_program(ctx.spark)
        shutil.rmtree(work, ignore_errors=True)

    cot = cotenant.cotenant_cores()
    env["cotenant_cores_mean_peak"] = list(cot) if cot else None
    env["iowait_cores"] = cotenant.iowait_cores()
    env["session_start_s"] = [round(s, 3) for s in ctx.session_start_s]
    res.report["warm_up_s"] = ctx.warm_up_s
    if ctx.trace:
        traces = HERE / ".traces"
        traces.mkdir(exist_ok=True)
        spans = traces / f"{args.workload}-{args.seed}.jsonl"
        ctx.tracer.write(str(spans))
        res.report["spans_file"] = str(spans.relative_to(ROOT))
        res.layers["session.start_s"] = ctx.session_start_s[0]
        metrics = {
            m["name"]: {"value": float(res.layers.get(m["name"], 0)), "unit": m["unit"]}
            for m in bench["per_layer"]
        }
    else:
        # a run that failed before measuring reports zeros (and correct=false)
        metrics = {
            m["name"]: {"value": res.e2e.get(m["name"], 0.0), "unit": m["unit"]}
            for m in bench["end_to_end"]
        }
    wrong = sum(res.wrong.values())
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        **res.report,
        "wrong_results": wrong,
        "wrong_by_check": res.wrong,
        "ops_failed_share": res.failed / res.attempted,
        "environment": env,
    }
    report["metrics"] = {
        k: {"value": report.pop(k), "unit": u} for k, u in REPORT_UNITS.items() if k in report
    }
    print(json.dumps(report, default=str))
    print(
        json.dumps(
            {
                "correct": wrong == 0 and res.failed == 0,
                "attempted": res.attempted,
                "failed": res.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
