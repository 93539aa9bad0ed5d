"""Run one benchmark workload against the ccspark engine in this checkout.

    python3 perfbench/run.py --workload crawl_rounds --seed 1 --seconds 10 --trace 0

Builds a `local[nproc]` Spark session, generates the workload's inputs
from --seed, warms up, then measures a closed loop of the workload's
operations for --seconds (the operation in flight when time runs out
completes), checks every output outside the timed region, and prints
one JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics; --trace 1 runs the same
workload with spans at the engine's call boundaries, then the other
workload's operations traced too, and reports the per-layer metrics of
every layer instead. All files the run writes live under
.perfbench_runs/ in the checkout and are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("crawl_rounds", "corpus_pass")
END_TO_END = {"setup_s": "s", "op_s_p50": "s", "peak_rss_mb": "MB"}
#: the crawl round loop runs with AQE off, as the engine's own crawl
#: query does; the registry queries run with the engine default (on)
AQE = {"crawl_rounds": False, "corpus_pass": True}


def parse(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (the self-test uses a tiny one)")
    return ap.parse_args(argv)


def per_layer_names() -> list[tuple[str, str]]:
    import corpus
    import crawl
    return (crawl.per_layer_names() + corpus.per_layer_names()
            + [("trace.overhead_s", "s")])


def run(args, run_dir: str) -> dict:
    import corpus
    import crawl
    import session
    from spans import Tracer

    classes = {"crawl_rounds": crawl.CrawlRounds,
               "corpus_pass": corpus.CorpusPass}
    t0 = time.perf_counter()
    spark = session.start(run_dir, f"perfbench-{args.workload}",
                          aqe=AQE[args.workload])
    session_s = time.perf_counter() - t0
    wls = [(args.workload, classes[args.workload](
        spark, run_dir, args.seed, args.scale))]
    if args.trace:
        # a traced run measures every layer: the other workload's
        # operations follow, all traced, at the same input sizes
        wls += [(n, cls(spark, run_dir, args.seed, args.scale))
                for n, cls in classes.items() if n != args.workload]
    try:
        tracer = Tracer(spark) if args.trace else None
        with session.RssProbe(session.jvm_pid()) as rss:
            out = wls[0][1].run(args.seconds, tracer)
            for name, wl in wls[1:]:
                spark.conf.set("spark.sql.adaptive.enabled",
                               str(AQE[name]).lower())
                out.merge(wl.run(0, tracer, overhead=False))
    finally:
        for _, wl in wls:
            if hasattr(wl, "cleanup"):
                wl.cleanup()
        session.stop(spark)
    if args.trace:
        metrics = {n: {"value": out.metrics[n], "unit": u}
                   for n, u in per_layer_names()}
    else:
        out.put("setup_s", out.metrics["setup_s"] + session_s)
        out.put("peak_rss_mb", rss.peak_mb)
        metrics = {n: {"value": out.metrics[n], "unit": u}
                   for n, u in END_TO_END.items()}
    out.notes.append(f"session_start_s={session_s:.3f} peak_rss: {rss.detail}")
    for note in out.notes:
        print(f"# {args.workload} seed={args.seed}: {note}")
    failed = sum(not ok for ok in out.ops.values())
    return {"correct": failed == 0, "attempted": max(1, len(out.ops)),
            "failed": failed, "metrics": metrics}


def main(argv=None) -> int:
    args = parse(argv)
    sys.path.insert(0, ROOT)
    import ccspark  # noqa: F401 - fails fast outside a full checkout
    base = os.path.join(ROOT, ".perfbench_runs")
    run_dir = os.path.join(base, f"{args.workload}-s{args.seed}-p{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    tempfile.tempdir = None
    try:
        result = run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
