"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload annotate_rich --seed 42 --seconds 12 --trace 0

Inputs come from ``--seed``.  After set-up (Spark session, corpus, compile
of the C alignment kernel, one warm-up job) the workload's job runs again
and again for ``--seconds``; then its output is checked.  ``--trace 0``
reports the end-to-end metrics of BENCHMARK.json; ``--trace 1`` reports the
per-layer metrics, measured around calls into each layer, and writes the
spans to ``.perfbench/results/``.  The line before the last is the full
report (median, quartiles and sample count per metric, failed_doc_frac,
host conditions, check results); the last line is the summary
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load_benchmark() -> dict:
    """Workload and metric names, units, directions and bounds."""
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def _process_start_time() -> float:
    """Wall-clock time at which this process started (from /proc)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def parse_args(benchmark: dict, argv=None) -> argparse.Namespace:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    workloads = [w["name"] for w in benchmark["workloads"]]
    parser.add_argument("--workload", required=True, choices=workloads)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    parser.add_argument(
        "--scale", type=float, default=1.0, help="corpus size factor (the smoke test uses a tiny one)"
    )
    return parser.parse_args(argv)


def summarize(samples, unit: str) -> dict:
    samples = list(samples)
    median = statistics.median(samples)
    p25, _, p75 = statistics.quantiles(samples, n=4) if len(samples) > 1 else (median,) * 3
    return {
        "median": median,
        "p25": p25,
        "p75": p75,
        "spread": (p75 - p25) / median if median else 0.0,
        "n": len(samples),
        "unit": unit,
    }


def timed_reps(workload, ctx, seconds: float, tracer=None, run_span=None):
    """Run the job until ``seconds`` have passed; docs/s of each job."""
    rates = []
    deadline = time.perf_counter() + seconds
    while not rates or time.perf_counter() < deadline:
        if tracer is None:
            t0 = time.perf_counter()
            done = workload.run_once(ctx, workload.docs)
            wall = time.perf_counter() - t0
        else:
            with tracer.span("job", ctx.trace_id, run_span) as record:
                done = workload.run_once(ctx, workload.docs)
            wall = (record["end_ns"] - record["start_ns"]) / 1e9
        rates.append(done / wall)
    return rates


def run(args, benchmark: dict, run_dir: str, started: float):
    from perfbench import host, layers
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS, Context
    from sciencebeam_trainer_grobid_tools_spark.kernel.native import get_native_lib
    from sciencebeam_trainer_grobid_tools_spark.plans.session import build_session

    conditions = host.host_conditions()
    spark = build_session("perfbench-" + args.workload, cpus=int(conditions["nproc"]))
    session_s = time.time() - started
    try:
        spark.sparkContext.setLogLevel("ERROR")
        ctx = Context(spark, args.seed, args.scale, run_dir)
        with ctx.phase("native"):  # gcc compile into the fresh native cache
            conditions["native_loaded"] = float(get_native_lib() is not None)
        workload = WORKLOADS[args.workload]()
        workload.setup(ctx)
        setup_s = time.time() - started

        cpu = host.CpuWindow()
        rss = host.RssSampler()
        rss.start()
        report = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "docs_per_job": workload.n_docs,
            "session_s": session_s,
        }
        if args.trace:
            tracer = Tracer()
            with tracer.span("workload." + args.workload, ctx.trace_id) as run_span:
                # untraced and traced jobs alternate, each going first in
                # turn; their docs/s differ by the tracing cost
                plain, traced = [], []
                order = [False, True]
                deadline = time.perf_counter() + args.seconds
                while not traced or time.perf_counter() < deadline:
                    for with_spans in order:
                        if with_spans:
                            traced += timed_reps(workload, ctx, 0, tracer, run_span["id"])
                        else:
                            plain += timed_reps(workload, ctx, 0)
                    order.reverse()
                rates = plain + traced
                per_layer = workload.trace_layers(ctx, tracer, run_span["id"])
        else:
            rates = timed_reps(workload, ctx, args.seconds)
        rss.stop()
        conditions.update(cpu.close())
        conditions.update(host.calibration())
        check = workload.check(ctx)
        report["setup_phases_s"] = ctx.phases
        report["measure_and_check_s"] = time.time() - started - setup_s
    finally:
        spark.stop()
        host.stop_descendants()

    report.update(
        host=conditions,
        timed_jobs=len(rates),
        checks={"ok": check.ok, "problems": check.problems[:20]},
        failed_doc_frac={"value": check.failed_frac, "unit": "fraction", "n": check.attempted},
    )
    if args.trace:
        per_layer.update(
            {
                "trace.overhead_share": 1.0 - statistics.median(traced) / statistics.median(plain),
                "native.loaded": conditions["native_loaded"],
                "host.nproc": conditions["nproc"],
                "host.load1": conditions["load1"],
                "host.steal_pct": conditions["steal_pct"],
                "host.calib_cpu_ms": conditions["calib_cpu_ms"],
                "host.calib_mem_ms": conditions["calib_mem_ms"],
            }
        )
        wanted = benchmark["per_layer"]
        values = {m["name"]: per_layer.get(m["name"], 0.0) for m in wanted}
        name = "%s-seed%d-spans.jsonl" % (args.workload, args.seed)
        spans = os.path.join(ROOT, ".perfbench", "results", name)
        tracer.write(spans)
        report["spans"] = os.path.relpath(spans, ROOT)
        report["traced_docs_per_s"] = summarize(traced, "docs/s")
        report["untraced_docs_per_s"] = summarize(plain, "docs/s")
        report["metrics"] = {}
        for m in wanted:
            moves, workload_name = layers.MOVES[m["name"]]
            report["metrics"][m["name"]] = {
                "value": values[m["name"]], "unit": m["unit"], "moves": moves, "workload": workload_name
            }
    else:
        wanted = benchmark["end_to_end"]
        full = {
            "docs_per_s": summarize(rates, "docs/s"),
            "peak_rss_mb": dict(summarize([rss.peak / 2**20], "MB"), n=rss.samples),
            "setup_s": summarize([setup_s], "s"),
        }
        report["metrics"] = full
        values = {m["name"]: full[m["name"]]["median"] for m in wanted}
    summary = {
        "correct": check.ok,
        "attempted": check.attempted,
        "failed": check.failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted},
    }
    return report, summary


def main(argv=None) -> int:
    started = _process_start_time()
    benchmark = load_benchmark()
    args = parse_args(benchmark, argv)
    sys.path[0] = ROOT  # the package, bench.py and perfbench itself
    from perfbench import env

    run_dir = env.prepare(ROOT)
    try:
        report, summary = run(args, benchmark, run_dir, started)
    finally:
        env.cleanup(run_dir)
    results = os.path.join(ROOT, ".perfbench", "results")
    os.makedirs(results, exist_ok=True)
    name = "%s-seed%d-trace%d.json" % (args.workload, args.seed, args.trace)
    with open(os.path.join(results, name), "w", encoding="utf-8") as fh:
        json.dump(report, fh, indent=1)
    print(json.dumps(report))
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
