"""persistor-spark benchmark: one seeded workload per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  The last line of standard output is one
JSON object {"correct", "attempted", "failed", "metrics"}: the end-to-end
metrics with --trace 0, the per-layer metrics with --trace 1.  The line
before it is the run's full record (per-kind percentiles with their sample
counts, failure counts, generator lateness, ...).  The traced run also
writes its spans to .perfbench_out/.  See perfbench/README.md.
"""

from __future__ import annotations

import time

T_PROCESS = time.time()  # set-up is timed from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness  # noqa: E402

sys.path.insert(0, harness.ROOT)

import layers  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

# name -> unit, in the order BENCHMARK.json lists them
E2E = {"setup_s": "s", "throughput_per_s": "1/s", "latency_p50_s": "s"}


def end_to_end(res: dict, setup_s: float) -> tuple[dict, dict, dict]:
    """(metrics, per-kind summaries, record figures).  Each workload names
    one work rate and one primary operation whose median latency is
    reported (see workloads.py); every other kind's percentiles go to the
    record.  The primary operation's tail goes to the record too: with
    2-6 samples per run it is a maximum."""
    kinds = {k: harness.summary(v) for k, v in res["kinds"].items()}
    primary = kinds[res["primary"]]
    values = {
        "setup_s": setup_s,
        "throughput_per_s": res["throughput"],
        "latency_p50_s": primary["p50"],
    }
    figures = {**values, "primary": res["primary"], "latency_tail_s": primary["tail"]}
    return {k: {"value": v, "unit": E2E[k]} for k, v in values.items()}, kinds, figures


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    import persistor_spark  # noqa: F401 — the engine under test; fails outside a checkout

    rss = harness.RssMonitor()
    work = harness.Workdir(args.workload, args.seed)
    try:
        return run(args, rss, work)
    finally:
        rss.stop()
        work.remove()


def run(args, rss: harness.RssMonitor, work: harness.Workdir) -> int:
    trace = bool(args.trace)
    harness.configure_env(work)
    spark = installed = None
    tracer = tracing.Tracer()
    timed_at: list[float] = []
    try:
        spark = harness.start_session(work, trace)
        t_session = time.time()
        ctx = workloads.Ctx(
            spark, work, args.seed, args.seconds, trace, lambda: timed_at.append(time.time())
        )
        if trace:
            installed = tracing.install(tracer, blobs_path=lambda: ctx.blob_path)
        res = workloads.WORKLOADS[args.workload](ctx)
        peak_mb = rss.stop()
    finally:
        if installed is not None:
            installed.restore()
        if spark is not None:
            harness.stop_session(spark)
    metrics, kinds, figures = end_to_end(res, timed_at[0] - T_PROCESS)
    cpus = int(os.environ["SPARK_GRAFT_CPUS"])
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "cpus": cpus,
        "failed_ratio": res["failed"] / max(res["attempted"], 1),
        "attempted": res["attempted"], "failed": res["failed"],
        "kinds": kinds, "end_to_end": figures,
        "peak_rss_mb": peak_mb,
        "setup_phases": {
            "session": t_session - T_PROCESS,
            **{k: v - T_PROCESS for k, v in ctx.marks.items()},
        },
        **res["record"],
    }
    if trace:
        jobs, files_read = tracing.read_event_log(os.path.join(work.path, "eventlog"))
        per = layers.compute(tracer, res["layer"], jobs, files_read, cpus)
        per["spark.peak_rss_mb"] = peak_mb
        out_dir = os.path.join(harness.ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        span_path = os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.json")
        tracer.dump(span_path)
        record["spans"] = os.path.relpath(span_path, harness.ROOT)
        metrics = {k: {"value": per[k], "unit": layers.PER_LAYER[k][0]} for k in layers.PER_LAYER}
    print(json.dumps({"record": record}, default=str))
    print(
        json.dumps(
            {
                "correct": res["failed"] == 0,
                "attempted": int(res["attempted"]),
                "failed": int(res["failed"]),
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
