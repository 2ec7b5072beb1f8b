"""Repository benchmark: one workload per invocation.

    python3 perfbench/run.py --workload tail_serve --seed 1 --seconds 15 --trace 0

Run from the repository root. Prints a human-readable report on stderr
and, as the last line of stdout, one JSON object with `correct`,
`attempted`, `failed` and `metrics` (the end-to-end metrics with
`--trace 0`, the per-layer metrics with `--trace 1`). Every file the run
writes stays under `.perfbench_work/` (removed at exit) and
`.perfbench_out/` (the detail record and, when traced, the spans).
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOAD_NAMES = ("backfill_dense", "tail_serve", "query_suite")


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0, help="input size factor (smoke tests use less)")
    return ap.parse_args(argv)


def _environment(work: str, trace: bool) -> None:
    """Keep every file Spark and Python write inside the checkout."""
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    submit = [f"--driver-java-options -Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    if trace:  # keep every job, stage and execution of the run for the reader
        for key in ("spark.ui.retainedJobs", "spark.ui.retainedStages", "spark.sql.ui.retainedExecutions"):
            submit.append(f"--conf {key}=1000000")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])


def _stop_spark(spark) -> None:
    """Stop the session and the JVM the session launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — make sure it is gone either way
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isdir(os.path.join(ROOT, "helium_etl_lite_spark")):
        print(f"perfbench: no helium_etl_lite_spark package under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    load_before = list(os.getloadavg())
    _environment(work, bool(args.trace))
    sys.path.insert(0, ROOT)

    from helium_etl_lite_spark.session import get_spark

    from perfbench.common import cpu_steal_s, host_metadata, rss_peak_mb
    from perfbench.workloads import WORKLOADS, Ctx

    steal_before = cpu_steal_s()

    spark = None
    try:
        spark = get_spark("perfbench", cpus=4)
        t_session = time.perf_counter()
        trace = None
        if args.trace:
            from perfbench.layers import Trace

            trace = Trace(spark)
        ctx = Ctx(spark, args.seed, args.seconds, args.scale, work, trace)
        outcome = WORKLOADS[args.workload](ctx)
        e2e = {
            "setup_s": t_session - T_PROCESS + ctx.setup_s,
            "cpu_s_per_pass": statistics.fmean(outcome.pass_cpu_s),
        }
        wall = {
            "wall.throughput_per_s": outcome.throughput_per_s,
            "wall.latency_s_p50": outcome.latency["p50"],
            "wall.latency_s_tail": outcome.latency["tail"],
            "mem.rss_peak_mb": rss_peak_mb(),
        }
        failed_ratio = outcome.failed / max(1, outcome.attempted)
        record = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "scale": args.scale, "e2e": e2e, "wall": wall, "failed_ratio": failed_ratio,
            "pass_cpu_s": outcome.pass_cpu_s,
            "latency": outcome.latency, "detail": outcome.detail,
            "setup": dict(ctx.setup_detail, session_s=t_session - T_PROCESS, rest_s=ctx.setup_s),
        }
        wanted = spec["per_layer" if trace is not None else "end_to_end"]
        if trace is not None:
            values = trace.metrics(outcome, [m["name"] for m in wanted])
            values.update(wall)
            # the end-to-end figures under tracing; their difference from an
            # untraced run of the same seed is the tracing overhead
            values.update({f"trace.{k}": v for k, v in e2e.items()})
            values["failed_ratio"] = failed_ratio
            record["layers"] = values
            trace.rec.save(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-spans.json"))
        else:
            values = e2e
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
        if set(values) - set(metrics):
            raise KeyError(f"metrics missing from BENCHMARK.json: {sorted(set(values) - set(metrics))}")
        record["host"] = dict(
            host_metadata(spark.version), loadavg_before=load_before, steal_s=cpu_steal_s() - steal_before
        )
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    for k, v in metrics.items():
        print(f"# {k:36s} {v['value']:14.6g} {v['unit']}", file=sys.stderr)
    if not args.trace:
        for k, v in wall.items():
            print(f"# {k:36s} {v:14.6g}", file=sys.stderr)
    print(f"# failed_ratio {failed_ratio:.4f} ({outcome.failed}/{outcome.attempted})", file=sys.stderr)
    if outcome.detail.get("problems"):
        print(f"# problems: {outcome.detail['problems']}", file=sys.stderr)
    print(json.dumps({
        "correct": outcome.failed == 0,
        "attempted": outcome.attempted,
        "failed": outcome.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
