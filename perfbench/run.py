"""MOCHA-shaped benchmark of the PySpark quad store.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: sparql_read, ingest_versioned, operators_batch (see
perfbench/README.md). The last line of standard output
is one JSON object ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics of BENCHMARK.json when ``--trace 0``, the per-layer
metrics when ``--trace 1``. A human-readable report, including every
workload-specific metric, goes to standard error, and the full report to
``.perfbench_work/reports/<workload>-<seed>-trace<t>.json``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import sys
import time

T_START = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness as H  # noqa: E402

#: workload name -> module
WORKLOADS = {"sparql_read": "w_read", "ingest_versioned": "w_ingest",
             "operators_batch": "w_ops"}

#: end-to-end metrics every workload prints, as (name, unit)
END_TO_END = [("setup_s", "s"), ("read_p50_s", "s"), ("ops_per_s", "1/s")]

#: timed set-up repetitions, unless the workload module sets its own
#: ``SETUP_REPS``; setup_s is their median
SETUP_REPS = 3


class Ctx:
    """What a workload gets: the session, directories, tracer, seed,
    scale, and the sample and failure counters it fills."""

    def __init__(self, args, cores, spark, dirs, tracer):
        self.spark, self.dirs, self.tracer = spark, dirs, tracer
        self.seed, self.seconds = args.seed, args.seconds
        self.tiny, self.tamper = args.tiny, args.tamper
        self.cores = cores
        self.lat: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.wrong: list[str] = []
        self.extra: dict[str, tuple] = {}      # workload-specific metrics
        self.layer_extra: dict[str, float] = {}

    def record(self, kind: str, seconds: float, ok: bool = True,
               why: str = "") -> None:
        self.attempted += 1
        self.lat.setdefault(kind, []).append(seconds)
        if not ok:
            self.failed += 1
            if len(self.wrong) < 20:
                self.wrong.append(f"{kind}: {why}")

    def check(self, ok: bool, why: str) -> None:
        """An answer check outside a timed operation (end-of-run audits)."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.wrong) < 20:
                self.wrong.append(why)

    def metric(self, name: str, value, unit: str) -> None:
        self.extra[name] = (value, unit)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="sf0.001-sized inputs (self-test)")
    ap.add_argument("--tamper", action="store_true",
                    help="corrupt one expected answer (self-test)")
    args = ap.parse_args()
    cores = len(os.sched_getaffinity(0))

    sys.path.insert(0, H.ROOT)
    try:
        import graphdb_free_mocha_sa_spark as pkg
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine package is not importable: {e}",
              file=sys.stderr)
        return 3
    if not os.path.abspath(pkg.__file__).startswith(H.ROOT + os.sep):
        print(f"perfbench: engine imported from {pkg.__file__}, not from "
              f"this checkout", file=sys.stderr)
        return 3

    dirs = H.RunDirs()
    H.hermetic_env(dirs, cores)
    spark = result = None
    try:
        spark = H.start_spark(dirs, cores)
        session_s = time.perf_counter() - T_START
        from spans import LAYER_METRICS, Tracer
        tracer = Tracer(bool(args.trace), spark)
        ctx = Ctx(args, cores, spark, dirs, tracer)
        mod = importlib.import_module(WORKLOADS[args.workload])
        if hasattr(mod, "prepare"):
            mod.prepare(ctx)               # untimed: warm artifacts
        tracer.install()
        setups, state = [], None
        for _ in range(getattr(mod, "SETUP_REPS", SETUP_REPS)):
            if state is not None:
                mod.close(ctx, state)
            t0 = time.perf_counter()
            state = mod.setup(ctx)
            setups.append(time.perf_counter() - t0)
        try:
            if hasattr(mod, "warm"):
                mod.warm(ctx, state)       # untimed: first-use codegen
            t0 = time.perf_counter()
            n_ops = mod.run(ctx, state)
            wall = time.perf_counter() - t0
            mod.finish(ctx, state)
        finally:
            mod.close(ctx, state)
        rss = H.peak_rss_mb()
        reads = ctx.lat.get("read", [])
        e2e = {"setup_s": H.median(setups),
               "read_p50_s": H.median(reads),
               "ops_per_s": n_ops / wall if wall > 0 else None}
        ctx.metric("peak_rss_mb", rss, "MB")
        ctx.layer_extra["process.peak_rss_mb"] = rss
        report = {"workload": args.workload, "seed": args.seed,
                  "trace": args.trace, "setup_runs_s": setups,
                  "spark_session_s": session_s, "measured_s": wall,
                  "ops": n_ops, "samples": {k: len(v)
                                            for k, v in ctx.lat.items()},
                  "latencies_s": ctx.lat,
                  "wrong": ctx.wrong,
                  "end_to_end": e2e,
                  "workload_metrics": {k: {"value": v, "unit": u}
                                       for k, (v, u) in ctx.extra.items()}}
        reports = os.path.join(H.WORK, "reports")
        os.makedirs(reports, exist_ok=True)
        if args.trace:
            layers, by_op = tracer.report(
                dict(ctx.layer_extra, **{"spark.session_s": session_s}))
            metrics = {n: {"value": layers.get(n, 0), "unit": u}
                       for n, u, _ in LAYER_METRICS}
            report["by_op"] = by_op
            report["trace_ops_per_s"] = e2e["ops_per_s"]
            tracer.dump(os.path.join(
                reports, f"{args.workload}-{args.seed}-spans.json"),
                layers, by_op)
        else:
            metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END}
        report["metrics"] = metrics
        with open(os.path.join(
                reports, f"{args.workload}-{args.seed}-trace{args.trace}.json"),
                "w") as fh:
            json.dump(report, fh, indent=1, default=str)
        _print_human(report, ctx)
        missing = [n for n, m in metrics.items() if m["value"] is None]
        if missing:
            print(f"perfbench: no samples for {missing}", file=sys.stderr)
        else:
            result = {"correct": ctx.failed == 0,
                      "attempted": ctx.attempted, "failed": ctx.failed,
                      "metrics": metrics}
    finally:
        if spark is not None:
            H.stop_spark(spark)
        H.reap_children()
        dirs.close()
    if result is None:
        return 4
    print(json.dumps(result), flush=True)
    return 0


def _print_human(report: dict, ctx: Ctx) -> None:
    err = sys.stderr
    print(f"== {report['workload']} seed={report['seed']} "
          f"trace={report['trace']} measured={report['measured_s']:.2f}s "
          f"ops={report['ops']} samples={report['samples']}", file=err)
    for k, v in report["end_to_end"].items():
        unit = dict(END_TO_END)[k]
        print(f"  {k:28s} {v} {unit}", file=err)
    for k, m in report["workload_metrics"].items():
        print(f"  {k:28s} {m['value']} {m['unit']}", file=err)
    print(f"  {'error_rate':28s} "
          f"{ctx.failed / ctx.attempted if ctx.attempted else 0} ratio "
          f"({ctx.failed} of {ctx.attempted})", file=err)
    for w in report["wrong"]:
        print(f"  WRONG {w}", file=err)
    if report["trace"]:
        for op, row in sorted(report.get("by_op", {}).items()):
            parts = " ".join(f"{k}={v:.3f}" for k, v in
                             sorted(row["layers"].items()))
            total = sum(row["layers"].values()) + row["untraced_s"]
            print(f"  [{op}] n={row['ops']} wall={row['wall_s']:.3f}s "
                  f"layers+untraced={total:.3f}s untraced="
                  f"{row['untraced_s']:.3f}s {parts}", file=err)


if __name__ == "__main__":
    sys.exit(main())
