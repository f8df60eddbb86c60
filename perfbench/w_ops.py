"""operators_batch: the in-process operator workload — the FTS index
build, OWL-Horst maintenance (:mod:`w_infer`), then the curation chain
(:mod:`w_curate`), all called directly with no HTTP and no SPARQL
serving. One FTS match, the workload's read, follows every step.

The two parts were planned as separate workloads. One round of four
separate workloads measured 138 s on a 4-core host, which at 22 runs per
workload left under 10% of the run budget for host noise; as one process
they share a Spark session start and still put their work on disjoint
modules (``operators.inference`` against ``operators.fts/dedup/
similarity/pipeline``), which the traced run keeps apart.
"""

from __future__ import annotations

import time

import w_curate
import w_infer


def setup(ctx):
    return {"infer": w_infer.setup(ctx), "curate": w_curate.setup(ctx)}


def run(ctx, st) -> int:
    """The FTS index first; then whole maintenance cycles for half the time
    (at least one) and curation chains for the rest (at least one), with
    one FTS read after every step of either."""
    cur = st["curate"]
    reads = 0

    def read():
        nonlocal reads
        w_curate.match(ctx, cur)
        reads += 1

    seconds = ctx.seconds
    ctx.seconds = seconds / 2
    try:
        t0 = time.perf_counter()
        ops = w_curate.index(ctx, cur) + w_infer.run(ctx, st["infer"], read)
        ctx.seconds = max(0.0, seconds - (time.perf_counter() - t0))
        return ops + w_curate.run(ctx, cur, read) + reads
    finally:
        ctx.seconds = seconds


def finish(ctx, st) -> None:
    w_infer.finish(ctx, st["infer"])
    w_curate.finish(ctx, st["curate"])


def close(ctx, st) -> None:
    w_curate.close(ctx, st["curate"])
