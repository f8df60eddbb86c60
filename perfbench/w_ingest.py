"""ingest_versioned: versioned bulk load, a streamed backlog, then served
writes with a reader beside them, on a fresh ``DurableQuadStore``.

Bulk phase: two seed-generated N-Triples version files (26k statements
each) are parsed by ``sources.rdf.read_ntriples`` and committed
with ``load_version`` into ``http://graph.version.N``, which puts the store
just above the engine's 50k-quad dictionary-encoding threshold; then a
backlog of INSERT DATA message files is replayed with
``stream_inserts_from_files``.

Served phase: one closed-loop HTTP writer sends ``WRITES_PER_S`` requests
per second of ``--seconds`` (a fixed count, so every run does the same
writes): first a DELETE DATA of the oldest backlog batch, then
20-statement INSERT DATA batches. One HTTP reader runs beside the inserts:
after the delete is acknowledged it sends ``READS`` batch censuses (torn
batches, read-after-acknowledged-write). Fixed counts keep the mix the same
in every run: at this commit every read after a write rebuilds the term
dictionary (about 9 s on 4 cores), so a time-bounded reader made one or
two reads per run at random, and a delete (a rewrite of the whole base)
running beside the read made its time swing.
After the phase the store is reopened from disk and every acknowledged
write must be there. The flush policy is the store's own (parquet segment
write, then an atomic rename of the log entry); the benchmark changes
nothing about it.
"""

from __future__ import annotations

import json
import os
import threading
import time

import answers
import gen
import harness as H

STREAM_GRAPH = "urn:g:stream"
BATCH = 20
WRITES_PER_S = 1.5
READS = 1
BACKLOG = 30
VERSIONS = 2
#: a set-up takes about 0.1 s, so setup_s is the median of many
SETUP_REPS = 11
CENSUS = (f"SELECT ?b (COUNT(?s) AS ?n) WHERE {{ GRAPH <{STREAM_GRAPH}> "
          f"{{ ?s <{gen.P}batch> ?b }} }} GROUP BY ?b")


def setup(ctx):
    from graphdb_free_mocha_sa_spark import DurableQuadStore, Engine
    base = ctx.dirs.fresh("ingest")
    subjects = 300 if ctx.tiny else 6500
    versions = gen.version_files(os.path.join(base, "nt"), ctx.seed,
                                 VERSIONS, subjects)
    backlog = gen.message_files(os.path.join(base, "msgs"),
                                6 if ctx.tiny else BACKLOG, BATCH, 0,
                                STREAM_GRAPH)
    store = DurableQuadStore(ctx.spark, os.path.join(base, "store"))
    eng = Engine(ctx.spark, store)
    srv, th = H.start_server(eng)
    return {"base": base, "versions": versions, "backlog": backlog,
            "store": store, "srv": srv, "th": th, "store_path": store.path}


def _bulk(ctx, st) -> tuple[int, float]:
    from graphdb_free_mocha_sa_spark.sources.rdf import read_ntriples
    from graphdb_free_mocha_sa_spark.streaming.ingest import (
        stream_inserts_from_files)
    store = st["store"]
    quads = 0
    t0 = time.perf_counter()
    for v, (path, n) in enumerate(st["versions"]):
        graph = f"http://graph.version.{v}"
        t1 = time.perf_counter()
        with ctx.tracer.op("bulk"):
            with ctx.tracer.span("sources.read_ntriples", "sources"):
                df = read_ntriples(ctx.spark, path, graph).localCheckpoint()
            store.load_version(df, graph)
        ctx.record("bulk", time.perf_counter() - t1)
        quads += n
    t1 = time.perf_counter()
    with ctx.tracer.op("bulk"):
        stream_inserts_from_files(ctx.spark, store,
                                  os.path.join(st["base"], "msgs"))
    ctx.record("bulk", time.perf_counter() - t1)
    quads += BATCH * len(st["backlog"])
    return quads, time.perf_counter() - t0


def run(ctx, st) -> int:
    bulk_quads, bulk_s = _bulk(ctx, st)
    ctx.metric("bulk_load_quads_per_s", bulk_quads / bulk_s, "quads/s")
    st["bulk_quads"] = bulk_quads
    port = st["srv"].server_address[1]
    t_start = time.perf_counter()
    writes = max(2, round(WRITES_PER_S * ctx.seconds))
    # batch -> [insert sent, insert acked, delete sent, delete acked]
    log: dict[int, list] = {b: [0.0, t_start, None, None]
                            for b in st["backlog"]}
    reads: list = []
    progress = threading.Condition()
    counts = {"writes": 0, "acked_quads": 0, "writer_s": 0.0, "done": False}

    def writer() -> None:
        cl = H.Client(port)
        b = len(st["backlog"])
        live = list(st["backlog"])
        n = 0
        t0 = time.perf_counter()
        try:
            while n < writes:
                n += 1
                if n == 1:
                    victim = live.pop(0)
                    text = "DELETE DATA { " + gen.batch_quads(
                        victim, BATCH, STREAM_GRAPH) + " }"
                    kind = "delete"
                    log[victim][2] = time.perf_counter()
                else:
                    victim = b
                    text = "INSERT DATA { " + gen.batch_quads(
                        b, BATCH, STREAM_GRAPH) + " }"
                    kind = "insert"
                    log[b] = [time.perf_counter(), None, None, None]
                    b += 1
                op_id = ctx.tracer.new_op_id()
                with ctx.tracer.op(kind, "server", op_id, direct=False):
                    code, body, dt = cl.update(text, op_id)
                ok = code == 200 and json.loads(body).get("ok") is True
                ctx.record(kind, dt, ok, f"HTTP {code} {body[:200]!r}")
                if ok and kind == "insert":
                    log[victim][1] = time.perf_counter()
                    live.append(victim)
                    counts["acked_quads"] += BATCH
                elif ok:
                    log[victim][3] = time.perf_counter()
                with progress:
                    counts["writes"] += 1
                    progress.notify_all()
        finally:
            counts["writer_s"] = time.perf_counter() - t0
            cl.close()
            with progress:
                counts["done"] = True
                progress.notify_all()

    def reader() -> None:
        cl = H.Client(port)
        try:
            for k in range(READS):
                trigger = 1 + k * writes // READS
                with progress:
                    progress.wait_for(lambda: counts["done"]
                                      or counts["writes"] >= trigger,
                                      timeout=170)
                op_id = ctx.tracer.new_op_id()
                sent = time.perf_counter()
                with ctx.tracer.op("read", "server", op_id, direct=False):
                    code, body, dt = cl.query(
                        CENSUS, answers.ACCEPT["json"], op_id)
                reads.append((sent, time.perf_counter(), code, body, dt))
        finally:
            cl.close()

    threads = [threading.Thread(target=writer), threading.Thread(target=reader)]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=ctx.seconds + 170)
    st["log"], st["reads"] = log, reads
    ctx.metric("ingest_quads_per_s",
               counts["acked_quads"] / counts["writer_s"], "quads/s")
    return len(st["versions"]) + 1 + counts["writes"] + len(reads)


def _census_ok(log: dict, sent: float, done: float, rows,
               batch: int) -> str:
    """'' when a census answer is consistent with the writer's log."""
    seen = {}
    for b, n in rows:
        seen[int(float(b))] = int(float(n))
    torn = [b for b, n in seen.items() if n != batch]
    if torn:
        return f"torn batches {torn[:5]}"
    for b, (ins_sent, ins_ack, del_sent, del_ack) in log.items():
        must = (ins_ack is not None and ins_ack < sent
                and (del_sent is None or del_sent > done))
        gone = (del_ack is not None and del_ack < sent) or ins_sent > done
        if must and b not in seen:
            return f"acknowledged batch {b} missing"
        if gone and b in seen:
            return f"batch {b} visible outside its lifetime"
    return ""


def finish(ctx, st) -> None:
    from graphdb_free_mocha_sa_spark import DurableQuadStore
    from pyspark.sql import functions as F
    log = st["log"]
    for sent, done, code, body, dt in st["reads"]:
        if code != 200:
            ctx.record("read", dt, False, f"HTTP {code}")
            continue
        got = answers.parse(body, "json")
        if got == answers.SENTINEL:
            ctx.record("read", dt, False, "sentinel")
            continue
        why = _census_ok(log, sent, done, got[1], BATCH + ctx.tamper)
        ctx.record("read", dt, not why, why)
    # durability: reopen from the files alone
    reopened = DurableQuadStore(ctx.spark, st["store_path"])
    rows = (reopened.df.groupBy(
        F.when(F.col("p") == gen.P + "batch", F.col("o_lex")).alias("b"))
        .count().collect())
    on_disk = {int(r["b"]): r["count"] for r in rows if r["b"] is not None}
    total = sum(r["count"] for r in rows)
    live = {b for b, (_s, ack, _ds, dack) in log.items()
            if ack is not None and dack is None}
    deleted = {b for b, (_s, _a, _ds, dack) in log.items() if dack is not None}
    missing = sorted(b for b in live if on_disk.get(b) != BATCH)
    ctx.check(not missing, f"acknowledged batches lost on reopen {missing[:5]}")
    back = sorted(b for b in deleted if b in on_disk)
    ctx.check(not back, f"deleted batches back after reopen {back[:5]}")
    want = st["bulk_quads"] + BATCH * (len(live) - len(st["backlog"]))
    ctx.check(total == want, f"reopened store holds {total} quads, not {want}")
    nbytes = sum(os.path.getsize(os.path.join(d, f))
                 for d, _, fs in os.walk(st["store_path"]) for f in fs)
    ctx.metric("store_bytes_per_quad", nbytes / total, "bytes/quad")
    with open(_latest_log(st["store_path"])) as fh:
        entry = json.load(fh)
    ctx.layer_extra["store.live_segments"] = len(entry["segments"])
    logical = sum(os.path.getsize(p) for p, _ in st["versions"])
    logical += sum(len(gen.batch_quads(b, BATCH, STREAM_GRAPH))
                   for b, v in log.items() if v[1] is not None)
    ctx.layer_extra["store.write_amp"] = nbytes / logical
    ins = ctx.lat.get("insert", [])
    dels = ctx.lat.get("delete", [])
    ctx.metric("insert_p50_s", H.median(ins), "s")
    ctx.metric("delete_p50_s", H.median(dels), "s")
    ctx.metric("acked_batches", len(live), "count")


def _latest_log(path: str) -> str:
    d = os.path.join(path, "_log")
    return os.path.join(d, sorted(n for n in os.listdir(d)
                                  if n.endswith(".json"))[-1])


def close(ctx, st) -> None:
    H.stop_server(st["srv"], st["th"])
