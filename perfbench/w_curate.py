"""curation_batch: the LLM-data-pipeline operators as one driver-side
chain over seed-generated documents and embeddings (no SPARQL).

The FTS index is built once, first. The chain, repeated until the time is
up (at least once): exact dedup, MinHash near-dup, BM25, bigram-LM
scoring, token-budget packing and IVF top-k. (The Gopher quality filter
and the corpus line dedup are left out: they add 6 s of first-run cost
per run on 4 cores and exercise the same module as BM25 and the LM
score.) Each step is one operation, timed from the call into the operator
module until its result is collected. The FTS match queries are the
workload's reads: :func:`match` runs one, and the caller spreads them
between the other steps, so that their median covers the whole run and
not one stretch of it, which made it swing between runs. Dedup counts are
checked against the duplicates the generator injected and FTS hits
against a token-exact DuckDB match.
"""

from __future__ import annotations

import time

import numpy as np

import gen

def setup(ctx):
    n_docs = 500 if ctx.tiny else 2_000
    pdf, truth = gen.documents(ctx.seed, n_docs)
    emb = gen.embeddings(ctx.seed, 500 if ctx.tiny else 1_000)
    spark = ctx.spark
    docs = (spark.createDataFrame(pdf).repartition(ctx.cores)
            .localCheckpoint())
    vecs = (spark.createDataFrame(
        emb, "vec_id long, embedding array<float>, label int")
        .repartition(ctx.cores).localCheckpoint())
    rng = np.random.default_rng([ctx.seed, 40])
    vocab = truth["vocab"]
    queries = [(vocab[int(a)], vocab[int(b)])
               for a, b in rng.integers(5, 60, size=(64, 2)) if a != b]
    return {"pdf": pdf, "truth": truth, "docs": docs, "vecs": vecs,
            "queries": queries, "qi": 0, "n": n_docs, "steps": {}}


def _step(ctx, st, name: str, module: str, fn, check) -> None:
    kind = "read" if name == "fts_match" else "operator"
    t0 = time.perf_counter()
    try:
        with ctx.tracer.op(kind, f"operators.{module}"):
            out = fn()
        dt = time.perf_counter() - t0
        why = check(out)
    except Exception as e:  # noqa: BLE001 — counted as a failure
        dt, why = time.perf_counter() - t0, repr(e)[:200]
    ctx.record(kind, dt, not why, f"{name}: {why}")
    st["steps"].setdefault(name, []).append(dt)


def index(ctx, st) -> int:
    """Build the FTS index (one operation)."""
    from pyspark.sql import functions as F

    from graphdb_free_mocha_sa_spark.operators import fts

    def build():
        st["idx"] = fts.index_from_docs(ctx.spark, st["docs"].select(
            F.col("doc_id").cast("string").alias("node"), "text"))
        return st["idx"].n_docs

    _step(ctx, st, "fts_build", "fts", build,
          lambda got: "" if got == st["n"] else f"{got} != {st['n']}")
    return 1


def match(ctx, st) -> None:
    """One FTS AND query of two seed-drawn terms, checked against a
    token-exact DuckDB match."""
    from graphdb_free_mocha_sa_spark.operators import fts
    a, b = st["queries"][st["qi"] % len(st["queries"])]
    st["qi"] += 1
    want = _token_match(st, a, b)
    if ctx.tamper and not st.get("tampered"):
        want = want + [-1]
        st["tampered"] = True
    _step(ctx, st, "fts_match", "fts",
          lambda: sorted(int(r["node"]) for r in fts.fts_match(
              ctx.spark, st["idx"], f"{a} AND {b}").collect()),
          lambda got: "" if got == want else f"{len(got)} hits, "
          f"want {len(want)}")


def _chain(ctx, st, between) -> int:
    """One chain; ``between()`` runs after every step."""
    from pyspark.sql import functions as F

    from graphdb_free_mocha_sa_spark.operators import (dedup, pipeline,
                                                       similarity, text)
    docs, n = st["docs"], st["n"]
    truth = st["truth"]
    expect = {"exact": truth["exact_pairs"],
              "pairs": truth["exact_pairs"] + truth["near_pairs"]}

    def eq(want):
        return lambda got: "" if got == want else f"{got} != {want}"

    def step(*a):
        _step(ctx, st, *a)
        between()

    step("exact_dedup", "dedup",
         lambda: dedup.exact_hash_dedup(docs)
         .filter(F.col("dup_count") > 1).count(), eq(expect["exact"]))
    step("minhash", "dedup",
         lambda: dedup.minhash_lsh_candidates(docs)
         .filter(F.col("jaccard") >= 0.9).count(), eq(expect["pairs"]))
    a, b = st["queries"][st["qi"] % len(st["queries"])]
    step("bm25", "pipeline",
         lambda: pipeline.bm25_search(docs, [a, b], k=15).collect(),
         lambda rows: "" if len(rows) == 15 else f"{len(rows)} hits")
    step("lm_score", "pipeline",
         lambda: pipeline.lm_score(docs.select("doc_id", "text")).count(),
         eq(n))
    step("pack", "pipeline",
         lambda: pipeline.pack_token_budget(
             docs.select("doc_id",
                         text.token_count(F.col("text")).alias("n_tok")),
             budget=512).agg(F.max("seq_id")).first()[0],
         eq(gen.WORDS * (n - 1) // 512))
    queries = st["vecs"].where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding")
    step("ivf_topk", "similarity",
         lambda: similarity.ivf_topk(st["vecs"], queries, k=5,
                                     n_centroids=8, iters=1)
         .where(F.col("rank") == 1).select("query_id", "vec_id").collect(),
         lambda rows: "" if sorted((r[0], r[1]) for r in rows)
         == [(i, i) for i in range(4)] else f"self-hits {rows}")
    return 6


def _token_match(st, a: str, b: str) -> list[int]:
    """Token-exact expected FTS hits, from DuckDB over the input frame."""
    import duckdb
    con = st.get("duck")
    if con is None:
        con = st["duck"] = duckdb.connect()
        con.register("docs", st["pdf"][["doc_id", "text"]])
    rows = con.execute(
        "SELECT doc_id FROM docs WHERE list_contains(string_split(text, ' '),"
        " ?) AND list_contains(string_split(text, ' '), ?) ORDER BY doc_id",
        [a, b]).fetchall()
    return [r[0] for r in rows]


def run(ctx, st, between) -> int:
    """Chains until the time is up (at least one); the index must exist."""
    deadline = time.perf_counter() + ctx.seconds
    ops, chains = 0, 0
    t0 = time.perf_counter()
    while chains == 0 or time.perf_counter() < deadline:
        ops += _chain(ctx, st, between)
        chains += 1
    wall = time.perf_counter() - t0
    ctx.metric("pipeline_docs_per_s", chains * st["n"] / wall, "docs/s")
    ctx.metric("chains", chains, "count")
    return ops


def finish(ctx, st) -> None:
    """Every check ran inside its step; report each step's median."""
    from harness import median
    for name, ts in st["steps"].items():
        ctx.metric(f"step.{name}_s", median(ts), "s")


def close(ctx, st) -> None:
    con = st.pop("duck", None)
    if con is not None:
        con.close()
