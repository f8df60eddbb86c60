"""Vector similarity search over embedding columns (E2).

Baseline: brute-force cosine top-k — the dot product is a JVM higher-order
``aggregate(zip_with(...))`` (no Python per row), top-k via window rank.
Scale path: random-hyperplane LSH bucketing — query and corpus vectors land
in sign-bit buckets; the join is bucket-local so the candidate set shrinks
~2^bits-fold; multi-probe widens recall.

100 TB design: corpus pre-bucketed and written partitioned by bucket id;
queries broadcast; per-bucket brute force stays cache-resident.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def brute_force_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
                     vec_col: str = "embedding", id_col: str = "vec_id",
                     query_id_col: str = "query_id") -> DataFrame:
    """Exact top-k cosine neighbours per query vector.

    queries: (query_id, embedding). Small query sets broadcast; corpus scan
    is a single pass (no shuffle before the per-query window rank).
    """
    q = queries.select(F.col(query_id_col), F.col(vec_col).alias("__qv"))
    c = corpus.select(F.col(id_col), F.col(vec_col).alias("__cv"))
    scored = c.crossJoin(F.broadcast(q)).select(
        query_id_col, id_col,
        cosine(F.col("__qv"), F.col("__cv")).alias("cos"))
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cos"), F.asc(id_col))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k))


def hyperplane_bits(vec: Column, planes: list[list[float]]) -> Column:
    """LSH bucket id = sign bits of dot(vec, plane_i), packed into a long."""
    bucket = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        d = F.aggregate(
            F.zip_with(vec, F.array(*[F.lit(float(x)) for x in p]), lambda a, b: a * b),
            F.lit(0.0), lambda acc, v: acc + v)
        bucket = bucket + F.when(d > 0, F.lit(2 ** i).cast("long")).otherwise(0)
    return bucket


def random_planes(dim: int, bits: int = 8, seed: int = 42) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((bits, dim)).tolist()


def lsh_topk(corpus: DataFrame, queries: DataFrame, dim: int, k: int = 5,
             bits: int = 8, vec_col: str = "embedding", id_col: str = "vec_id",
             query_id_col: str = "query_id", seed: int = 42) -> DataFrame:
    """Approximate top-k: bucket-join on hyperplane sign bits, then exact
    cosine within the bucket. Recall < 1 by construction (documented)."""
    planes = random_planes(dim, bits, seed)
    c = corpus.select(F.col(id_col), F.col(vec_col).alias("__cv"),
                      hyperplane_bits(F.col(vec_col), planes).alias("__b"))
    q = queries.select(F.col(query_id_col), F.col(vec_col).alias("__qv"),
                       hyperplane_bits(F.col(vec_col), planes).alias("__b"))
    scored = c.join(F.broadcast(q), "__b").select(
        query_id_col, id_col, cosine(F.col("__qv"), F.col("__cv")).alias("cos"))
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cos"), F.asc(id_col))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k))


def cosine_near_dup_pairs(df: DataFrame, threshold: float = 0.999,
                          vec_col: str = "embedding",
                          id_col: str = "vec_id",
                          block_rows: int = 20_000) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a < id_b, cos >= threshold).

    Exact all-pairs via **distributed block-pair matrix multiply** — nothing
    is ever collected to the driver. The corpus is hashed into B ≈ N /
    ``block_rows`` blocks; every unordered block pair (bi ≤ bj) becomes one
    task holding the two blocks' vectors (each row is replicated B ways —
    O(N·B) shuffle versus the O(N²) pair join it replaces). Inside the task
    a single numpy matmul scores the 2 blocks and only above-threshold id
    pairs are emitted, so the quadratic similarity matrix exists one tile at
    a time in executor memory. Block size caps tile memory (~block_rows²
    floats transient, block_rows·d resident) independent of corpus size.
    """
    normed = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    n = normed.count()
    n_blocks = max(1, -(-n // block_rows))
    rep = (normed
           .withColumn("__b", F.pmod(F.xxhash64(F.col("id")), n_blocks).cast("int"))
           .withColumn("__j", F.explode(F.array(*[F.lit(i) for i in range(n_blocks)])))
           .select(F.least("__b", "__j").alias("__bi"),
                   F.greatest("__b", "__j").alias("__bj"), "id", "v", "__b"))

    def tile(key, pdf):
        bi, bj = int(key[0]), int(key[1])

        def prep(part):
            ids = part["id"].to_numpy()
            M = np.vstack(part["v"].to_numpy()).astype("float64")
            M /= np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
            return ids, M

        if not len(pdf):
            return pd.DataFrame({"id_a": [], "id_b": []})
        if bi == bj:
            ids, M = prep(pdf)
            sims = M @ M.T
        else:
            a = pdf[pdf["__b"] == bi]
            b = pdf[pdf["__b"] == bj]
            if not len(a) or not len(b):
                return pd.DataFrame({"id_a": [], "id_b": []})
            ids, M = prep(a)
            idsb, Mb = prep(b)
            sims = M @ Mb.T
        ii, jj = np.nonzero(sims >= threshold)
        ia = ids[ii]
        ib = (ids if bi == bj else idsb)[jj]
        if bi == bj:
            # full symmetric matrix: keep each unordered pair once, drop self
            keep = ia < ib
            lo, hi = ia[keep], ib[keep]
        else:
            # cross-block: each unordered pair appears exactly once
            lo, hi = np.minimum(ia, ib), np.maximum(ia, ib)
        return pd.DataFrame({"id_a": lo, "id_b": hi})

    return rep.groupBy("__bi", "__bj").applyInPandas(tile, "id_a long, id_b long")


#: k-means Lloyd partials (map partitions x centroids rows) up to this many
#: are reduced on the driver; above it the distributed groupBy reduce runs.
KMEANS_DRIVER_REDUCE_BOUND = 65_536


def _l2n(M: "np.ndarray") -> "np.ndarray":
    return M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)


def kmeans_centroids(corpus: DataFrame, n_centroids: int = 16, iters: int = 2,
                     vec_col: str = "embedding", seed: int = 42) -> "np.ndarray":
    """Distributed spherical (cosine) k-means coarse quantizer.

    Init: a sampled subset (≤ ``n_centroids`` rows collected — the only
    driver materialization anywhere in the IVF path). Each Lloyd iteration
    is one distributed pass: executors compute per-partition assignment
    partial sums against the broadcast centroid matrix (one numpy matmul
    per Arrow batch), a groupBy reduces the ≤ partitions×n_centroids
    partials, and only the ``n_centroids`` new centroid rows come back.
    """
    spark = corpus.sparkSession
    n = corpus.count()
    if n == 0:
        raise ValueError("empty corpus")
    frac = min(1.0, (n_centroids * 20.0) / n)
    init = (corpus.select(F.col(vec_col).alias("v"))
            .sample(False, frac, seed).limit(n_centroids).collect())
    C = _l2n(np.vstack([r["v"] for r in init]).astype("float64"))
    vecs = corpus.select(F.col(vec_col).alias("v"))

    # The per-iteration reduce is over ≤ partitions × n_centroids partial
    # rows. While that stays within KMEANS_DRIVER_REDUCE_BOUND (a few MB of
    # doubles), reduce the partials ON THE DRIVER: each Lloyd iteration is
    # then ONE single-stage job instead of mapInPandas → Exchange →
    # applyInPandas (r12 opt, guide §1.2/§2.4 — the shuffle existed only to
    # average ~512 tiny rows). Above the bound (a 100 TB corpus has far
    # more map partitions) the distributed groupBy reduce remains. Same
    # math either way: per-cid partial-sum mean, then L2 re-normalize.
    nparts = vecs.rdd.getNumPartitions()
    for _ in range(iters):
        bc = spark.sparkContext.broadcast(C)

        def partials(batches):
            Cm = bc.value
            sums = np.zeros_like(Cm)
            cnts = np.zeros(len(Cm), dtype="int64")
            for pdf in batches:
                if not len(pdf):
                    continue
                A = _l2n(np.vstack(pdf["v"].to_numpy()).astype("float64"))
                lab = (A @ Cm.T).argmax(1)
                np.add.at(sums, lab, A)
                np.add.at(cnts, lab, 1)
            out = pd.DataFrame({"cid": np.arange(len(Cm), dtype="int32"),
                                "s": list(sums), "c": cnts})
            yield out[out["c"] > 0]

        part_df = vecs.mapInPandas(partials, "cid int, s array<double>, c long")
        if nparts * n_centroids <= KMEANS_DRIVER_REDUCE_BOUND:
            C_new = C.copy()                   # empty clusters keep position
            sums = np.zeros_like(C)
            cnts = np.zeros(len(C), dtype="int64")
            for r in part_df.collect():        # ≤ nparts × n_centroids rows
                sums[r["cid"]] += np.asarray(r["s"])
                cnts[r["cid"]] += r["c"]
            nz = cnts > 0
            C_new[nz] = sums[nz] / cnts[nz][:, None]
        else:
            def reduce_mean(key, pdf):
                s = np.vstack(pdf["s"].to_numpy()).sum(axis=0)
                return pd.DataFrame({"cid": [int(key[0])],
                                     "cv": [list(s / pdf["c"].sum())]})

            rows = (part_df
                    .groupBy("cid").applyInPandas(reduce_mean,
                                                  "cid int, cv array<double>")
                    .collect())                # ≤ n_centroids rows
            C_new = C.copy()                   # empty clusters keep position
            for r in rows:
                C_new[r["cid"]] = r["cv"]
        C = _l2n(C_new)
    return C


def _assign_cid(df: DataFrame, C: "np.ndarray", vec_col: str) -> DataFrame:
    """Append ``__cid`` = argmax-cosine centroid, one matmul per Arrow batch."""
    from pyspark.sql.types import IntegerType, StructField, StructType
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(C)
    out_schema = StructType(df.schema.fields + [StructField("__cid", IntegerType())])

    def assign(batches):
        Cm = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            A = _l2n(np.vstack(pdf[vec_col].to_numpy()).astype("float64"))
            pdf = pdf.copy()
            pdf["__cid"] = (A @ Cm.T).argmax(1).astype("int32")
            yield pdf

    return df.mapInPandas(assign, out_schema)


def _probe_cids(queries: DataFrame, C: "np.ndarray", n_probe: int,
                vec_col: str) -> DataFrame:
    """Explode each query to its ``n_probe`` nearest centroid ids."""
    from pyspark.sql.types import IntegerType, StructField, StructType
    spark = queries.sparkSession
    bc = spark.sparkContext.broadcast(C)
    out_schema = StructType(queries.schema.fields + [StructField("__cid", IntegerType())])

    def probe(batches):
        Cm = bc.value
        m = min(n_probe, len(Cm))
        for pdf in batches:
            if not len(pdf):
                continue
            A = _l2n(np.vstack(pdf[vec_col].to_numpy()).astype("float64"))
            order = np.argsort(-(A @ Cm.T), axis=1)[:, :m]
            rep = pdf.iloc[np.repeat(np.arange(len(pdf)), m)].copy()
            rep["__cid"] = order.ravel().astype("int32")
            yield rep

    return queries.mapInPandas(probe, out_schema)


def ivf_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
             n_centroids: int = 16, n_probe: int = 4,
             vec_col: str = "embedding", id_col: str = "vec_id",
             query_id_col: str = "query_id", iters: int = 2) -> DataFrame:
    """IVF approximate top-k cosine search (E2 scale path).

    Coarse quantizer: distributed spherical k-means (:func:`kmeans_centroids`
    — broadcast centroid matrix, per-partition partial sums; the driver only
    ever sees ``n_centroids`` rows). Corpus vectors are bucketed by nearest
    centroid; each query probes its ``n_probe`` nearest buckets and
    brute-forces only those candidates. For a persisted index with real
    partition pruning see :func:`write_ivf_index` / :func:`ivf_probe_index`.
    """
    C = kmeans_centroids(corpus, n_centroids, iters, vec_col)
    assigned = _assign_cid(corpus, C, vec_col)
    probes = _probe_cids(
        queries.select(query_id_col, F.col(vec_col).alias("__qv")),
        C, n_probe, "__qv")
    cand = assigned.join(F.broadcast(probes), "__cid").select(
        query_id_col, id_col,
        cosine(F.col("__qv"), F.col(vec_col)).alias("cos"))
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cos"), F.asc(id_col))
    return (cand.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k))


def write_ivf_index(corpus: DataFrame, path: str, n_centroids: int = 16,
                    iters: int = 2, vec_col: str = "embedding") -> "np.ndarray":
    """Persist the IVF index in the 100 TB layout: corpus parquet written
    ``partitionBy("__cid")`` (a probe then reads ONLY its bucket partitions —
    verified as PartitionFilters in the scan) plus a tiny centroids table."""
    C = kmeans_centroids(corpus, n_centroids, iters, vec_col)
    assigned = _assign_cid(corpus, C, vec_col)
    assigned.write.mode("overwrite").partitionBy("__cid").parquet(path + "/corpus")
    spark = corpus.sparkSession
    cent = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(C)],
        "cid int, cv array<double>")
    cent.write.mode("overwrite").parquet(path + "/centroids")
    return C


def ivf_probe_index(spark, path: str, queries: DataFrame, k: int = 5,
                    n_probe: int = 4, vec_col: str = "embedding",
                    id_col: str = "vec_id",
                    query_id_col: str = "query_id") -> DataFrame:
    """Query a persisted IVF index; the bucket filter prunes parquet
    partitions (the scan never touches non-probed buckets)."""
    cent_rows = spark.read.parquet(path + "/centroids").collect()  # ≤ C rows
    C = np.zeros((len(cent_rows), len(cent_rows[0]["cv"])))
    for r in cent_rows:
        C[r["cid"]] = r["cv"]
    probes = _probe_cids(
        queries.select(query_id_col, F.col(vec_col).alias("__qv")),
        C, n_probe, "__qv")
    probe_set = [int(r["__cid"]) for r in probes.select("__cid").distinct().collect()]
    corpus = (spark.read.parquet(path + "/corpus")
              .filter(F.col("__cid").isin(probe_set)))   # PartitionFilters
    cand = corpus.join(F.broadcast(probes), "__cid").select(
        query_id_col, id_col,
        cosine(F.col("__qv"), F.col(vec_col)).alias("cos"))
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cos"), F.asc(id_col))
    return (cand.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k))


# ------------------------------------------------------- int8 quantization


def quantize_embeddings(df: DataFrame, vec_col: str = "embedding",
                        id_col: str = "vec_id") -> DataFrame:
    """Symmetric per-vector int8 scalar quantization (round 5): the 100 TB
    storage lever for embedding tables — 4x smaller than float32 (and the
    fixture's float64 arrays shrink 8x), with recall loss bounded by the
    1/127 quantization step.

    All-JVM column math: ``scale = max(|x|)/127``, ``q = round(x/scale)``
    stored as ``array<tinyint>`` + one float scale per row. No UDFs.
    """
    v = F.col(vec_col)
    scale = F.greatest(
        F.array_max(F.transform(v, lambda x: F.abs(x))) / F.lit(127.0),
        F.lit(1e-12))
    q = F.transform(v, lambda x: F.round(x / scale).cast("tinyint"))
    return df.select(F.col(id_col), q.alias("q8"),
                     scale.cast("float").alias("scale"))


def dequantize_embeddings(df: DataFrame, id_col: str = "vec_id") -> DataFrame:
    """Inverse of :func:`quantize_embeddings` → ``array<float>``."""
    x = F.transform(F.col("q8"),
                    lambda e: e.cast("float") * F.col("scale"))
    return df.select(F.col(id_col), x.alias("embedding"))


def quantized_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
                   vec_col: str = "embedding",
                   id_col: str = "vec_id") -> DataFrame:
    """Brute-force cosine top-k over the int8-quantized corpus: quantize,
    dequantize on the fly, rank — the memory-bandwidth-bound shape a
    quantized ANN serving tier uses. Returns (query_id, vec_id, cos, rank)
    like brute_force_topk; recall vs the float path is pinned in tests."""
    deq = dequantize_embeddings(quantize_embeddings(corpus, vec_col, id_col),
                                id_col)
    return brute_force_topk(deq, queries, k=k)


def semantic_dedup(df: DataFrame, threshold: float = 0.95,
                   n_centroids: int = 16, iters: int = 2,
                   vec_col: str = "embedding", id_col: str = "vec_id",
                   seed: int = 42, centroids: "np.ndarray" = None) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): embedding
    near-dups are only searched WITHIN k-means clusters, replacing the
    O(N²) all-pairs problem with O(Σ cluster²):

    1. distributed spherical k-means coarse clusters (driver sees only
       the ≤ ``n_centroids`` centroid rows),
    2. same-cluster cosine pairs ≥ ``threshold`` via a join keyed on the
       cluster id (vectors never leave their cluster — at 100 TB each
       cluster is a co-partitioned bucket),
    3. min-id dominance keep-rule: a vector is dropped iff some
       same-cluster neighbor above the threshold has a smaller id —
       deterministic, single join, no iterative component resolution
       (the exact-dup/cascade operators in dedup.py cover that need).

    Returns ``(id_col, __cid, keep)`` for every input row. Like the other
    sketch operators this is approximate by construction (near-dup pairs
    split across cluster boundaries are missed — the SemDeDup trade);
    identical vectors always share a cluster, so exact duplicates are
    always caught. Recall bounds are asserted in tests.
    """
    # ``centroids`` replaces the k-means step with caller-fixed cluster
    # seeds (r6): the pair scan + dominance rule are then exactly
    # oracle-replicable in SQL (entry ext_semantic_pairs), while the
    # default k-means path stays the scale configuration.
    C = centroids if centroids is not None \
        else kmeans_centroids(df, n_centroids, iters, vec_col, seed)
    a = _assign_cid(df.select(id_col, vec_col), C, vec_col)
    left = a.select("__cid", F.col(id_col).alias("id_a"),
                    F.col(vec_col).alias("__va"))
    right = a.select("__cid", F.col(id_col).alias("id_b"),
                     F.col(vec_col).alias("__vb"))
    dominated = (left.join(right, "__cid")
                 .filter(F.col("id_a") < F.col("id_b"))
                 .filter(cosine(F.col("__va"), F.col("__vb"))
                         >= F.lit(threshold))
                 .select(F.col("id_b").alias(id_col))
                 .dropDuplicates())
    return (a.select(id_col, "__cid")
            .join(dominated.withColumn("__drop", F.lit(True)), id_col, "left")
            .select(id_col, "__cid",
                    F.coalesce(~F.col("__drop"), F.lit(True)).alias("keep")))
