"""Deduplication operators for large-scale training-data pipelines (E1).

All variants are expressed with native Spark SQL functions (higher-order
array lambdas, xxhash64) so the hot path is JVM-side whole-stage codegen —
no Python executes per row except the documented SimHash Pandas UDF (Arrow
batched).

Scale notes (100 TB): exact dedup is a single hash-shuffle on the digest;
MinHash LSH shuffles (band_id, band_hash) pairs — the candidate join is
band-local so skew is bounded by band width; verification joins only
candidate pairs, never the full cross product.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# ---------------------------------------------------------------- exact


def exact_dedup(df: DataFrame, cols: list[str], id_col: str = "doc_id") -> DataFrame:
    """Keep one representative (min id) per distinct value of ``cols``.

    Hash-groupBy dedup: one shuffle on the dedup key. Equivalent oracle:
    ``SELECT min(id) ... GROUP BY cols``.
    """
    return df.groupBy(*cols).agg(F.min(id_col).alias(id_col)) \
             .select(id_col, *cols)


def exact_hash_dedup(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Digest-based exact dedup: group on sha2 of the text, keep min id.

    At scale the 32-byte digest shuffles instead of the document body.
    """
    digest = F.sha2(F.col(text_col), 256).alias("digest")
    return (df.select(F.col(id_col), digest)
            .groupBy("digest").agg(F.min(id_col).alias(id_col),
                                   F.count(F.lit(1)).alias("dup_count")))


# ---------------------------------------------------------------- shingles


def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles, all-JVM (split + higher-order slice).

    The word array is bound to a lambda VARIABLE via a single-element
    ``transform`` wrapper so the regex split evaluates ONCE per row —
    referencing the raw split expression inside the per-shingle lambda
    would re-run it per element (interpreted higher-order functions do
    no common-subexpression elimination)."""
    words = F.split(F.lower(F.trim(text)), r"\W+")
    words = F.filter(words, lambda w: F.length(w) > 0)

    def shingles_of(ws: Column) -> Column:
        k = F.greatest(F.size(ws) - F.lit(n - 1), F.lit(1))
        idx = F.sequence(F.lit(1), k)
        return F.array_distinct(
            F.transform(idx, lambda i: F.concat_ws(" ", F.slice(ws, i, n))))

    return F.element_at(F.transform(F.array(words), shingles_of), 1)


# ---------------------------------------------------------------- MinHash LSH


def _minhash_sig_table(df: DataFrame, text_col: str, id_col: str,
                       n: int, num_hashes: int) -> DataFrame:
    """Per-doc MinHash signature table ``(id, shh, sig)``.

    Signature via flat relational ops (explode → hash once → ``num_hashes``
    min aggregates): stays in whole-stage codegen with map-side partial
    aggregation, unlike nested array lambdas which Spark evaluates
    interpreted per element. Shuffle payload: ``num_hashes`` longs per doc.
    ``shh`` (the hashed shingle set) rides along for candidate
    verification — exact Jaccard over 8-byte hashes instead of
    re-shingling the documents.
    """
    spark = df.sparkSession
    if df.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism:
        # Fixture parquet arrives as one row-group = one partition; the
        # shingling is CPU-bound, so spread it. (A real 100 TB input already
        # has thousands of splits — this branch never fires there.)
        df = df.repartition(spark.sparkContext.defaultParallelism)
    base = (df.select(F.col(id_col).alias("id"),
                      word_shingles(F.col(text_col), n).alias("sh"))
            .where(F.size("sh") > 0))
    ex = (base.select("id", F.explode("sh").alias("shingle"))
          .withColumn("h", F.xxhash64("shingle")))
    sig_tbl = ex.groupBy("id").agg(
        *[F.min(F.xxhash64("h", F.lit(s))).alias(f"m{s}")
          for s in range(num_hashes)],
        F.collect_set("h").alias("shh"))
    return sig_tbl.select(
        "id", "shh",
        F.array(*[f"m{s}" for s in range(num_hashes)]).alias("sig"))


def _band_rows(sig_tbl: DataFrame, bands: int, rows: int) -> DataFrame:
    """LSH band rows ``(id, band, bh)`` — carry only 24 bytes/row through
    the bucket-join shuffle; the shingle arrays stay behind and are
    re-joined for the (much smaller) candidate set only."""
    band_idx = F.sequence(F.lit(0), F.lit(bands - 1))
    return (sig_tbl
            .select("id", F.explode(F.transform(band_idx, lambda b: F.struct(
                b.alias("band"),
                F.xxhash64(F.concat_ws(",", F.transform(
                    F.slice(F.col("sig"), b * rows + 1, rows),
                    lambda x: x.cast("string")))).alias("bh")))).alias("bb"))
            .select("id", F.col("bb.band").alias("band"),
                    F.col("bb.bh").alias("bh")))


def minhash_lsh_candidates(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id", n: int = 3,
                           num_hashes: int = 32, bands: int = 8) -> DataFrame:
    """Candidate near-duplicate pairs via banded MinHash LSH.

    shingle → minhash → band → bucket-join (SURVEY E1): docs sharing any
    band hash become candidates; returns (id_a, id_b, jaccard) verified with
    the exact shingle-set Jaccard (array_intersect/union on candidates only).
    """
    rows = num_hashes // bands
    sig_tbl = _minhash_sig_table(df, text_col, id_col, n, num_hashes) \
        .persist()
    banded = _band_rows(sig_tbl, bands, rows)

    left = banded.alias("l")
    right = banded.alias("r")
    cand = (left.join(right, (F.col("l.band") == F.col("r.band"))
                      & (F.col("l.bh") == F.col("r.bh"))
                      & (F.col("l.id") < F.col("r.id")))
            .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
            .dropDuplicates(["id_a", "id_b"]))

    sh_a = sig_tbl.select(F.col("id").alias("id_a"), F.col("shh").alias("sh_a"))
    sh_b = sig_tbl.select(F.col("id").alias("id_b"), F.col("shh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    return (cand.join(sh_a, "id_a").join(sh_b, "id_b")
            .select("id_a", "id_b", (inter / union).alias("jaccard")))


def minhash_band_table(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", n: int = 3,
                       num_hashes: int = 8, bands: int = 4,
                       hasher: str = "xxhash64") -> DataFrame:
    """Deterministic LSH band table ``(id, band, bh)`` — the exact
    subcomputation behind ``minhash_lsh_candidates``' bucket join, exposed
    so an external SQL engine can reproduce it bit-for-bit when
    ``hasher='md5'`` (oracle evidence for the sketch operator, the same
    pattern ``simhash(hasher='md5')`` provides for SimHash).

    Hash chain (md5-portable path): token hash ``h = signed64(md5(
    shingle))``; per-seed rehash ``signed64(md5(str(h) || ':' || seed))``;
    band hash ``signed64(md5(csv of the band's seed minima))``. The
    xxhash64 default keeps the fast production chain of
    ``_minhash_sig_table``/``_band_rows``.
    """
    rows = num_hashes // bands
    md5p = hasher == "md5"
    hash1 = _md5_hash64 if md5p else F.xxhash64

    def rehash(hcol: Column, seed: int) -> Column:
        if md5p:
            return _md5_hash64(F.concat(hcol.cast("string"),
                                        F.lit(f":{seed}")))
        return F.xxhash64(hcol, F.lit(seed))

    base = (df.select(F.col(id_col).alias("id"),
                      word_shingles(F.col(text_col), n).alias("sh"))
            .where(F.size("sh") > 0))
    ex = (base.select("id", F.explode("sh").alias("shingle"))
          .withColumn("h", hash1(F.col("shingle"))))
    sig = ex.groupBy("id").agg(
        *[F.min(rehash(F.col("h"), s)).alias(f"m{s}")
          for s in range(num_hashes)])
    band_structs = []
    for b in range(bands):
        key = F.concat_ws(",", *[F.col(f"m{b * rows + r}").cast("string")
                                 for r in range(rows)])
        band_structs.append(F.struct(
            F.lit(b).alias("band"),
            (_md5_hash64(key) if md5p else F.xxhash64(key)).alias("bh")))
    return (sig.select("id", F.explode(F.array(*band_structs)).alias("bb"))
            .select("id", F.col("bb.band").alias("band"),
                    F.col("bb.bh").alias("bh")))


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", n: int = 3,
                        threshold: float = 0.8,
                        prefix_filter: bool = True) -> DataFrame:
    """Exact n-gram Jaccard similarity join via an inverted shingle index
    with a **PPJoin-style prefix filter** (lossless for Jaccard ≥ t).

    Candidate generation: two shingle sets with Jaccard ≥ t MUST share a
    token inside each set's first ``|S| - ceil(t·|S|) + 1`` tokens under a
    global canonical order (ascending document frequency — the rarest
    tokens first, so prefixes collide rarely). The inverted-index self-join
    therefore runs over prefix tokens only; candidate count shrinks from
    Ω(all collisions) to near the true pair count at high thresholds — the
    100 TB knob the plain index lacks. A length filter (t·|A| ≤ |B|) prunes
    further. Verification recounts the FULL intersection per candidate and
    applies the exact Jaccard, so results are identical to the unfiltered
    join (asserted in tests); every step remains a codegen'd hash
    join/aggregate, no per-row array intersection.
    """
    spark = df.sparkSession
    if df.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism:
        df = df.repartition(spark.sparkContext.defaultParallelism)
    sh = (df.select(F.col(id_col).alias("id"),
                    F.explode(word_shingles(F.col(text_col), n))
                    .alias("shingle"))
          .select("id", F.xxhash64("shingle").alias("h"))
          .dropDuplicates(["id", "h"]))
    sizes = sh.groupBy("id").count()

    if prefix_filter:
        from pyspark.sql import Window
        freq = sh.groupBy("h").agg(F.count(F.lit(1)).alias("__df"))
        ranked = (sh.join(freq, "h")
                  .withColumn("__rk", F.row_number().over(
                      Window.partitionBy("id").orderBy("__df", "h"))))
        pref = (ranked.join(sizes, "id")
                .where(F.col("__rk") <=
                       F.col("count") - F.ceil(F.lit(threshold) * F.col("count")) + 1)
                .select("id", "h"))
        cand = (pref.alias("a")
                .join(pref.alias("b"), (F.col("a.h") == F.col("b.h"))
                      & (F.col("a.id") < F.col("b.id")))
                .select(F.col("a.id").alias("id_a"),
                        F.col("b.id").alias("id_b"))
                .dropDuplicates())
        # verify: full intersection count, restricted to candidates
        inter = (cand
                 .join(sh.select(F.col("id").alias("id_a"), "h"), "id_a")
                 .join(sh.select(F.col("id").alias("id_b"), "h"),
                       ["id_b", "h"])
                 .groupBy("id_a", "id_b")
                 .agg(F.count(F.lit(1)).alias("inter")))
    else:
        inter = (sh.alias("a")
                 .join(sh.alias("b"), (F.col("a.h") == F.col("b.h"))
                       & (F.col("a.id") < F.col("b.id")))
                 .groupBy(F.col("a.id").alias("id_a"),
                          F.col("b.id").alias("id_b"))
                 .agg(F.count(F.lit(1)).alias("inter")))
    jac = (inter
           .join(sizes.select(F.col("id").alias("id_a"),
                              F.col("count").alias("na")), "id_a")
           .join(sizes.select(F.col("id").alias("id_b"),
                              F.col("count").alias("nb")), "id_b")
           .select("id_a", "id_b",
                   (F.col("inter").cast("double")
                    / (F.col("na") + F.col("nb") - F.col("inter")))
                   .alias("jaccard")))
    return jac.where(F.col("jaccard") >= threshold)


# ---------------------------------------------------------------- SimHash


def _md5_hash64(col: Column) -> Column:
    """Signed 64-bit token hash from the first 16 hex chars of md5 —
    slower than xxhash64 but portable: DuckDB computes the identical
    value, which makes the full SimHash signature exactly oracle-able
    (r6c; the ext_simhash_sig driver entry)."""
    u = F.conv(F.substring(F.md5(col), 1, 16), 16, 10).cast("decimal(20,0)")
    # 2**63 / 2**64 overflow a Java long literal — ship them as strings
    two63 = F.lit(str(2 ** 63)).cast("decimal(20,0)")
    two64 = F.lit(str(2 ** 64)).cast("decimal(20,0)")
    return (F.when(u >= two63, (u - two64).cast("long"))
            .otherwise(u.cast("long")))


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
            bits: int = 64, hasher: str = "xxhash64") -> DataFrame:
    """64-bit SimHash per document, JVM-side.

    Per bit b: sum over token hashes of ±1 depending on bit b; bit set iff
    sum > 0. Expressed as an aggregate over the exploded token-hash column
    with bitwise ops — no Python in the loop. ``hasher`` picks the token
    hash: xxhash64 (default, fastest) or md5 (portable — bit-identical in
    DuckDB, used by the exact-oracle entry).
    """
    toks = F.explode(F.filter(F.split(F.lower(F.col(text_col)), r"\W+"),
                              lambda w: F.length(w) > 0)).alias("tok")
    th = df.select(F.col(id_col).alias("id"), toks) \
           .withColumn("h", _md5_hash64(F.col("tok")) if hasher == "md5"
                       else F.xxhash64("tok"))
    aggs = [F.sum(F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1,
                         1).otherwise(-1)).alias(f"b{b}") for b in range(bits)]
    sums = th.groupBy("id").agg(*aggs)
    sig = F.lit(0).cast("long")
    for b in range(bits):
        sig = sig + F.when(F.col(f"b{b}") > 0,
                           F.lit(1).cast("long") * (2 ** b if b < 63 else -(2 ** 63))
                           ).otherwise(0)
    return sums.select("id", sig.alias("simhash"))


def simhash_near_dups(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) <= k, blocked on 16-bit chunks.

    Pigeonhole: if hamming <= 3, at least one of 4 16-bit chunks matches —
    join per chunk, then verify with bit_count (JVM)."""
    sh = simhash(df, text_col, id_col)
    chunks = [(F.shiftrightunsigned(F.col("simhash"), 16 * i).bitwiseAND(F.lit(0xFFFF)))
              .alias(f"c{i}") for i in range(4)]
    blocked = sh.select("id", "simhash", *chunks)
    pieces = None
    for i in range(4):
        l, r = blocked.alias("l"), blocked.alias("r")
        p = (l.join(r, (F.col(f"l.c{i}") == F.col(f"r.c{i}"))
                    & (F.col("l.id") < F.col("r.id")))
             .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"),
                     F.col("l.simhash").alias("ha"), F.col("r.simhash").alias("hb")))
        pieces = p if pieces is None else pieces.unionByName(p)
    ham = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return (pieces.dropDuplicates(["id_a", "id_b"])
            .select("id_a", "id_b", ham.alias("hamming"))
            .where(F.col("hamming") <= max_hamming))


# ---------------------------------------------------------------- cascade


def dedup_decisions(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id",
                    near_threshold: float | None = None,
                    n: int = 3, num_hashes: int = 32,
                    bands: int = 8, max_iters: int = 30) -> DataFrame:
    """The training-pipeline LAST MILE: a per-document keep/drop verdict.

    Cascade (round 5):

    1. **Exact stage** — sha256 digest groups; each member links to the
       group minimum (star edges — O(1) component diameter, the shuffle
       carries a 32-byte digest per doc).
    2. **Near stage** (``near_threshold`` set) — banded MinHash-LSH
       candidates between the exact-stage REPRESENTATIVES only (near-dup
       of a dup is redundant work), kept when the exact shingle Jaccard
       clears the threshold.
    3. **Cluster resolution** — min-id label propagation over both edge
       sets (the same Pregel CC as sameAs, on 8-byte ids); the cluster id
       is the minimum doc id in the component and the keeper.

    Returns ``(doc_id, cluster_id, keep BOOLEAN, reason STRING)`` where
    reason ∈ {'unique','keeper','exact_dup','near_dup'}: a dropped doc is
    ``exact_dup`` when its digest equals its keeper's digest, else
    ``near_dup``. With ``near_threshold=None`` the output is exactly
    SQL-expressible (the oracle-checked driver entry); the near stage is
    covered by closed-form tests.
    """
    docs = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("text")) \
             .where(F.col("text").isNotNull())
    digests = docs.select("id", F.sha2("text", 256).alias("digest"))
    groups = digests.groupBy("digest").agg(F.min("id").alias("gmin"))
    with_g = digests.join(groups, "digest")
    edges = with_g.where(F.col("id") != F.col("gmin")) \
                  .select(F.col("id").alias("a"), F.col("gmin").alias("b"))
    if near_threshold is not None:
        reps = docs.join(with_g.where(F.col("id") == F.col("gmin"))
                         .select("id"), "id")
        near = minhash_lsh_candidates(reps, "text", "id", n=n,
                                      num_hashes=num_hashes, bands=bands) \
            .where(F.col("jaccard") >= near_threshold) \
            .select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
        edges = edges.unionByName(near)

    bidir = edges.unionByName(edges.select(F.col("b").alias("a"),
                                           F.col("a").alias("b"))) \
                 .dropDuplicates().localCheckpoint()
    labels = bidir.select(F.col("a").alias("id")).dropDuplicates() \
                  .withColumn("canon", F.col("id"))
    for _ in range(max_iters):
        neigh = (bidir.join(labels, bidir["b"] == labels["id"])
                 .groupBy(F.col("a").alias("id"))
                 .agg(F.min("canon").alias("nc")))
        merged = (labels.join(neigh, "id", "left")
                  .select("id", F.least(F.col("canon"),
                                        F.coalesce("nc", "canon"))
                          .alias("canon"))).localCheckpoint()
        if (merged.alias("m").join(labels.alias("l"), "id")
                .filter(F.col("m.canon") != F.col("l.canon")).isEmpty()):
            labels = merged
            break
        labels = merged
    else:
        raise RuntimeError("dedup components did not converge")

    clustered = (digests.join(labels, "id", "left")
                 .select("id", "digest",
                         F.coalesce("canon", "id").alias("cluster_id")))
    keeper_dg = clustered.where(F.col("id") == F.col("cluster_id")) \
        .select(F.col("cluster_id").alias("__cid"),
                F.col("digest").alias("__kdg"))
    sizes = clustered.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("__n"))
    # cluster-keyed equi-joins (one row per cluster ≈ one per unique doc —
    # NOT broadcastable at scale; the groupBy outputs already hash-partition
    # on cluster_id so these co-locate)
    out = (clustered
           .join(keeper_dg, clustered["cluster_id"] == keeper_dg["__cid"])
           .join(sizes, "cluster_id"))
    keep = F.col("id") == F.col("cluster_id")
    reason = (F.when(F.col("__n") == 1, "unique")
              .when(keep, "keeper")
              .when(F.col("digest") == F.col("__kdg"), "exact_dup")
              .otherwise("near_dup"))
    return out.select(F.col("id").alias(id_col),
                      "cluster_id", keep.alias("keep"),
                      reason.alias("reason"))


# ----------------------------------------------------- cross-run (index)

def build_dedup_index(df: DataFrame, path: str, text_col: str = "text",
                      id_col: str = "doc_id") -> None:
    """Persist the exact-dedup state of a corpus snapshot: one parquet
    row per distinct sha256 content digest, with the lowest id that
    carried it. This is the index a CONTINUOUS ingestion pipeline dedups
    new crawl batches against — without re-reading the old corpus.

    Scale shape: a single digest-keyed groupBy; the index stores 32-byte
    digests + an id, ~40 B per unique doc (a 100 TB corpus of 100 B docs
    → a ≈4 GB index, joinable without ever touching old text again).
    """
    (df.select(F.sha2(F.col(text_col), 256).alias("digest"),
               F.col(id_col).cast("bigint").alias("first_id"))
     .groupBy("digest").agg(F.min("first_id").alias("first_id"))
     .write.mode("overwrite").parquet(path))


def dedup_against_index(df: DataFrame, path: str, text_col: str = "text",
                        id_col: str = "doc_id",
                        update: bool = False) -> DataFrame:
    """Incremental exact dedup of a new batch against a persisted digest
    index (:func:`build_dedup_index`): survivors are batch rows whose
    content digest is absent from the index AND first-by-id inside the
    batch itself (a batch can carry its own duplicates).

    With ``update=True`` the survivors' digests are appended to the
    index (separate parquet files; read-side groupBy keeps the index a
    set), so the next batch dedups against old corpus + this batch.

    Scale shape: one digest groupBy over the batch + one hash anti-join
    against the index — the batch text never joins anything, only its
    digests; the index side is digests only.
    """
    spark = df.sparkSession
    idx = spark.read.parquet(path).select("digest")
    batch = df.withColumn("__dg", F.sha2(F.col(text_col), 256))
    first = (batch.groupBy("__dg")
             .agg(F.min(F.col(id_col).cast("bigint")).alias("__first")))
    survivors = (batch
                 .join(first, "__dg")
                 .filter(F.col(id_col).cast("bigint") == F.col("__first"))
                 .join(idx, batch["__dg"] == idx["digest"], "left_anti")
                 .drop("__first"))
    if update:
        (survivors.select(F.col("__dg").alias("digest"),
                          F.col(id_col).cast("bigint").alias("first_id"))
         .write.mode("append").parquet(path))
    return survivors.drop("__dg")


def build_neardup_index(df: DataFrame, path: str, text_col: str = "text",
                        id_col: str = "doc_id", n: int = 3,
                        num_hashes: int = 32, bands: int = 8) -> None:
    """Persist the NEAR-dup state of a corpus snapshot: LSH band rows
    (``path/bands``: id, band, bh — 24 B/row) plus hashed shingle sets
    for exact-Jaccard verification (``path/sigs``) and the LSH params
    (``path/meta`` — probes must hash identically). The near-dup
    analogue of :func:`build_dedup_index`: continuous ingestion flags
    boilerplate-variant pages against the historical corpus without
    re-reading any old text.
    """
    sig = _minhash_sig_table(df, text_col, id_col, n, num_hashes).persist()
    sig.select("id", "shh").write.mode("overwrite").parquet(path + "/sigs")
    (_band_rows(sig, bands, num_hashes // bands)
     .write.mode("overwrite").parquet(path + "/bands"))
    spark = df.sparkSession
    (spark.createDataFrame([(n, num_hashes, bands)],
                           "n int, num_hashes int, bands int")
     .write.mode("overwrite").parquet(path + "/meta"))
    sig.unpersist()


def neardup_against_index(df: DataFrame, path: str,
                          threshold: float = 0.8,
                          text_col: str = "text", id_col: str = "doc_id",
                          update: bool = False) -> DataFrame:
    """Flag each batch doc that is a near-duplicate (shingle Jaccard ≥
    ``threshold``) of ANY doc in a persisted :func:`build_neardup_index`.

    Returns one row per input doc: ``(id, is_new, match_id,
    match_jaccard)`` — ``match_id`` is the best (highest-Jaccard, ties →
    lowest id) index match, NULL when the doc is new. With
    ``update=True`` the NEW docs' band/sig rows are appended so the next
    batch also dedups against this one. In-batch near-dups are NOT
    resolved here — run :func:`minhash_lsh_candidates` (or the exact
    :func:`dedup_against_index`) within the batch first.

    Scale shape: band-bucket equi-join against the index (24 B rows both
    sides), exact verification joins only the candidate pairs' hashed
    shingle sets. No text ever shuffles.

    Note (r6, ADVICE): ``threshold=1.0`` means Jaccard 1.0 on the word
    SHINGLE SETS, which is weaker than byte equality — texts differing
    only in case, punctuation, or token multiplicity also fire. The
    ``ext_neardup_incremental`` oracle compares exact text because the
    document fixtures contain no such variant pairs; for byte-exact
    semantics use :func:`dedup_against_index` (digest-based) instead.
    """
    spark = df.sparkSession
    meta = spark.read.parquet(path + "/meta").collect()[0]
    sig = _minhash_sig_table(df, text_col, id_col,
                             meta["n"], meta["num_hashes"]).persist()
    batch_bands = _band_rows(sig, meta["bands"],
                             meta["num_hashes"] // meta["bands"])
    idx_bands = (spark.read.parquet(path + "/bands")
                 .select(F.col("id").alias("__mid"), "band", "bh"))
    cand = (batch_bands.join(idx_bands, ["band", "bh"])
            .select("id", "__mid").dropDuplicates())

    idx_sigs = (spark.read.parquet(path + "/sigs")
                .select(F.col("id").alias("__mid"),
                        F.col("shh").alias("__mshh")))
    inter = F.size(F.array_intersect("shh", "__mshh")).cast("double")
    union = F.size(F.array_union("shh", "__mshh")).cast("double")
    verified = (cand
                .join(sig.select("id", "shh"), "id")
                .join(idx_sigs, "__mid")
                .select("id", "__mid", (inter / union).alias("j"))
                .filter(F.col("j") >= threshold))
    # best match: max Jaccard, ties -> lowest index id (deterministic)
    best = (verified.groupBy("id")
            .agg(F.max(F.struct(F.col("j"), (-F.col("__mid")).alias("nm")))
                 .alias("b"))
            .select("id", F.col("b.j").alias("match_jaccard"),
                    (-F.col("b.nm")).cast("long").alias("match_id")))

    out = (df.select(F.col(id_col).cast("long").alias("id"))
           .join(best, "id", "left")
           .select(F.col("id").alias(id_col),
                   F.col("match_id").isNull().alias("is_new"),
                   "match_id", "match_jaccard"))
    if update:
        new_ids = out.filter("is_new").select(F.col(id_col).alias("id"))
        new_sig = sig.join(new_ids, "id")
        new_sig.select("id", "shh").write.mode("append") \
            .parquet(path + "/sigs")
        (_band_rows(new_sig, meta["bands"],
                    meta["num_hashes"] // meta["bands"])
         .write.mode("append").parquet(path + "/bands"))
    sig.unpersist()
    return out
