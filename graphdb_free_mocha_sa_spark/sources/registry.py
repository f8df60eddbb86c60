"""Fixture table loaders.

``load_tables`` reads the driver-generated parquet star schema;
``load_quads`` derives the deterministic RDF-quad encoding (FIXTURES.md §2).
The quads DataFrame is cached per (session, sf_dir) because every SPARQL
pattern scan re-reads it; on a real deployment this would instead be a
parquet/Delta table partitioned by ``g`` and bucketed by ``s``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from graphdb_free_mocha_sa_spark.encode import encode_star_schema

ALL_TABLES = ["region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "documents", "embeddings"]

_quads_cache: dict[tuple[int, str], DataFrame] = {}


def load_tables(spark: SparkSession, sf_dir: str,
                names: list[str] | None = None) -> dict[str, DataFrame]:
    # events.parquet stores TIMESTAMP(NANOS); sessions not built by our
    # get_spark (e.g. the driver's) need this set or the scan errors out.
    # Session TZ pins timestamp extraction/formatting to the fixtures'
    # naive-UTC semantics regardless of host timezone.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    out = {}
    for name in (names or ALL_TABLES):
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            df = normalize_nanos_timestamps(spark.read.parquet(path))
            if name == "documents":
                df = _parallelism_floor(spark, df, sf_dir, name)
            out[name] = df
    return out


def _parallelism_floor(spark: SparkSession, df: DataFrame, sf_dir: str,
                       name: str) -> DataFrame:
    """Give a compute-heavy text table whose scan parallelism is far below
    the session's cores a multi-split layout (r6 scale-probe attribution: a
    single small parquet file is ONE row group → a 1-task scan no matter
    how low maxPartitionBytes goes, so regex-heavy map stages like the
    Gopher filters ran serial at both probe scales and their 10x ratio read
    as superlinear).

    r7 (VERDICT r6 item 3): the r6 version repartitioned the lazy scan,
    which taxed EVERY query over the table with a full-text shuffle —
    measured as the ~2x regressions on ext_bm25_search / ext_pack_sequences
    / ext_line_dedup in BENCH_r06. Now the shuffle is paid ONCE per
    (fixture, core-count): the split copy is written to the fingerprint-
    keyed artifact cache and every later load reads the multi-file parquet
    with native split parallelism and no per-query shuffle. At real scale
    inputs are many multi-row-group files, the gate never fires, and the
    scan keeps its native splits."""
    target = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    if df.rdd.getNumPartitions() * 4 >= target:
        return df
    from graphdb_free_mocha_sa_spark import cache as C
    # inside the STANDARD generation dir (artifact_dir with the default
    # RDF_TABLES key): publishing under a sibling generation dir (e.g.
    # artifact_dir(sf_dir, ["documents"])) makes _prune_stale_generations
    # delete the engine's live quads/encoded artifacts as a "stale
    # generation" — that razed the warm cache mid-bench. The documents
    # fingerprint goes into the artifact NAME instead, so regenerating the
    # documents fixture alone still invalidates this artifact.
    fp = C.fixture_fingerprint(sf_dir, [name])
    split_path = os.path.join(C.artifact_dir(sf_dir),
                              f"{name}_split{target}-{fp}")
    try:
        if C.is_published(split_path):
            return spark.read.parquet(split_path)
        tmp = C.scratch_dir(split_path)
        df.repartition(target).write.mode("overwrite").parquet(tmp)
        if C.publish(tmp, split_path) or C.is_published(split_path):
            return spark.read.parquet(split_path)
    except Exception:
        pass                 # unwritable cache dir → per-session shuffle
    return df.repartition(target)


def normalize_event_timestamps(df: DataFrame) -> DataFrame:
    """Normalize the fixtures' ``ts`` column to TIMESTAMP (LTZ) whatever the
    parquet physical layout of the driver-generated fixtures:

    - TIMESTAMP(NANOS)  → BIGINT under spark.sql.legacy.parquet.nanosAsLong;
      convert with integer division (double division loses precision at
      ~1.7e18 ns epoch values).
    - timestamp[us] with no timezone → TIMESTAMP_NTZ; cast to TIMESTAMP.
      The session TZ is pinned UTC (load_tables), so the wall-clock is
      reinterpreted as the same UTC instant — semantics unchanged — and
      watermarked streaming ops (``withWatermark`` requires TIMESTAMP)
      work again."""
    from pyspark.sql import functions as F
    for col, dtype in df.dtypes:
        if col != "ts":
            continue
        if dtype == "bigint":
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
        elif dtype == "timestamp_ntz":
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


# Backward-compat alias (pre-round-4 name).
normalize_nanos_timestamps = normalize_event_timestamps


def load_quads(spark: SparkSession, sf_dir: str, cache: bool = True,
               artifact: bool = True) -> DataFrame:
    key = (id(spark), os.path.abspath(sf_dir))
    if cache and key in _quads_cache:
        return _quads_cache[key]
    quads = (_quads_from_artifact_or_build(spark, sf_dir) if artifact
             else _build_quads(spark, sf_dir))
    if cache:
        # Hash-partition the cached quads by subject: star-pattern BGP
        # self-joins are s=s equi-joins, and Spark's alias-aware output
        # partitioning lets them reuse this layout instead of exchanging
        # both sides. This is the in-memory analogue of the bucketed-by-s
        # parquet layout SURVEY §1.4 prescribes for the 100 TB table.
        n = spark.sparkContext.defaultParallelism
        quads = quads.repartition(n, "s").cache()
        _quads_cache[key] = quads
    return quads


def _quads_from_artifact_or_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RDF quad view of the star schema, warm-started from the fingerprint-
    keyed artifact cache when a previous session already derived it (cache.py:
    the Spark analogue of the reference persisting its entity/statement
    indexes across restarts, repo-config.ttl:47-48). Cold path derives from
    the parquet tables, publishes atomically, and reads the published copy
    back so the lineage is a plain parquet scan instead of the 7-table
    union-of-transforms."""
    from graphdb_free_mocha_sa_spark import cache as C
    qpath = os.path.join(C.artifact_dir(sf_dir), "quads")
    try:
        # the artifact may be a POINTER at the durable store's bucketed
        # base (one physical copy of the quads on disk — r12 opt); a
        # dangling one is removed and rebuilt below
        src = C.published_source(qpath)
        if src:
            return spark.read.parquet(src)
    except Exception:
        pass
    quads = _build_quads(spark, sf_dir)
    try:
        tmp = C.scratch_dir(qpath)
        quads.write.mode("overwrite").parquet(tmp)
        if C.publish(tmp, qpath):       # ours, or a concurrent winner's
            return spark.read.parquet(C.published_source(qpath) or qpath)
    except Exception:
        pass                     # unwritable cache dir → stay on the lineage
    return quads


def _build_quads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pure 7-table quad-view lineage (no artifact read or write)."""
    tables = load_tables(spark, sf_dir,
                         ["region", "nation", "customer", "supplier",
                          "part", "orders", "lineitem"])
    return encode_star_schema(tables)
