"""SparkSession factory with scale-oriented defaults.

Local testing runs on local[N]; the config choices below are the ones that
matter on a real cluster too: AQE (runtime re-planning, skew-join splitting,
partition coalescing), Arrow for any pandas exchange, and a shuffle-partition
count sized for the local fixture scale (override via env/builder for bigger
deployments). Also :func:`driver_rows`, the bounded driver probe that the
engine and the operators share.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Row, SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))


def get_spark(app_name: str = "graphdb_free_mocha_sa_spark",
              master: str | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime join-strategy switches, skew-join splitting, partition coalescing.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS))
        # Join strategy (guide §3.1): keep Spark's static preference for
        # sort-merge (spill-safe at any scale) and let AQE rewrite SMJ →
        # shuffled-hash AT RUNTIME when every post-shuffle partition
        # provably fits localMapThreshold (64 MB) — the size-informed
        # version of the r11 static SHJ preference. Adjudicated by a
        # rotated-order interleaved A/B at sf0.1 (r12, VERDICT r11 item 7;
        # record in OPTIMIZATION_r12.md): static SHJ preference
        # (preferSortMergeJoin=false) lost or tied on every contested line
        # (b1_scan med 0.48 vs 0.29 s, b13_path_negated 1.63 vs 1.03 s,
        # b4_optional/b2b_star6 ties), and its r11 wins were window
        # artifacts of a contended r10 baseline.
        .config("spark.sql.join.preferSortMergeJoin", "true")
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
                os.environ.get("SPARK_GRAFT_SHJ_LOCALMAP_THRESHOLD", "64m"))
        # AQE partition sizing, env-parameterised. parallelismFirst=false
        # (Spark's documented production recommendation — coalesce toward
        # advisoryPartitionSizeInBytes instead of the core count) was
        # A/B-measured interleaved at sf0.1 (r12, OPTIMIZATION_r12.md):
        # it LOSES 1.3-2.9x on every mid-size join line (b1_scan 2.46x,
        # b13_path_seq 2.87x, b2b_star6 1.97x) because local shuffles in
        # the 1-50 MB range genuinely profit from 32-way parallelism while
        # per-partition overhead is tiny. Local default therefore keeps
        # Spark's parallelism-first coalescing; on a real cluster set
        # SPARK_GRAFT_AQE_PARALLELISM_FIRST=false so 100 TB exchanges
        # coalesce to ~advisory-size (set 64-256m) partitions.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
                os.environ.get("SPARK_GRAFT_AQE_PARALLELISM_FIRST", "true"))
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes",
                os.environ.get("SPARK_GRAFT_ADVISORY_PARTITION_SIZE", "64m"))
        # Arrow for pandas_udf / applyInPandas exchange (vectorized, not per-row pickle).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Timestamps in fixtures are naive; keep session TZ stable for determinism.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # fixture events.parquet stores TIMESTAMP(NANOS); read as long + convert
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # Silence WindowExec's "No Partition Defined" WARN: every remaining
    # unpartitioned window in this engine is a DOCUMENTED tiny frame (the
    # #blocks/#buckets offset tables of the packing prefix sums, match-set
    # ranking) — constant partition keys don't help because Catalyst folds
    # them. Real unpartitioned-window smells are guarded where they are
    # enforceable: tests/test_plans.py counts Window nodes with an empty
    # partition spec in the packing/batching plans and fails on growth.
    try:
        jvm = spark.sparkContext._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.execution.window.WindowExec",
            jvm.org.apache.logging.log4j.Level.ERROR)
    except Exception:  # noqa: BLE001 — logging backend variance is cosmetic
        pass
    return spark


def driver_rows(df: DataFrame, bound: int) -> list[Row] | None:
    """The rows of ``df`` while there are at most ``bound`` of them, else
    ``None``: the one probe behind every driver-or-distributed fast path.

    ``limit().rdd.collect()`` runs as ONE Spark job (per-partition local
    limits, then a single-partition global limit), where
    ``limit().collect()`` ramps executeTake over a many-partition frame in
    up to four jobs. It writes no session conf, so concurrent readers of
    the shared session see nothing of it. Over ``df.select()`` it sizes a
    frame in that one job, moving only empty rows (a ``count()`` is two)."""
    rdd = df.limit(bound + 1).rdd
    # a plan AQE proved empty has no partitions, and collecting it would
    # still post a (stage-less) job
    rows = rdd.collect() if rdd.getNumPartitions() else []
    return rows if len(rows) <= bound else None
