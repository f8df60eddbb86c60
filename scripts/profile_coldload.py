"""Phase profiler for the COLD engine load (opt r11): durable store open,
quad-view build, dictionary build, encode, bucketed persist, warm re-read.

Usage: SPARK_GRAFT_CACHE_DIR=$(mktemp -d) python scripts/profile_coldload.py
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def jc(spark):
    ids = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    return max(ids) if ids else -1


def phase(spark, label, last):
    now = time.time()
    j = jc(spark)
    print(f"  {label:<44} {now - last[0]:7.3f}s  jobs +{j - last[1]}",
          file=sys.stderr)
    last[0] = now
    last[1] = j


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from graphdb_free_mocha_sa_spark.session import get_spark
    from graphdb_free_mocha_sa_spark import cache as C
    from graphdb_free_mocha_sa_spark.engine import Engine
    from graphdb_free_mocha_sa_spark.store import open_fixture_store
    spark = get_spark("profile-coldload")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(0, 1_000_000, 1, 32).selectExpr("sum(id)").collect()
    print(f"cache root: {C.cache_root()}", file=sys.stderr)
    last = [time.time(), jc(spark)]
    store = open_fixture_store(spark, sf_dir)
    phase(spark, "open_fixture_store (durable base)", last)
    store.df.count()
    phase(spark, "store.df.count()", last)
    eng = Engine(spark, store, warm_dir=C.artifact_dir(sf_dir))

    # step through _encoded_state manually
    from graphdb_free_mocha_sa_spark.dictionary import (build_term_dict_full,
                                                        encode_quads,
                                                        has_collision)
    quads = eng._quads()
    phase(spark, "_quads (sameAs view)", last)
    term_dict = build_term_dict_full(quads).localCheckpoint()
    phase(spark, "build_term_dict_full + checkpoint", last)
    assert not has_collision(term_dict)
    term_dict = term_dict.drop("term_max")
    phase(spark, "has_collision", last)
    enc = encode_quads(quads).localCheckpoint()
    phase(spark, "encode_quads + checkpoint", last)
    warm = eng._warm_encoded_dir()
    eng._persist_warm_encoded(warm, term_dict, enc)
    phase(spark, "_persist_warm_encoded (dict+bucketed enc)", last)
    reloaded = eng._load_warm_encoded(warm)
    phase(spark, "_load_warm_encoded (re-read)", last)
    assert reloaded is not None


if __name__ == "__main__":
    main()
