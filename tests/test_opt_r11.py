"""Round-11 optimization pins: the driver-evaluated delta commit gate and
the pinned-closure DRed plumbing must be behavior-identical to the
distributed paths they short-circuit."""

from __future__ import annotations

import pytest

from graphdb_free_mocha_sa_spark.engine import Engine, InconsistencyError
from graphdb_free_mocha_sa_spark.model import QUAD_SCHEMA
from graphdb_free_mocha_sa_spark.store import QuadStore

OWL = "http://www.w3.org/2002/07/owl#"
RDFT = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"


@pytest.fixture(scope="module")
def spark():
    from graphdb_free_mocha_sa_spark.session import get_spark
    return get_spark("test-opt-r11")


def _gate_engine(spark, rows):
    store = QuadStore(spark, spark.createDataFrame(rows, QUAD_SCHEMA)
                      .localCheckpoint())
    return Engine(spark, store, check_inconsistencies=True)


BASE = [
    ("urn:g", "urn:K1", OWL + "disjointWith", "urn:K2",
     None, None, None, None),
    ("urn:g", "urn:C1", OWL + "complementOf", "urn:C2",
     None, None, None, None),
    ("urn:g", "urn:a", OWL + "sameAs", "urn:b", None, None, None, None),
    ("urn:g", "urn:b", RDFT, "urn:K1", None, None, None, None),
    ("urn:g", "urn:x", RDFT, "urn:C1", None, None, None, None),
]


def test_local_gate_matches_distributed_on_each_rule(spark, bounded_path):
    """Every violation family through the fast path vs the DF plan —
    identical abort/commit decisions and rule names. On the fallback the
    driver gate state overflows, and the DF plan alone (fixpoint sameAs
    canon, shuffle-joined) must still give the same answers."""
    from graphdb_free_mocha_sa_spark.operators.inference import (
        collect_gate_state, consistency_violations_delta,
        consistency_violations_delta_local)
    quads = spark.createDataFrame(BASE, QUAD_SCHEMA).localCheckpoint()
    cases = [
        # sameAs alias clash: urn:a ~ urn:b typed K1, insert a type K2
        ([("urn:g", "urn:a", RDFT, "urn:K2", None, None, None, None)],
         [("cax-dw", "urn:a")]),
        # complementOf clash on the same individual
        ([("urn:g", "urn:x", RDFT, "urn:C2", None, None, None, None)],
         [("owl-comp", "urn:x")]),
        # owl:Nothing membership
        ([("urn:g", "urn:y", RDFT, OWL + "Nothing", None, None, None, None)],
         [("owl-nothing", "urn:y")]),
        # differentFrom folded into one sameAs class
        ([("urn:g", "urn:a", OWL + "differentFrom", "urn:b",
           None, None, None, None)],
         [("owl-dif", "urn:a")]),
        # green: unrelated type + plain fact
        ([("urn:g", "urn:z", RDFT, "urn:K9", None, None, None, None),
          ("urn:g", "urn:z", "urn:p", "urn:o", None, None, None, None)],
         []),
    ]
    for delta, want in cases:
        post = quads.unionByName(
            spark.createDataFrame(delta, QUAD_SCHEMA)).localCheckpoint()
        dist = consistency_violations_delta(spark, post, delta).collect()
        assert sorted({(r["rule"], r["x"]) for r in dist}) == want, \
            f"delta={delta}"
        state = collect_gate_state(spark, post)
        if bounded_path == "fallback":
            assert state is None
            continue
        local = consistency_violations_delta_local(spark, post, delta, state)
        assert local is not None
        got = sorted((v["rule"], v["x"]) for v in local)
        assert got == want, f"delta={delta}"


def test_gate_state_cache_invalidated_by_checked_delete(spark):
    """A checked PURE DELETE removes a sameAs bridge; the next insert must
    be judged against the POST-delete canon (a stale cached canon would
    wrongly abort)."""
    eng = _gate_engine(spark, BASE)
    # prime: full check (first commit) then a delta commit that caches state
    eng.update("INSERT DATA { <urn:seed> <urn:p> <urn:o> }")
    eng.update(f"INSERT DATA {{ <urn:w> <{RDFT}> <urn:K1> }}")
    # checked pure delete of the sameAs bridge — no check runs, but the
    # cached canon (a ~ b) is now stale and must not be reused
    eng.update(f"DELETE DATA {{ GRAPH <urn:g> {{ <urn:a> <{OWL}sameAs> "
               "<urn:b> } }")
    # urn:a no longer aliases urn:b (typed K1), so typing a K2 is green
    eng.update(f"INSERT DATA {{ <urn:a> <{RDFT}> <urn:K2> }}")
    # and the live clash still aborts: urn:b itself is typed K1
    with pytest.raises(InconsistencyError):
        eng.update(f"INSERT DATA {{ <urn:b> <{RDFT}> <urn:K2> }}")


def test_gate_falls_back_when_state_overflows_bound(spark, monkeypatch):
    """GATE_STATE_BOUND overflow must route to the distributed delta check
    with identical outcomes."""
    import graphdb_free_mocha_sa_spark.operators.inference as inf
    monkeypatch.setattr(inf, "GATE_STATE_BOUND", 0)
    eng = _gate_engine(spark, BASE)
    eng.update("INSERT DATA { <urn:seed> <urn:p> <urn:o> }")
    with pytest.raises(InconsistencyError):
        eng.update(f"INSERT DATA {{ <urn:a> <{RDFT}> <urn:K2> }}")
    eng.update(f"INSERT DATA {{ <urn:z> <{RDFT}> <urn:K9> }}")


def test_materialized_closure_is_pinned_and_dred_equivalent(
        spark, maintain_incrementally):
    """The distributed closure now returns a pinned frame; DRed over it
    must keep producing the exact surviving closure (smooth delete)."""
    from graphdb_free_mocha_sa_spark.model import RDFS
    sc_p = RDFS + "subClassOf"
    rows = [("urn:g", f"urn:C{i}", sc_p, f"urn:C{i+1}",
             None, None, None, None) for i in range(3)]
    rows += [("urn:g", f"urn:i{k}", RDFT, f"urn:C{k % 4}",
              None, None, None, None) for k in range(200)]
    store = QuadStore(spark, spark.createDataFrame(rows, QUAD_SCHEMA)
                      .localCheckpoint())
    store.materialize_inference()
    before = {(r["s"], r["p"], r["o_lex"])
              for r in store._inferred.collect()}
    victim = spark.createDataFrame(
        [("urn:g", "urn:i0", RDFT, "urn:C0", None, None, None, None)],
        QUAD_SCHEMA)
    store.delete_quads(victim)
    after = {(r["s"], r["p"], r["o_lex"]) for r in store._inferred.collect()}
    gone = {t for t in before if t[0] == "urn:i0"}
    assert gone and after == before - gone
