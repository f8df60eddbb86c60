"""Closure maintenance of driver-sized worlds by re-closing on the driver.

A store whose post-write world fits ``inference.SMALL_ABOX_QUADS``
re-closes it with the driver worklist (``inference.reclose_small``) instead
of running DRed (``owl_horst_decrement``) or the increment
(``owl_horst_increment``). Larger worlds, and worlds whose worklist
overflows ``SMALL_ABOX_MAX_INFERRED``, keep those two paths.
``tests/test_inference_delete.py`` runs the delete graphs below through
DRed.
"""

from __future__ import annotations

import uuid
from concurrent.futures import ThreadPoolExecutor

import pytest

from graphdb_free_mocha_sa_spark.model import (OWL, RDF_TYPE, RDFS,
                                               local_quads_df)
from graphdb_free_mocha_sa_spark.operators import inference
from graphdb_free_mocha_sa_spark.store import QuadStore

SC = RDFS + "subClassOf"
TRANS = OWL + "TransitiveProperty"
SYM = OWL + "SymmetricProperty"

#: (name, base quads, deleted quads); a quad is (g, s, p, o)
DELETES = [
    ("subclass_cone",
     [("urn:g", "urn:A", SC, "urn:B"), ("urn:g", "urn:B", SC, "urn:C"),
      ("urn:g", "urn:x", RDF_TYPE, "urn:A"),
      ("urn:g", "urn:y", RDF_TYPE, "urn:B")],
     [("urn:g", "urn:x", RDF_TYPE, "urn:A")]),
    ("rederive",
     [("urn:g", "urn:A", SC, "urn:C"), ("urn:g", "urn:B", SC, "urn:C"),
      ("urn:g", "urn:x", RDF_TYPE, "urn:A"),
      ("urn:g", "urn:x", RDF_TYPE, "urn:B")],
     [("urn:g", "urn:x", RDF_TYPE, "urn:A")]),
    ("transitive_chain",
     [("urn:g", f"urn:n{i}", "urn:t", f"urn:n{i + 1}") for i in range(5)]
     + [("urn:g", "urn:t", RDF_TYPE, TRANS)],
     [("urn:g", "urn:n2", "urn:t", "urn:n3")]),
    ("smooth_symmetric",
     [("urn:g", "urn:a", "urn:k", "urn:b"),
      ("urn:g", "urn:b", "urn:k", "urn:a"),
      ("urn:g", "urn:k", RDF_TYPE, SYM)],
     [("urn:g", "urn:a", "urn:k", "urn:b")]),
    ("noop",
     [("urn:g", "urn:A", SC, "urn:B"), ("urn:g", "urn:x", RDF_TYPE, "urn:A"),
      ("urn:g", "urn:z", "urn:plain", "urn:w")],
     [("urn:g", "urn:z", "urn:plain", "urn:w"),
      ("urn:g", "urn:never", "urn:was", "urn:there")]),
    ("multigraph",
     [("urn:g1", "urn:x", RDF_TYPE, "urn:A"),
      ("urn:g2", "urn:x", RDF_TYPE, "urn:A"),
      ("urn:g1", "urn:A", SC, "urn:B")],
     [("urn:g1", "urn:x", RDF_TYPE, "urn:A")]),
    ("tbox",
     [("urn:g", "urn:A", SC, "urn:B"), ("urn:g", "urn:B", SC, "urn:C"),
      ("urn:g", "urn:x", RDF_TYPE, "urn:A")],
     [("urn:g", "urn:B", SC, "urn:C")]),
]


def _mk(spark, quads):
    return local_quads_df(spark, [q + (None, None, None, None) for q in quads])


def _triples(df):
    return {(r["s"], r["p"], r["o_lex"])
            for r in df.select("s", "p", "o_lex").collect()}


def _store(spark, quads):
    st = QuadStore(spark, _mk(spark, quads))
    st.materialize_inference()
    return st


def _assert_closed(spark, st, what):
    want = _triples(inference.owl_horst_closure(spark, st._df))
    assert _triples(st._inferred) == want, what


def _ops_batch_world(n):
    """The ``operators_batch`` TBox shape over ``n`` individuals: a 10-deep
    subClassOf chain, subPropertyOf, domain/range, a transitive ``partOf``
    with its inverse ``hasPart``, and a leads / partOf network."""
    t = [(f"urn:C{i}", SC, f"urn:C{i + 1}") for i in range(9)]
    t += [("urn:p:leads", RDFS + "subPropertyOf", "urn:p:worksFor"),
          ("urn:p:worksFor", RDFS + "domain", "urn:Agent"),
          ("urn:p:worksFor", RDFS + "range", "urn:Org"),
          ("urn:p:partOf", RDF_TYPE, TRANS),
          ("urn:p:hasPart", OWL + "inverseOf", "urn:p:partOf")]
    t += [(f"urn:i{k}", RDF_TYPE, f"urn:C{k % 10}") for k in range(n)]
    t += [(f"urn:i{k}", "urn:p:leads", f"urn:org{k % 20}")
          for k in range(0, n, 20)]
    t += [(f"urn:org{k}", "urn:p:partOf", f"urn:org{k + 1}")
          for k in range(20) if k % 4 != 3]
    return [("urn:g",) + x for x in t]


def _fresh_individual(name):
    return [("urn:g", name, RDF_TYPE, "urn:C0"),
            ("urn:g", name, "urn:p:leads", "urn:org0"),
            ("urn:g", name, "urn:p:partOf", "urn:org4")]


@pytest.fixture
def calls(monkeypatch):
    """Counts the calls of DRed and the increment."""
    seen = {"owl_horst_decrement": 0, "owl_horst_increment": 0}
    for name in seen:
        def spy(*args, _fn=getattr(inference, name), _name=name, **kwargs):
            seen[_name] += 1
            return _fn(*args, **kwargs)
        monkeypatch.setattr(inference, name, spy)
    return seen


def test_writes_reclose_driver_sized_worlds(spark, monkeypatch, calls):
    """The DRed delete graphs, re-closed: each maintained closure equals
    the closure of the surviving base, and DRed never runs. A fresh
    individual inserted under a transitive property gives the closure of
    the new base both re-closed and, with the re-closure forced off,
    through the increment. When the worklist overflows
    SMALL_ABOX_MAX_INFERRED, the closure comes from the distributed path
    with the same triples, and driver-sized writes take DRed and the
    increment."""
    def delete(case):
        name, base, victims = case
        st = _store(spark, base)
        st.delete_quads(_mk(spark, victims))
        _assert_closed(spark, st, name)

    # each case is a chain of small Spark jobs: overlap them
    with ThreadPoolExecutor(4) as pool:
        list(pool.map(delete, DELETES))
    assert calls["owl_horst_decrement"] == 0

    world = _ops_batch_world(40)
    st = _store(spark, world)
    st.add_quads(_mk(spark, _fresh_individual("urn:new")))
    _assert_closed(spark, st, "insert, re-closed")
    assert ("urn:new", "urn:p:partOf", "urn:org7") in _triples(st._inferred)
    assert calls["owl_horst_increment"] == 0

    # the worlds before and after a delete and an insert, closed on the
    # driver; with the worklist overflowing, the distributed closure, DRed
    # and the increment must give the same triples
    victim = [("urn:g", "urn:i1", RDF_TYPE, "urn:C1")]
    deleted = [q for q in world if q not in victim]
    worlds = [world, deleted, deleted + _fresh_individual("urn:new")]
    want = [_triples(inference.owl_horst_closure(spark, _mk(spark, w)))
            for w in worlds]
    with monkeypatch.context() as m:
        m.setattr(inference, "SMALL_ABOX_MAX_INFERRED", 0)
        assert inference.reclose_small(spark, _mk(spark, world)) is None
        st = _store(spark, world)
        got = [_triples(st._inferred)]
        st.delete_quads(_mk(spark, victim))
        got.append(_triples(st._inferred))
        st.add_quads(_mk(spark, _fresh_individual("urn:new")))
        got.append(_triples(st._inferred))
    assert got == want
    assert calls == {"owl_horst_decrement": 1, "owl_horst_increment": 1}

    monkeypatch.setattr(inference, "reclose_small", lambda spark, world: None)
    st = _store(spark, world)
    st.add_quads(_mk(spark, _fresh_individual("urn:new")))
    _assert_closed(spark, st, "insert, increment")
    assert calls["owl_horst_increment"] == 2


def _jobs(spark, write):
    """Spark jobs ``write()`` runs, counted under its own job group."""
    sc = spark.sparkContext
    group = f"write-budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        write()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_single_write_job_budget(spark, monkeypatch, calls):
    """On the ``operators_batch`` TBox shape with about 500 individuals,
    materialization and a fresh-individual insert each run at most 2 Spark
    jobs (the size probe and the collect of the driver closure), and a
    single-instance delete at most 4 (plus the pin of the post-delete
    base); DRed and the increment take 58-62 here. With the bound below
    the world size, both writes take DRed and the increment again."""
    st = QuadStore(spark, _mk(spark, _ops_batch_world(500)))
    n_materialize = _jobs(spark, st.materialize_inference)
    victim = _mk(spark, [("urn:g", "urn:i1", RDF_TYPE, "urn:C1")])
    n_delete = _jobs(spark, lambda: st.delete_quads(victim))
    n_insert = _jobs(spark, lambda: st.add_quads(
        _mk(spark, _fresh_individual("urn:new"))))
    assert n_materialize <= 2 and n_delete <= 4 and n_insert <= 2, \
        (n_materialize, n_delete, n_insert)
    assert calls == {"owl_horst_decrement": 0, "owl_horst_increment": 0}

    monkeypatch.setattr(inference, "SMALL_ABOX_QUADS", 100)
    st.delete_quads(_mk(spark, [("urn:g", "urn:i2", RDF_TYPE, "urn:C2")]))
    st.add_quads(_mk(spark, _fresh_individual("urn:newer")))
    assert calls["owl_horst_decrement"] == 1
    assert calls["owl_horst_increment"] >= 1
