"""DRed (delete/re-derive) closure maintenance (r8, VERDICT item 3).

Closed-form fixtures: after an ABox DELETE, the maintained closure must
equal a from-scratch re-materialization of the surviving base facts —
checked literally (set equality of inferred (s,p,o) triples) so DRed
cannot silently over- or under-delete. These worlds are driver-sized, so
the store would re-close them; the module forces DRed instead
(``tests/test_write_reclosure.py`` runs the same graphs re-closed).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from graphdb_free_mocha_sa_spark.model import (OWL, QUAD_SCHEMA, RDF_TYPE,
                                               RDFS)

pytestmark = pytest.mark.usefixtures("maintain_incrementally")

SC = RDFS + "subClassOf"
TRANS = OWL + "TransitiveProperty"
SYM = OWL + "SymmetricProperty"


def _mk(spark, triples):
    rows = [("urn:g", s, p, o, None, None, None, None) for s, p, o in triples]
    return spark.createDataFrame(rows, QUAD_SCHEMA)


def _inferred_set(store):
    return {(r["s"], r["p"], r["o_lex"])
            for r in store._inferred.select("s", "p", "o_lex").collect()}


def _fresh_closure(spark, store):
    from graphdb_free_mocha_sa_spark.operators.inference import \
        owl_horst_closure
    return {(r["s"], r["p"], r["o_lex"])
            for r in owl_horst_closure(spark, store._df)
            .select("s", "p", "o_lex").collect()}


def _store(spark, triples):
    from graphdb_free_mocha_sa_spark.store import QuadStore
    st = QuadStore(spark, _mk(spark, triples))
    st.materialize_inference()
    return st


def _delete(st, spark, triples):
    st.delete_quads(_mk(spark, triples))


def test_dred_subclass_cone(spark):
    """Deleting an instance's type retracts the whole subclass cone for
    that instance and nothing else."""
    st = _store(spark, [
        ("urn:A", SC, "urn:B"), ("urn:B", SC, "urn:C"),
        ("urn:x", RDF_TYPE, "urn:A"), ("urn:y", RDF_TYPE, "urn:B"),
    ])
    before = _inferred_set(st)
    assert ("urn:x", RDF_TYPE, "urn:C") in before
    _delete(st, spark, [("urn:x", RDF_TYPE, "urn:A")])
    got = _inferred_set(st)
    assert got == _fresh_closure(spark, st)
    assert ("urn:x", RDF_TYPE, "urn:B") not in got
    assert ("urn:x", RDF_TYPE, "urn:C") not in got
    assert ("urn:y", RDF_TYPE, "urn:C") in got


def test_dred_rederives_from_surviving_premise(spark):
    """An over-deleted fact with an independent surviving derivation is
    restored (the re-derive half of DRed)."""
    st = _store(spark, [
        ("urn:A", SC, "urn:C"), ("urn:B", SC, "urn:C"),
        ("urn:x", RDF_TYPE, "urn:A"), ("urn:x", RDF_TYPE, "urn:B"),
    ])
    assert ("urn:x", RDF_TYPE, "urn:C") in _inferred_set(st)
    _delete(st, spark, [("urn:x", RDF_TYPE, "urn:A")])
    got = _inferred_set(st)
    assert got == _fresh_closure(spark, st)
    # still derivable via urn:B
    assert ("urn:x", RDF_TYPE, "urn:C") in got


def test_dred_transitive_chain(spark, bounded_path):
    """Deleting a middle edge of a transitive chain retracts exactly the
    pairs that crossed it — through the driver-side seed, cone keys and
    re-derive terms, and through their distributed fallbacks."""
    edges = [(f"urn:n{i}", "urn:t", f"urn:n{i+1}") for i in range(5)]
    st = _store(spark, edges + [("urn:t", RDF_TYPE, TRANS)])
    assert ("urn:n0", "urn:t", "urn:n5") in _inferred_set(st)
    _delete(st, spark, [("urn:n2", "urn:t", "urn:n3")])
    got = _inferred_set(st)
    assert got == _fresh_closure(spark, st)
    assert ("urn:n0", "urn:t", "urn:n2") in got
    assert ("urn:n3", "urn:t", "urn:n5") in got
    assert ("urn:n0", "urn:t", "urn:n5") not in got
    assert ("urn:n1", "urn:t", "urn:n4") not in got


def test_dred_smooth_delete_symmetric(spark):
    """Deleting an explicit statement that is still derivable from the
    survivors (here via symmetry) re-appears as INFERRED — GraphDB's
    smooth-delete behavior, identical to a re-materialization."""
    st = _store(spark, [
        ("urn:a", "urn:k", "urn:b"), ("urn:b", "urn:k", "urn:a"),
        ("urn:k", RDF_TYPE, SYM),
    ])
    _delete(st, spark, [("urn:a", "urn:k", "urn:b")])
    got = _inferred_set(st)
    assert got == _fresh_closure(spark, st)
    assert ("urn:a", "urn:k", "urn:b") in got


def test_dred_noop_delete(spark):
    """Deleting a fact with no consequences leaves the closure unchanged;
    deleting a non-existent fact is a no-op."""
    st = _store(spark, [
        ("urn:A", SC, "urn:B"), ("urn:x", RDF_TYPE, "urn:A"),
        ("urn:z", "urn:plain", "urn:w"),
    ])
    before = _inferred_set(st)
    _delete(st, spark, [("urn:z", "urn:plain", "urn:w")])
    assert _inferred_set(st) == before
    _delete(st, spark, [("urn:never", "urn:was", "urn:there")])
    assert _inferred_set(st) == before


def test_dred_multigraph_premise_survives(spark):
    """A premise deleted from one graph but still asserted in another
    keeps its consequences (the closure reads the union of graphs)."""
    from graphdb_free_mocha_sa_spark.store import QuadStore
    rows = [("urn:g1", "urn:x", RDF_TYPE, "urn:A", None, None, None, None),
            ("urn:g2", "urn:x", RDF_TYPE, "urn:A", None, None, None, None),
            ("urn:g1", "urn:A", SC, "urn:B", None, None, None, None)]
    st = QuadStore(spark, spark.createDataFrame(rows, QUAD_SCHEMA))
    st.materialize_inference()
    st.delete_quads(spark.createDataFrame(
        [("urn:g1", "urn:x", RDF_TYPE, "urn:A", None, None, None, None)],
        QUAD_SCHEMA))
    got = _inferred_set(st)
    assert got == _fresh_closure(spark, st)
    assert ("urn:x", RDF_TYPE, "urn:B") in got


def test_tbox_delete_rematerializes(spark):
    """Deleting a TBox axiom falls back to full re-materialization."""
    st = _store(spark, [
        ("urn:A", SC, "urn:B"), ("urn:B", SC, "urn:C"),
        ("urn:x", RDF_TYPE, "urn:A"),
    ])
    _delete(st, spark, [("urn:B", SC, "urn:C")])
    got = _inferred_set(st)
    assert got == _fresh_closure(spark, st)
    assert ("urn:x", RDF_TYPE, "urn:B") in got
    assert ("urn:x", RDF_TYPE, "urn:C") not in got
