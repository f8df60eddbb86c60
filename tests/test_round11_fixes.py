"""Round-11 fix pins: FTS control-state atomicity (per-request staging +
consistency-gate rollback), the delta-gate pre-state-consistent invariant,
the AllDifferent frontier dedup, and the VALUES-UNDEF compat-join
semantics the stale translator header used to disclaim."""

from __future__ import annotations

import pytest

OWL = "http://www.w3.org/2002/07/owl#"
RDFT = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
LUC = "PREFIX luc: <http://www.ontotext.com/owlim/lucene#>\n"


def _engine(spark, **kw):
    from graphdb_free_mocha_sa_spark.engine import Engine
    from graphdb_free_mocha_sa_spark.store import QuadStore
    eng = Engine(spark, QuadStore(spark), **kw)
    eng.update("""INSERT DATA {
      <urn:d1> <urn:title> "spark analytics engine" .
      <urn:d2> <urn:title> "slow cooking recipes" .
    }""")
    return eng


# ---------------------------------------------- FTS control-state staging

def test_failed_update_rolls_back_setparam(spark):
    """The r10 live-drive poisoning case: one INSERT DATA sets an
    unsupported analyzer param, then createIndex raises — the update
    fails and the param must NOT persist: a later plain createIndex in
    the same session succeeds."""
    from graphdb_free_mocha_sa_spark.operators.fts import FtsError
    eng = _engine(spark)
    with pytest.raises(FtsError):
        eng.update(LUC + """INSERT DATA {
          luc:analyzer luc:setParam "org.apache.lucene.analysis.de.GermanAnalyzer" .
          luc:idx luc:createIndex "true" }""")
    assert eng.store._fts_params == {}
    assert eng.store.fts_indexes == {}
    eng.update(LUC + 'INSERT DATA { luc:idx luc:createIndex "true" }')
    assert "http://www.ontotext.com/owlim/lucene#idx" in eng.store.fts_indexes


def test_failed_update_rolls_back_created_index(spark):
    """An index built by an EARLIER op of a failing request is staged
    out again: the second op's unknown setParam aborts the request and
    idx1 must not stay queryable."""
    from graphdb_free_mocha_sa_spark.operators.fts import FtsError
    eng = _engine(spark)
    epoch = eng.store.fts_epoch
    with pytest.raises(FtsError):
        eng.update(LUC + """INSERT DATA {
          luc:idx1 luc:createIndex "true" .
          luc:noSuchParam luc:setParam "x" }""")
    assert eng.store.fts_indexes == {}
    assert eng.store.fts_epoch == epoch


def test_failed_update_keeps_preexisting_fts_state(spark):
    """Rollback restores the PRE-request state, it doesn't clear it."""
    from graphdb_free_mocha_sa_spark.operators.fts import FtsError
    eng = _engine(spark)
    eng.update(LUC + 'INSERT DATA { luc:idx luc:createIndex "true" }')
    before = dict(eng.store.fts_indexes)
    with pytest.raises(FtsError):
        eng.update(LUC + """INSERT DATA {
          luc:idx2 luc:createIndex "true" .
          luc:noSuchParam luc:setParam "x" }""")
    assert eng.store.fts_indexes == before


def test_durable_failed_update_restores_registry_file(spark, tmp_path):
    """Durable stores stage the on-disk registry too: after the failed
    request, a RE-OPEN of the store sees only the pre-request indexes."""
    import json
    import os
    from graphdb_free_mocha_sa_spark.engine import Engine
    from graphdb_free_mocha_sa_spark.operators.fts import FtsError
    from graphdb_free_mocha_sa_spark.store import DurableQuadStore
    store = DurableQuadStore(spark, str(tmp_path / "db"))
    eng = Engine(spark, store)
    eng.update('INSERT DATA { <urn:d1> <urn:title> "spark engine" . }')
    eng.update(LUC + 'INSERT DATA { luc:keep luc:createIndex "true" }')
    with pytest.raises(FtsError):
        eng.update(LUC + """INSERT DATA {
          luc:gone luc:createIndex "true" .
          luc:noSuchParam luc:setParam "x" }""")
    reg = store._fts_registry_path()
    assert os.path.exists(reg)
    with open(reg) as fh:
        names = set(json.load(fh))
    assert names == {"http://www.ontotext.com/owlim/lucene#keep"}
    reopened = DurableQuadStore(spark, str(tmp_path / "db"))
    assert set(reopened.fts_indexes) == names


# ------------------------------------- consistency-gate FTS rollback

def test_gate_rollback_restores_fts_state(spark):
    """ADVICE r11 (medium): a luc:createIndex inside a checked update
    that later FAILS the consistency gate must roll back with the data —
    an index over never-committed triples must not stay queryable."""
    from graphdb_free_mocha_sa_spark.engine import InconsistencyError
    eng = _engine(spark, check_inconsistencies=True)
    eng.update(f"""INSERT DATA {{
      <urn:Cat> <{OWL}disjointWith> <urn:Dog> .
      <urn:rex> <{RDFT}> <urn:Dog> . }}""")
    epoch = eng.store.fts_epoch
    with pytest.raises(InconsistencyError):
        eng.update(LUC + f"""INSERT DATA {{
          luc:idx luc:createIndex "true" .
          <urn:rex> <{RDFT}> <urn:Cat> . }}""")
    assert eng.store.fts_indexes == {}
    assert eng.store.fts_epoch == epoch
    # and the data rollback still holds alongside the FTS rollback
    assert not eng.query("ASK { <urn:rex> <" + RDFT + "> <urn:Cat> }")


# --------------------------------- delta-gate pre-state-consistent invariant

def test_gate_full_check_after_unchecked_mutation(spark):
    """ADVICE r11 (low): the O(delta) branch is sound only over a
    consistent pre-state. After an UNCHECKED direct store write makes the
    store inconsistent, the next checked update must run the FULL check
    and abort — even though its own delta is benign."""
    from graphdb_free_mocha_sa_spark.engine import InconsistencyError
    from graphdb_free_mocha_sa_spark.model import local_quads_df
    from graphdb_free_mocha_sa_spark.store import DEFAULT_GRAPH
    eng = _engine(spark, check_inconsistencies=True)
    eng.update(f"""INSERT DATA {{
      <urn:Cat> <{OWL}disjointWith> <urn:Dog> .
      <urn:rex> <{RDFT}> <urn:Dog> . }}""")
    # unchecked path: the store is now inconsistent, the gate never saw it
    eng.store.add_quads(local_quads_df(spark, [
        (DEFAULT_GRAPH, "urn:rex", RDFT, "urn:Cat",
         None, None, None, None)]))
    with pytest.raises(InconsistencyError):
        eng.update("INSERT DATA { <urn:other> <urn:p> <urn:o> . }")
    # the benign delta was rolled back; the unchecked damage remains
    assert not eng.query("ASK { <urn:other> <urn:p> <urn:o> }")
    assert eng.query("ASK { <urn:rex> <" + RDFT + "> <urn:Cat> }")


def test_gate_pure_delete_not_skipped_over_unverified_state(spark):
    """GraphDB's gate asserts the STORE is consistent post-commit: a pure
    delete over an unverified (and here inconsistent) pre-state must run
    the full check, not the monotonicity skip."""
    from graphdb_free_mocha_sa_spark.engine import InconsistencyError
    from graphdb_free_mocha_sa_spark.model import local_quads_df
    from graphdb_free_mocha_sa_spark.store import DEFAULT_GRAPH
    eng = _engine(spark, check_inconsistencies=True)
    eng.update(f"""INSERT DATA {{
      <urn:Cat> <{OWL}disjointWith> <urn:Dog> .
      <urn:rex> <{RDFT}> <urn:Dog> . }}""")
    eng.store.add_quads(local_quads_df(spark, [
        (DEFAULT_GRAPH, "urn:rex", RDFT, "urn:Cat",
         None, None, None, None)]))
    with pytest.raises(InconsistencyError):
        eng.update('DELETE DATA { <urn:d1> <urn:title> '
                   '"spark analytics engine" . }')
    # but a delete that REMOVES the violation passes the full check
    eng.update(f"DELETE DATA {{ <urn:rex> <{RDFT}> <urn:Cat> . }}")


def test_gate_delta_path_resumes_after_full_verify(spark):
    """After the one-time full check re-verifies the store, later
    delta-eligible commits go back to the O(delta) branch (full check
    bombed to prove it is not consulted)."""
    def _bomb(*a, **k):
        raise AssertionError("full check must not run on the delta path")

    eng = _engine(spark, check_inconsistencies=True)
    eng.update(f"""INSERT DATA {{
      <urn:Cat> <{OWL}disjointWith> <urn:Dog> .
      <urn:rex> <{RDFT}> <urn:Dog> . }}""")
    from graphdb_free_mocha_sa_spark.model import local_quads_df
    from graphdb_free_mocha_sa_spark.store import DEFAULT_GRAPH
    # benign unchecked write → next checked update full-checks once
    eng.store.add_quads(local_quads_df(spark, [
        (DEFAULT_GRAPH, "urn:ok", "urn:p", "urn:o",
         None, None, None, None)]))
    eng.update("INSERT DATA { <urn:a> <urn:p> <urn:b> . }")   # full, passes
    eng.check_consistency = _bomb
    try:
        eng.update("INSERT DATA { <urn:c> <urn:p> <urn:d> . }")  # delta
        eng.update("DELETE DATA { <urn:c> <urn:p> <urn:d> . }")  # skip
    finally:
        del eng.check_consistency


# --------------------------------- AllDifferent walk: DAG/cycle guards

def _viol(eng):
    return sorted((r["rule"], r["x"], r["y"])
                  for r in eng.check_consistency().collect())


def _ad_prelude(extra: str) -> str:
    return f"""INSERT DATA {{
      _:ad <{RDFT}> <{OWL}AllDifferent> .
      _:ad <{OWL}distinctMembers> _:l1 .
      {extra}
    }}"""


RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"


def test_alldifferent_same_hop_convergence_merges(spark):
    """ADVICE r11 (low): a convergent rdf:rest DAG used to multiply
    duplicate frontier paths each hop (exponential walk growth). Equal-
    length branches sharing a tail now merge — each cell is ONE list
    position — so four distinct members stay consistent."""
    eng = _engine(spark)
    eng.update(_ad_prelude(f"""
      _:l1 <{RDF}first> <urn:a> .
      _:l1 <{RDF}rest> _:l2 .
      _:l1 <{RDF}rest> _:l3 .
      _:l2 <{RDF}first> <urn:b> .
      _:l2 <{RDF}rest> _:l4 .
      _:l3 <{RDF}first> <urn:c> .
      _:l3 <{RDF}rest> _:l4 .
      _:l4 <{RDF}first> <urn:d> .
      _:l4 <{RDF}rest> <{RDF}nil> ."""))
    assert _viol(eng) == []


def test_alldifferent_cross_hop_revisit_raises(spark):
    """Skewed convergence (branches of different length reaching the same
    cell) is a cross-hop revisit — malformed, raises."""
    eng = _engine(spark)
    eng.update(_ad_prelude(f"""
      _:l1 <{RDF}first> <urn:a> .
      _:l1 <{RDF}rest> _:l2 .
      _:l1 <{RDF}rest> _:l3 .
      _:l2 <{RDF}first> <urn:b> .
      _:l2 <{RDF}rest> _:l3 .
      _:l3 <{RDF}first> <urn:c> .
      _:l3 <{RDF}rest> <{RDF}nil> ."""))
    with pytest.raises(RuntimeError, match="cyclic or convergent"):
        _viol(eng)


def test_alldifferent_cycle_raises(spark):
    eng = _engine(spark)
    eng.update(_ad_prelude(f"""
      _:l1 <{RDF}first> <urn:a> .
      _:l1 <{RDF}rest> _:l2 .
      _:l2 <{RDF}first> <urn:b> .
      _:l2 <{RDF}rest> _:l1 ."""))
    with pytest.raises(RuntimeError, match="cyclic or convergent|did not"):
        _viol(eng)


def test_alldifferent_multigraph_duplicate_edge_is_not_a_dag(spark):
    """The same logical list triple asserted in TWO graphs is one list
    edge — it must not trip the convergence guard, and the pairs are
    unchanged."""
    eng = _engine(spark)
    body = f"""
      _:ad <{RDFT}> <{OWL}AllDifferent> .
      _:ad <{OWL}distinctMembers> <urn:l1> .
      <urn:l1> <{RDF}first> <urn:a> .
      <urn:l1> <{RDF}rest> <urn:l2> .
      <urn:l2> <{RDF}first> <urn:a> .
      <urn:l2> <{RDF}rest> <{RDF}nil> ."""
    eng.update(f"INSERT DATA {{ {body} GRAPH <urn:g2> {{ {body} }} }}")
    # (a, a) at two positions => a != a, inconsistent — and no raise
    assert ("owl-dif", "urn:a", "urn:a") in _viol(eng)


def test_alldifferent_distributed_walk_guards(spark, bounded_path):
    """The driver walk and the distributed walk (probe overflow) agree on
    a sameAs clash, the convergent-DAG raise and a green merged list."""
    eng = _engine(spark)
    eng.update(_ad_prelude(f"""
      _:l1 <{RDF}first> <urn:a> .
      _:l1 <{RDF}rest> _:l2 .
      _:l2 <{RDF}first> <urn:b> .
      _:l2 <{RDF}rest> <{RDF}nil> .
      <urn:a> <{OWL}sameAs> <urn:b> ."""))
    assert [v[0] for v in _viol(eng)] == ["owl-dif"]
    # skewed convergence raises in the distributed walk too
    eng2 = _engine(spark)
    eng2.update(_ad_prelude(f"""
      _:l1 <{RDF}first> <urn:a> .
      _:l1 <{RDF}rest> _:l2 .
      _:l1 <{RDF}rest> _:l3 .
      _:l2 <{RDF}first> <urn:b> .
      _:l2 <{RDF}rest> _:l3 .
      _:l3 <{RDF}first> <urn:c> .
      _:l3 <{RDF}rest> <{RDF}nil> ."""))
    with pytest.raises(RuntimeError, match="cyclic or convergent"):
        _viol(eng2)
    # and equal-length convergence merges in the distributed walk too
    eng3 = _engine(spark)
    eng3.update(_ad_prelude(f"""
      _:l1 <{RDF}first> <urn:a> .
      _:l1 <{RDF}rest> _:l2 .
      _:l1 <{RDF}rest> _:l3 .
      _:l2 <{RDF}first> <urn:b> .
      _:l2 <{RDF}rest> _:l4 .
      _:l3 <{RDF}first> <urn:c> .
      _:l3 <{RDF}rest> _:l4 .
      _:l4 <{RDF}first> <urn:d> .
      _:l4 <{RDF}rest> <{RDF}nil> ."""))
    assert _viol(eng3) == []


# ------------------------- VALUES UNDEF shared-variable compat join

def test_values_undef_shared_variable_join(spark):
    """§18.3 compatible mappings: an UNDEF (unbound) shared variable in a
    VALUES row is compatible with ANY binding of that variable — the row
    must not be dropped by strict NULL equality. Pins the semantics the
    stale translator header used to disclaim (r11 verdict item)."""
    eng = _engine(spark)
    eng.update("""INSERT DATA {
      <urn:s1> <urn:p> <urn:o1> .
      <urn:s2> <urn:p> <urn:o2> .
    }""")
    res = eng.query("""
      SELECT ?s ?o ?tag WHERE {
        ?s <urn:p> ?o .
        VALUES (?o ?tag) { (<urn:o1> "one") (UNDEF "any") }
      } ORDER BY ?s ?tag""")
    rows = res.finalize({"s": "str", "o": "str", "tag": "str"}).collect()
    got = [(r["s"], r["o"], r["tag"]) for r in rows]
    # UNDEF row joins BOTH solutions; the bound row joins only o1
    assert got == [("urn:s1", "urn:o1", "any"),
                   ("urn:s1", "urn:o1", "one"),
                   ("urn:s2", "urn:o2", "any")]


def test_gate_rollback_restores_fts_registry_on_durable_store(spark, tmp_path):
    """Durable variant of the gate FTS rollback: the consistency abort
    must rewind the ON-DISK registry too — a re-open after the aborted
    transaction sees no index built over the rolled-back triples."""
    from graphdb_free_mocha_sa_spark.engine import (Engine,
                                                    InconsistencyError)
    from graphdb_free_mocha_sa_spark.store import DurableQuadStore
    store = DurableQuadStore(spark, str(tmp_path / "db"))
    eng = Engine(spark, store, check_inconsistencies=True)
    eng.update(f"""INSERT DATA {{
      <urn:d1> <urn:title> "spark engine" .
      <urn:Cat> <{OWL}disjointWith> <urn:Dog> .
      <urn:rex> <{RDFT}> <urn:Dog> . }}""")
    with pytest.raises(InconsistencyError):
        eng.update(LUC + f"""INSERT DATA {{
          luc:idx luc:createIndex "true" .
          <urn:rex> <{RDFT}> <urn:Cat> . }}""")
    assert eng.store.fts_indexes == {}
    reopened = DurableQuadStore(spark, str(tmp_path / "db"))
    assert reopened.fts_indexes == {}
    # and the quad rollback is durable too
    assert not Engine(spark, reopened).query(
        "ASK { <urn:rex> <" + RDFT + "> <urn:Cat> }")


def test_failing_request_rolls_back_earlier_ops_data(spark):
    """Request-level atomicity (SPARQL 1.1 Protocol: one request = one
    transaction; the reference executes updates transactionally): the
    INSERT applied by op 1 must roll back when op 2 of the same request
    fails."""
    from graphdb_free_mocha_sa_spark.operators.fts import FtsError
    eng = _engine(spark)
    with pytest.raises(FtsError):
        eng.update(LUC + """INSERT DATA { <urn:n1> <urn:p> <urn:o1> } ;
          INSERT DATA { luc:noSuchParam luc:setParam "x" }""")
    assert not eng.query("ASK { <urn:n1> <urn:p> <urn:o1> }")
    # and a later request still commits normally
    eng.update("INSERT DATA { <urn:n2> <urn:p> <urn:o2> }")
    assert eng.query("ASK { <urn:n2> <urn:p> <urn:o2> }")


def test_failing_request_durable_rollback(spark, tmp_path):
    """The request rollback writes through to the durable log: a re-open
    sees neither op of the failed request."""
    from graphdb_free_mocha_sa_spark.engine import Engine
    from graphdb_free_mocha_sa_spark.sparql.parser import SparqlSyntaxError
    from graphdb_free_mocha_sa_spark.store import DurableQuadStore
    store = DurableQuadStore(spark, str(tmp_path / "db"))
    eng = Engine(spark, store)
    eng.update("INSERT DATA { <urn:keep> <urn:p> <urn:o> }")
    with pytest.raises(Exception):
        eng.update("""INSERT DATA { <urn:gone> <urn:p> <urn:o> } ;
          LOAD <file:///nonexistent/file.ttl>""")
    assert not eng.query("ASK { <urn:gone> ?p ?o }")
    reopened = Engine(spark, DurableQuadStore(spark, str(tmp_path / "db")))
    assert reopened.query("ASK { <urn:keep> <urn:p> <urn:o> }")
    assert not reopened.query("ASK { <urn:gone> ?p ?o }")


def test_request_rollback_advances_destructive_epoch(spark):
    """Rollback must NEVER restore destructive_epoch backward: a reader
    that cached sameAs components against a mid-request epoch would see
    a later destructive commit re-reach the same number and wrongly
    seed incremental propagation from the aborted state (epoch
    aliasing). An aborted publish is itself a destructive transition —
    the epoch advances past every value published during the request."""
    from graphdb_free_mocha_sa_spark.operators.fts import FtsError
    eng = _engine(spark)
    eng.update("INSERT DATA { <urn:e1> <urn:p> <urn:o1> }")
    e0 = eng.store.destructive_epoch
    with pytest.raises(FtsError):
        eng.update(LUC + """DELETE DATA { <urn:e1> <urn:p> <urn:o1> } ;
          INSERT DATA { luc:noSuchParam luc:setParam "x" }""")
    assert eng.store.destructive_epoch > e0 + 1, \
        "epoch restored/aliased: a mid-request cache keyed on epoch " \
        f"{e0 + 1} could poison a later commit at the same number"
    # data rolled back all the same
    assert eng.query("ASK { <urn:e1> <urn:p> <urn:o1> }")


def test_checked_update_rollback_advances_destructive_epoch(spark):
    """Same invariant for the consistency-gate rollback path."""
    from graphdb_free_mocha_sa_spark.engine import Engine, InconsistencyError
    from graphdb_free_mocha_sa_spark.store import QuadStore
    eng = Engine(spark, QuadStore(spark), check_inconsistencies=True)
    eng.update("""INSERT DATA {
      <urn:A> <http://www.w3.org/2002/07/owl#disjointWith> <urn:B> .
      <urn:i> a <urn:A> . }""")
    e0 = eng.store.destructive_epoch
    with pytest.raises(InconsistencyError):
        eng.update("INSERT DATA { <urn:i> a <urn:B> }")
    assert eng.store.destructive_epoch > e0
    assert not eng.query("ASK { <urn:i> a <urn:B> }")


def test_durable_rollback_is_log_pointer_not_base_rewrite(spark, tmp_path):
    """Rolling back a failed request on a durable store republishes the
    captured log pointer — the pre-request BASE must survive by name
    (no full-store rewrite to undo an abort; at 100 TB that is the
    difference between an O(1) abort and rewriting the store). The
    aborted op's own base/segments become unreferenced garbage for
    vacuum, and a re-open sees the pre-request state."""
    from graphdb_free_mocha_sa_spark.engine import Engine
    from graphdb_free_mocha_sa_spark.store import DurableQuadStore
    store = DurableQuadStore(spark, str(tmp_path / "db"))
    eng = Engine(spark, store)
    eng.update("INSERT DATA { <urn:keep> <urn:p> <urn:o> }")
    base0, segs0 = store._base, list(store._segments)
    with pytest.raises(Exception):
        # op1 is DESTRUCTIVE (rewrites the base on the durable store),
        # op2 fails -> rollback must re-point at base0, not rewrite
        eng.update("""DELETE DATA { <urn:keep> <urn:p> <urn:o> } ;
          LOAD <file:///nonexistent/file.ttl>""")
    assert store._base == base0 and list(store._segments) == segs0, \
        "rollback rewrote the store instead of republishing the pointer"
    assert eng.query("ASK { <urn:keep> <urn:p> <urn:o> }")
    reopened = Engine(spark, DurableQuadStore(spark, str(tmp_path / "db")))
    assert reopened.query("ASK { <urn:keep> <urn:p> <urn:o> }")
