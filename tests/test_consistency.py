"""B42 consistency checking: pD*/OWL-Horst inconsistency conditions +
the commit-time transaction gate (``owlim:check-for-inconsistencies`` —
the reference template ships "false", repo-config.ttl:44; GraphDB aborts
the commit when a consistency rule fires with it on)."""

from __future__ import annotations

from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
TEMPLATE = REPO / "fixtures" / "repo-config.ttl"
REFERENCE_TEMPLATE = REPO.parent / "reference" / "repo-config.ttl"

OWL = "http://www.w3.org/2002/07/owl#"
RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
RDFT = RDF + "type"


def _engine(spark, **kw):
    from graphdb_free_mocha_sa_spark.engine import Engine
    from graphdb_free_mocha_sa_spark.store import QuadStore
    return Engine(spark, QuadStore(spark), **kw)


def _viol(eng):
    return sorted((r["rule"], r["x"], r["y"])
                  for r in eng.check_consistency().collect())


def test_disjoint_with_clash(spark):
    eng = _engine(spark)
    eng.update(f"""INSERT DATA {{
      <urn:Cat> <{OWL}disjointWith> <urn:Dog> .
      <urn:rex> <{RDFT}> <urn:Dog> .
      <urn:rex> <{RDFT}> <urn:Cat> . }}""")
    assert _viol(eng) == [("cax-dw", "urn:rex", "urn:Cat | urn:Dog")]


def test_complement_of_clash(spark):
    eng = _engine(spark)
    eng.update(f"""INSERT DATA {{
      <urn:Alive> <{OWL}complementOf> <urn:Dead> .
      <urn:z> <{RDFT}> <urn:Alive> .
      <urn:z> <{RDFT}> <urn:Dead> . }}""")
    assert _viol(eng) == [("owl-comp", "urn:z", "urn:Alive | urn:Dead")]


def test_nothing_membership(spark):
    eng = _engine(spark)
    eng.update(f"INSERT DATA {{ <urn:x> <{RDFT}> <{OWL}Nothing> . }}")
    assert _viol(eng) == [("owl-nothing", "urn:x", OWL + "Nothing")]


def test_different_from_vs_sameas_chain(spark):
    eng = _engine(spark)
    eng.update(f"""INSERT DATA {{
      <urn:a> <{OWL}sameAs> <urn:b> .
      <urn:b> <{OWL}sameAs> <urn:c> .
      <urn:a> <{OWL}differentFrom> <urn:c> . }}""")
    assert _viol(eng) == [("owl-dif", "urn:a", "urn:c")]


def test_different_from_self_is_inconsistent(spark):
    eng = _engine(spark)
    eng.update(f"INSERT DATA {{ <urn:a> <{OWL}differentFrom> <urn:a> . }}")
    assert _viol(eng) == [("owl-dif", "urn:a", "urn:a")]


def test_disjoint_through_sameas_identity(spark):
    # rex type Dog, felix type Cat, rex sameAs felix -> same individual in
    # two disjoint classes
    eng = _engine(spark)
    eng.update(f"""INSERT DATA {{
      <urn:Cat> <{OWL}disjointWith> <urn:Dog> .
      <urn:rex> <{RDFT}> <urn:Dog> .
      <urn:felix> <{RDFT}> <urn:Cat> .
      <urn:rex> <{OWL}sameAs> <urn:felix> . }}""")
    v = _viol(eng)
    assert len(v) == 1 and v[0][0] == "cax-dw"


def test_all_different_list_expansion(spark):
    eng = _engine(spark)
    eng.update(f"""INSERT DATA {{
      _:ad <{RDFT}> <{OWL}AllDifferent> .
      _:ad <{OWL}distinctMembers> _:l1 .
      _:l1 <{RDF}first> <urn:p> .
      _:l1 <{RDF}rest> _:l2 .
      _:l2 <{RDF}first> <urn:q> .
      _:l2 <{RDF}rest> _:l3 .
      _:l3 <{RDF}first> <urn:r> .
      _:l3 <{RDF}rest> <{RDF}nil> .
      <urn:q> <{OWL}sameAs> <urn:r> . }}""")
    assert _viol(eng) == [("owl-dif", "urn:q", "urn:r")]


def test_functional_property_derived_clash(spark):
    """rdfp1 derives m1 sameAs m2; explicit differentFrom then fires
    owl-dif — the cardinality-style inconsistency of pD* surfaces through
    the materialized closure, no dedicated rule needed."""
    eng = _engine(spark, use_inference=True)
    eng.update(f"""INSERT DATA {{
      <urn:hasMother> <{RDFT}> <{OWL}FunctionalProperty> .
      <urn:kid> <urn:hasMother> <urn:m1> .
      <urn:kid> <urn:hasMother> <urn:m2> .
      <urn:m1> <{OWL}differentFrom> <urn:m2> . }}""")
    eng.store.materialize_inference()
    assert ("owl-dif", "urn:m1", "urn:m2") in _viol(eng)


def test_consistent_store_is_empty(spark):
    eng = _engine(spark)
    eng.update(f"""INSERT DATA {{
      <urn:Cat> <{OWL}disjointWith> <urn:Dog> .
      <urn:rex> <{RDFT}> <urn:Dog> .
      <urn:felix> <{RDFT}> <urn:Cat> .
      <urn:a> <{OWL}differentFrom> <urn:b> . }}""")
    assert eng.check_consistency().isEmpty()


def test_update_gate_aborts_and_rolls_back(spark):
    from graphdb_free_mocha_sa_spark.engine import InconsistencyError
    eng = _engine(spark, check_inconsistencies=True)
    eng.update(f"""INSERT DATA {{
      <urn:Cat> <{OWL}disjointWith> <urn:Dog> .
      <urn:rex> <{RDFT}> <urn:Dog> . }}""")
    n = eng.store.df.count()
    with pytest.raises(InconsistencyError):
        eng.update(f"INSERT DATA {{ <urn:rex> <{RDFT}> <urn:Cat> . }}")
    assert eng.store.df.count() == n       # transaction rolled back
    eng.update(f"INSERT DATA {{ <urn:felix> <{RDFT}> <urn:Cat> . }}")
    assert eng.store.df.count() == n + 1   # consistent writes still land


def test_update_gate_covers_delete_driven_violations(spark):
    """DELETE can violate too (removing a sameAs premise cannot, but
    removing a type does not — this pins that the gate re-checks after ANY
    update op, here a DELETE/INSERT pair whose INSERT half violates)."""
    from graphdb_free_mocha_sa_spark.engine import InconsistencyError
    eng = _engine(spark, check_inconsistencies=True)
    eng.update(f"""INSERT DATA {{
      <urn:Cat> <{OWL}disjointWith> <urn:Dog> .
      <urn:rex> <{RDFT}> <urn:Dog> . }}""")
    with pytest.raises(InconsistencyError):
        eng.update(f"""DELETE {{ ?s <urn:none> ?o }}
                       INSERT {{ <urn:rex> <{RDFT}> <urn:Cat> }}
                       WHERE {{ OPTIONAL {{ ?s <urn:none> ?o }} }}""")
    assert _viol(eng) == []


def test_config_template_maps_flag(spark, tmp_path):
    from graphdb_free_mocha_sa_spark.config import (engine_from_config,
                                                    parse_repo_config)
    cfg = tmp_path / "repo.ttl"
    cfg.write_text("""
@prefix owlim: <http://www.ontotext.com/trree/owlim#>.
[] owlim:ruleset "empty" ;
   owlim:check-for-inconsistencies "true" .
""")
    eng = engine_from_config(spark, str(cfg))
    assert eng.check_inconsistencies is True
    # the shipped template keeps it off (fixtures/repo-config.ttl is rebuilt
    # from the documents' citations of the reference's repo-config.ttl)
    eng2 = engine_from_config(spark, str(TEMPLATE))
    assert eng2.check_inconsistencies is False
    # where the reference adapter is checked out beside this repo, the real
    # template must give the same answer and agree with every fixture value
    if REFERENCE_TEMPLATE.is_file():
        eng3 = engine_from_config(spark, str(REFERENCE_TEMPLATE))
        assert eng3.check_inconsistencies is False
        real = parse_repo_config(str(REFERENCE_TEMPLATE))
        fixture = parse_repo_config(str(TEMPLATE))
        assert {k: real.get(k) for k in fixture} == fixture


def test_self_disjoint_class_flagged(spark):
    """r10 advisor fix: the symmetric-pair normalization used strict <,
    which dropped the diagonal — members of a SELF-disjoint class
    (C disjointWith C) were reported consistent."""
    eng = _engine(spark)
    eng.update(f"""INSERT DATA {{
      <urn:Weird> <{OWL}disjointWith> <urn:Weird> .
      <urn:w> <{RDFT}> <urn:Weird> . }}""")
    assert _viol(eng) == [("cax-dw", "urn:w", "urn:Weird | urn:Weird")]


def test_checked_rollback_does_not_clobber_concurrent_writer(spark):
    """r10 advisor fix (medium): a writer committing between a checked
    update's execute() and its rollback used to be ERASED by the
    unconditional snapshot restore. The store's reentrant writer gate now
    serializes the whole execute+check+rollback span against other
    writers (readers unaffected)."""
    import threading
    import time

    from graphdb_free_mocha_sa_spark.engine import InconsistencyError
    eng = _engine(spark, check_inconsistencies=True)
    eng.update(f"INSERT DATA {{ <urn:Cat> <{OWL}disjointWith> <urn:Dog> . }}")

    real_check = eng.check_consistency
    in_check = threading.Event()

    def slow_check():
        in_check.set()
        time.sleep(3.0)          # window for the racing writer below
        return real_check()

    eng.check_consistency = slow_check
    errs = []

    def bad_update():
        try:
            # the redundant disjointWith re-assert is deliberate: a
            # schema-bearing delta forces the gate onto the FULL check
            # path, whose check_consistency we patched with the slow
            # version above (the delta path bypasses that hook)
            eng.update(f"""INSERT DATA {{
              <urn:Cat> <{OWL}disjointWith> <urn:Dog> .
              <urn:rex> <{RDFT}> <urn:Dog> .
              <urn:rex> <{RDFT}> <urn:Cat> . }}""")
            errs.append("checked update did not raise")
        except InconsistencyError:
            pass
        except Exception as e:          # noqa: BLE001
            errs.append(repr(e))

    t = threading.Thread(target=bad_update)
    t.start()
    assert in_check.wait(60)
    # racing plain writer: must block on the gate until the rollback
    # completes, never be clobbered by it
    eng._updates.execute('INSERT DATA { <urn:other> <urn:p> "kept" . }')
    t.join(120)
    assert not t.is_alive() and errs == []
    assert eng.query('SELECT ?s WHERE { ?s <urn:p> "kept" }').df.count() == 1
    assert eng.query(
        f'SELECT ?s WHERE {{ ?s <{RDFT}> <urn:Dog> }}').df.count() == 0
    assert _viol(eng) == []


def test_all_different_duplicate_member_flagged(spark):
    """r10 fuzzer find: AllDifferent pairs were formed by member VALUE
    (member < member2), so a list naming the same individual twice —
    (a a), which asserts a != a — produced no pair. Pairs now form on
    list-cell position."""
    eng = _engine(spark)
    eng.update(f"""INSERT DATA {{
      _:ad <{RDFT}> <{OWL}AllDifferent> .
      _:ad <{OWL}distinctMembers> _:l1 .
      _:l1 <{RDF}first> <urn:a> .
      _:l1 <{RDF}rest> _:l2 .
      _:l2 <{RDF}first> <urn:a> .
      _:l2 <{RDF}rest> <{RDF}nil> . }}""")
    assert _viol(eng) == [("owl-dif", "urn:a", "urn:a")]


def _bomb(*a, **kw):
    raise AssertionError("full check_consistency called on a delta/skip "
                         "gate path")


def test_gate_delta_path_catches_type_clash(spark):
    """r10 delta gate: an ABox-only insert (rdf:type rows) goes through
    the O(delta) check — the full check is NOT called (bombed), yet the
    clash with the OLD type assertion is caught and rolled back."""
    from graphdb_free_mocha_sa_spark.engine import InconsistencyError
    eng = _engine(spark, check_inconsistencies=True)
    eng.update(f"""INSERT DATA {{
      <urn:Cat> <{OWL}disjointWith> <urn:Dog> .
      <urn:rex> <{RDFT}> <urn:Dog> . }}""")
    eng.check_consistency = _bomb
    with pytest.raises(InconsistencyError):
        eng.update(f"INSERT DATA {{ <urn:rex> <{RDFT}> <urn:Cat> . }}")
    del eng.check_consistency
    assert _viol(eng) == []


def test_gate_delta_path_sees_old_sameas_component(spark):
    """The delta leg canonizes through the store's EXISTING sameAs
    components: a new type on one member clashes with an old type on
    another member of the same component."""
    from graphdb_free_mocha_sa_spark.engine import InconsistencyError
    eng = _engine(spark, check_inconsistencies=True)
    eng.update(f"""INSERT DATA {{
      <urn:Cat> <{OWL}disjointWith> <urn:Dog> .
      <urn:rex> <{OWL}sameAs> <urn:felix> .
      <urn:rex> <{RDFT}> <urn:Dog> . }}""")
    eng.check_consistency = _bomb
    with pytest.raises(InconsistencyError):
        eng.update(f"INSERT DATA {{ <urn:felix> <{RDFT}> <urn:Cat> . }}")
    with pytest.raises(InconsistencyError):
        # differentFrom delta leg under the same old components
        eng.update(f"INSERT DATA {{ <urn:rex> "
                   f"<{OWL}differentFrom> <urn:felix> . }}")
    del eng.check_consistency
    assert _viol(eng) == []


def test_gate_skips_check_for_pure_deletes(spark):
    """Violations are monotone in the triple set: a pure-delete update
    cannot create one, so the gate runs NO check at all (both hooks
    bombed)."""
    from graphdb_free_mocha_sa_spark.operators import inference
    eng = _engine(spark, check_inconsistencies=True)
    eng.update(f"""INSERT DATA {{
      <urn:Cat> <{OWL}disjointWith> <urn:Dog> .
      <urn:rex> <{RDFT}> <urn:Dog> . }}""")
    eng.check_consistency = _bomb
    orig = inference.consistency_violations_delta
    inference.consistency_violations_delta = _bomb
    try:
        eng.update(f"DELETE DATA {{ <urn:rex> <{RDFT}> <urn:Dog> . }}")
        eng.update("CLEAR ALL")
    finally:
        inference.consistency_violations_delta = orig
        del eng.check_consistency
    assert eng.store.df.isEmpty()


def test_gate_schema_delta_forces_full_check(spark):
    """A new disjointWith pair can clash two OLD type assertions — no
    delta leg exists, so the gate must take the full path."""
    from graphdb_free_mocha_sa_spark.engine import InconsistencyError
    eng = _engine(spark, check_inconsistencies=True)
    eng.update(f"""INSERT DATA {{
      <urn:rex> <{RDFT}> <urn:Dog> .
      <urn:rex> <{RDFT}> <urn:Cat> . }}""")
    with pytest.raises(InconsistencyError):
        eng.update(f"INSERT DATA {{ <urn:Cat> "
                   f"<{OWL}disjointWith> <urn:Dog> . }}")
    assert _viol(eng) == []
