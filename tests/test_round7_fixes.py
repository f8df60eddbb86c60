"""Round-7 regression tests for the round-6 ADVICE findings.

Each test pins one verified defect: the zero-length-path unit solution
leaking under GRAPH <nonexistent>, BNODE() inside aggregate arguments /
computed GROUP BY keys erroring on the unmaterialized salt column, IRI()
mis-resolving query-only references and never removing dot segments,
LOAD SILENT letting lazy parse errors poison the store lineage, and
SECONDS routing its exact lexical through a double cast.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from graphdb_free_mocha_sa_spark.model import QUAD_SCHEMA

XSD = "http://www.w3.org/2001/XMLSchema#"


@pytest.fixture()
def fresh_eng(spark):
    from graphdb_free_mocha_sa_spark.engine import Engine
    from graphdb_free_mocha_sa_spark.store import QuadStore
    return Engine(spark, QuadStore(spark))


@pytest.fixture()
def graph_eng(spark):
    from graphdb_free_mocha_sa_spark.engine import Engine
    from graphdb_free_mocha_sa_spark.store import QuadStore
    rows = [("urn:g1", "urn:x", "urn:p", "urn:y", None, None, None, None),
            ("urn:g2", "urn:a", "urn:p", "urn:b", None, None, None, None)]
    return Engine(spark, QuadStore(spark, spark.createDataFrame(rows, QUAD_SCHEMA)))


def _rows(eng, q, spec):
    return sorted((tuple(r) for r in eng.query(q).finalize(spec).collect()),
                  key=lambda t: tuple((x is None, str(x)) for x in t))


# ------------------- ADVICE medium: zero-length path under constant GRAPH


def test_zero_length_path_nonexistent_graph_empty(graph_eng):
    got = _rows(graph_eng,
                'SELECT (1 AS ?one) WHERE '
                '{ GRAPH <urn:nope> { <urn:x> <urn:p>* <urn:x> } }',
                {"one": "int"})
    assert got == []


def test_zero_length_path_existing_graph_unit(graph_eng):
    got = _rows(graph_eng,
                'SELECT (1 AS ?one) WHERE '
                '{ GRAPH <urn:g1> { <urn:zzz> <urn:p>* <urn:zzz> } }',
                {"one": "int"})
    assert got == [(1,)]


def test_zero_length_path_default_graph_still_unit(graph_eng):
    # default-graph evaluation keeps the unconditional unit solution
    got = _rows(graph_eng,
                'SELECT (1 AS ?one) WHERE { <urn:zzz> <urn:p>* <urn:zzz> }',
                {"one": "int"})
    assert got == [(1,)]


def test_zero_length_path_graph_var_per_named_graph(graph_eng):
    got = _rows(graph_eng,
                'SELECT ?g WHERE { GRAPH ?g { <urn:x> <urn:p>* <urn:x> } }',
                {"g": "iri"})
    assert got == [("urn:g1",), ("urn:g2",)]


# ----------------------- ADVICE low: BNODE() inside aggregates / group keys


def test_bnode_in_aggregate_argument(fresh_eng):
    got = _rows(fresh_eng,
                'SELECT (COUNT(BNODE()) AS ?c) WHERE { VALUES ?v { 1 2 3 } }',
                {"c": "int"})
    assert got == [(3,)]


def test_bnode_in_computed_group_key(fresh_eng):
    # BNODE("k") is stable within a solution, distinct across solutions →
    # one group per input row
    got = _rows(fresh_eng,
                'SELECT (COUNT(*) AS ?c) WHERE { VALUES ?v { 1 2 3 } } '
                'GROUP BY (BNODE("k"))',
                {"c": "int"})
    assert got == [(1,), (1,), (1,)]


# ------------------------------- ADVICE low: IRI() RFC 3986 base resolution


@pytest.mark.parametrize("ref,expect", [
    ("?x=2", "http://ex.org/a/b/c?x=2"),          # query-only ref
    ("../d", "http://ex.org/a/d"),                # dot segments
    ("./d", "http://ex.org/a/b/d"),
    ("../../d", "http://ex.org/d"),
    ("../../../d", "http://ex.org/d"),            # over-pop clamps at root
    ("/e/../f", "http://ex.org/f"),               # abs-path with dots
    ("d/..", "http://ex.org/a/b/"),               # trailing dot-dot keeps /
    ("", "http://ex.org/a/b/c?q=1"),              # same-document ref
    ("#frag", "http://ex.org/a/b/c?q=1#frag"),
    ("g", "http://ex.org/a/b/g"),                 # plain relative unchanged
    ("//other.org/z", "http://other.org/z"),
    ("urn:abs", "urn:abs"),
])
def test_iri_base_resolution(fresh_eng, ref, expect):
    q = ('BASE <http://ex.org/a/b/c?q=1#f> '
         'SELECT (IRI("%s") AS ?u) WHERE { VALUES ?v { 1 } }' % ref)
    assert _rows(fresh_eng, q, {"u": "iri"}) == [(expect,)]


# ----------------------------- ADVICE low: LOAD SILENT lazy parse failures


def test_load_silent_parse_error_does_not_poison_store(spark, tmp_path):
    from graphdb_free_mocha_sa_spark.engine import Engine
    from graphdb_free_mocha_sa_spark.store import QuadStore
    eng = Engine(spark, QuadStore(spark))
    bad = tmp_path / "bad.ttl"
    bad.write_text("this is not turtle at all }{ <<\n" * 5)
    eng.update(f'LOAD SILENT <file://{bad}>')  # must not raise
    # the store must still be fully queryable afterwards
    eng.update('INSERT DATA { <urn:s> <urn:p> <urn:o> }')
    got = _rows(eng, 'SELECT ?o WHERE { <urn:s> <urn:p> ?o }', {"o": "iri"})
    assert got == [("urn:o",)]


def test_load_nonsilent_parse_error_raises(spark, tmp_path):
    from graphdb_free_mocha_sa_spark.engine import Engine
    from graphdb_free_mocha_sa_spark.store import QuadStore
    eng = Engine(spark, QuadStore(spark))
    bad = tmp_path / "bad2.ttl"
    bad.write_text("definitely not turtle }{ <<\n")
    with pytest.raises(Exception):
        eng.update(f'LOAD <file://{bad}>')


# --------------------------------------- ADVICE low: SECONDS exact lexical


@pytest.mark.parametrize("lit,expect", [
    ("2011-01-10T14:45:05", "5"),
    ("2011-01-10T14:45:05.123", "5.123"),
    ("2011-01-10T14:45:05.4556", "5.4556"),
    ("2011-01-10T14:45:13Z", "13"),
])
def test_seconds_exact_lexical(fresh_eng, lit, expect):
    q = ('SELECT (STR(SECONDS("%s"^^<%sdateTime>)) AS ?s) '
         'WHERE { VALUES ?v { 1 } }' % (lit, XSD))
    assert _rows(fresh_eng, q, {"s": "str"}) == [(expect,)]


# ------------------------------------------- r7 probe fixes (session 3)


def test_literal_subject_pattern_matches_nothing(spark):
    """A literal in subject position is valid SPARQL that can never match
    an RDF graph — empty result, not a crash/sentinel (r7 probe fix)."""
    from graphdb_free_mocha_sa_spark.engine import Engine
    from graphdb_free_mocha_sa_spark.store import QuadStore
    eng = Engine(spark, QuadStore(spark))
    eng.update('INSERT DATA { <urn:s> <urn:p> "x" }')
    assert _rows(eng, 'SELECT ?o WHERE { "lit" <urn:p> ?o }',
                 {"o": "str"}) == []
    # sanity: the store itself still answers
    assert _rows(eng, 'SELECT ?o WHERE { <urn:s> <urn:p> ?o }',
                 {"o": "str"}) == [("x",)]


def test_graph_literal_name_is_syntax_error(fresh_eng):
    """GraphGraphPattern ::= 'GRAPH' VarOrIri — a literal graph name is a
    clean syntax error, not a translation crash (r7 probe fix)."""
    from graphdb_free_mocha_sa_spark.sparql.parser import SparqlSyntaxError
    with pytest.raises(SparqlSyntaxError):
        fresh_eng.query('SELECT ?o WHERE { GRAPH "g" { ?s ?p ?o } }')


def test_minus_dynamic_masks_empty_left(fresh_eng):
    """MINUS with >2 maybe-unbound shared vars enumerates boundness masks
    dynamically; an EMPTY left side produced no pieces and returned a
    None frame (r7 fuzz-soak crash). The MINUS of an empty multiset is
    the empty multiset."""
    got = _rows(fresh_eng, """
        SELECT ?a ?b ?c WHERE {
          { VALUES (?a ?b ?c) { (1 2 3) } FILTER(false) }
          MINUS
          { VALUES (?a ?b ?c) { (1 UNDEF 3) (UNDEF 2 UNDEF) } }
        }""", {"a": "num", "b": "num", "c": "num"})
    assert got == []
    # and the non-empty-left sibling still removes per §8.3
    got2 = _rows(fresh_eng, """
        SELECT ?a ?b ?c WHERE {
          { VALUES (?a ?b ?c) { (1 2 3) (9 9 9) } }
          MINUS
          { VALUES (?a ?b ?c) { (1 UNDEF 3) (UNDEF 7 UNDEF) } }
        }""", {"a": "num", "b": "num", "c": "num"})
    assert got2 == [(9.0, 9.0, 9.0)]


def test_compat_join_dynamic_masks_empty_side(spark):
    """A join with >2 maybe-unbound shared vars enumerates boundness masks
    dynamically; an EMPTY side yields no pieces, and the compatibility
    join indexed the first of none (IndexError, the query answered the
    failure sentinel). Joining with an empty multiset is empty."""
    from graphdb_free_mocha_sa_spark.engine import Engine
    from graphdb_free_mocha_sa_spark.store import DEFAULT_GRAPH, QuadStore
    rows = [(DEFAULT_GRAPH, s, p, o, None, None, None, None) for s, p, o in (
        ("urn:s1", "urn:p", "urn:a1"), ("urn:s1", "urn:q", "urn:b1"),
        ("urn:s2", "urn:r", "urn:c1"), ("urn:s2", "urn:p", "urn:a2"))]
    eng = Engine(spark, QuadStore(spark, spark.createDataFrame(rows,
                                                               QUAD_SCHEMA)))
    union = ("{ ?s <urn:p> ?a } UNION { ?s <urn:q> ?b } "
             "UNION { ?s <urn:r> ?c }")
    spec = {v: "iri" for v in "sabc"}
    got = _rows(eng, "SELECT * WHERE { " + union + " ?a <urn:absent> ?b . "
                "?b <urn:absent2> ?c . }", spec)
    assert got == []
    # the non-empty sibling: an unbound var is compatible with anything
    got2 = _rows(eng, "SELECT * WHERE { " + union +
                 " VALUES (?a ?b ?c) { (<urn:a1> UNDEF UNDEF) } }", spec)
    assert got2 == [("urn:s1", "urn:a1", "urn:b1", None),
                    ("urn:s1", "urn:a1", None, None),
                    ("urn:s2", "urn:a1", None, "urn:c1")]
