"""End-to-end SPARQL core tests vs the DuckDB oracle (SURVEY M1/M2 gates)."""

from __future__ import annotations

import pytest

from tests.conftest import assert_matches_duck


@pytest.fixture(scope="module")
def engine(spark, quads):
    from graphdb_free_mocha_sa_spark.engine import Engine
    from graphdb_free_mocha_sa_spark.store import QuadStore
    return Engine(spark, QuadStore(spark, quads))


PREFIX = "PREFIX x: <urn:x:p/> PREFIX t: <urn:x:t/> PREFIX rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#>\n"


def run(engine, q, spec):
    res = engine.query(PREFIX + q)
    return res.finalize(spec)


def test_m1_flagship_star_query(engine, duck):
    """SURVEY §7 M1 gate: scan + self-join + filter + order + limit."""
    df = run(engine, """
        SELECT ?cust ?nation WHERE {
          ?o x:o_custkey ?cust .
          ?cust x:c_nationkey ?nation .
          ?o x:o_orderstatus "O" .
        } ORDER BY ?cust ?nation LIMIT 10
    """, {"cust": "str", "nation": "str"})
    assert_matches_duck(df, duck, """
        SELECT 'urn:x:customer/' || o.o_custkey AS cust,
               'urn:x:nation/' || c.c_nationkey AS nation
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE o.o_orderstatus = 'O'
        ORDER BY cust, nation LIMIT 10
    """)


def test_bgp_filter_numeric(engine, duck):
    df = run(engine, """
        SELECT ?c ?bal WHERE {
          ?c x:c_acctbal ?bal .
          FILTER(?bal > 9000)
        }
    """, {"c": "str", "bal": "num"})
    assert_matches_duck(df, duck, """
        SELECT 'urn:x:customer/' || c_custkey AS c, c_acctbal AS bal
        FROM customer WHERE c_acctbal > 9000
    """)


def test_optional_left_join(engine, duck):
    # customers with their orders, keeping customers without orders
    df = run(engine, """
        SELECT ?c ?o WHERE {
          ?c rdf:type t:customer .
          OPTIONAL { ?o x:o_custkey ?c }
        }
    """, {"c": "str", "o": "str"})
    assert_matches_duck(df, duck, """
        SELECT 'urn:x:customer/' || c.c_custkey AS c,
               CASE WHEN o.o_orderkey IS NULL THEN NULL
                    ELSE 'urn:x:orders/' || o.o_orderkey END AS o
        FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    """)


def test_union(engine, duck):
    df = run(engine, """
        SELECT ?name WHERE {
          { ?s x:c_name ?name } UNION { ?s x:s_name ?name }
        }
    """, {"name": "str"})
    assert_matches_duck(df, duck, """
        SELECT c_name AS name FROM customer
        UNION ALL SELECT s_name AS name FROM supplier
    """)


def test_minus(engine, duck):
    # customers that have no orders (MINUS)
    df = run(engine, """
        SELECT ?c WHERE {
          ?c rdf:type t:customer .
          MINUS { ?o x:o_custkey ?c }
        }
    """, {"c": "str"})
    assert_matches_duck(df, duck, """
        SELECT 'urn:x:customer/' || c_custkey AS c FROM customer
        WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
    """)


def test_not_exists(engine, duck):
    df = run(engine, """
        SELECT ?c WHERE {
          ?c rdf:type t:customer .
          FILTER NOT EXISTS { ?o x:o_custkey ?c }
        }
    """, {"c": "str"})
    assert_matches_duck(df, duck, """
        SELECT 'urn:x:customer/' || c_custkey AS c FROM customer
        WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
    """)


def test_bind_values_in(engine, duck):
    df = run(engine, """
        SELECT ?n ?double WHERE {
          ?s x:n_name ?n .
          ?s x:n_regionkey ?r .
          VALUES ?r { <urn:x:region/0> <urn:x:region/1> }
          BIND(STRLEN(?n) * 2 AS ?double)
        }
    """, {"n": "str", "double": "num"})
    assert_matches_duck(df, duck, """
        SELECT n_name AS n, length(n_name) * 2.0 AS "double"
        FROM nation WHERE n_regionkey IN (0, 1)
    """)


def test_aggregation_group_having(engine, duck):
    df = run(engine, """
        SELECT ?status (COUNT(*) AS ?cnt) (SUM(?price) AS ?total) (AVG(?price) AS ?avgp)
        WHERE {
          ?o x:o_orderstatus ?status .
          ?o x:o_totalprice ?price .
        } GROUP BY ?status HAVING (COUNT(*) > 5)
    """, {"status": "str", "cnt": "int", "total": "num", "avgp": "num"})
    assert_matches_duck(df, duck, """
        SELECT o_orderstatus AS status, COUNT(*) AS cnt,
               SUM(o_totalprice) AS total, AVG(o_totalprice) AS avgp
        FROM orders GROUP BY o_orderstatus HAVING COUNT(*) > 5
    """, ndigits=5)


def test_distinct_order_offset_limit(engine, duck):
    df = run(engine, """
        SELECT DISTINCT ?seg WHERE { ?c x:c_mktsegment ?seg }
        ORDER BY ?seg OFFSET 1 LIMIT 2
    """, {"seg": "str"})
    assert_matches_duck(df, duck, """
        SELECT DISTINCT c_mktsegment AS seg FROM customer
        ORDER BY seg OFFSET 1 LIMIT 2
    """)


def test_scalar_functions(engine, duck):
    df = run(engine, """
        SELECT ?n ?up ?sub ?len WHERE {
          ?s x:n_name ?n .
          BIND(UCASE(?n) AS ?up)
          BIND(SUBSTR(?n, 1, 3) AS ?sub)
          BIND(STRLEN(?n) AS ?len)
          FILTER(CONTAINS(?n, "A") && STRSTARTS(?n, "A") = false || STRSTARTS(?n, "A"))
        }
    """, {"n": "str", "up": "str", "sub": "str", "len": "int"})
    assert_matches_duck(df, duck, """
        SELECT n_name AS n, upper(n_name) AS up, substring(n_name, 1, 3) AS sub,
               length(n_name) AS len
        FROM nation WHERE contains(n_name, 'A') OR starts_with(n_name, 'A')
    """)


def test_ask(engine):
    assert engine.query(PREFIX + "ASK { ?s x:c_acctbal ?b . FILTER(?b > 0) }") is True
    assert engine.query(PREFIX + 'ASK { ?s x:c_name "no such customer" }') is False


def test_construct(engine):
    out = engine.query(PREFIX + """
        CONSTRUCT { ?c <urn:x:p/located_in> ?n } WHERE { ?c x:c_nationkey ?n }
    """)
    assert out.columns[:3] == ["s", "p", "o_lex"]
    assert out.count() > 0


def test_subselect_graph(engine, duck):
    df = run(engine, """
        SELECT ?r ?cnt WHERE {
          { SELECT ?r (COUNT(*) AS ?cnt) WHERE { ?n x:n_regionkey ?r } GROUP BY ?r }
        }
    """, {"r": "str", "cnt": "int"})
    assert_matches_duck(df, duck, """
        SELECT 'urn:x:region/' || n_regionkey AS r, COUNT(*) AS cnt
        FROM nation GROUP BY n_regionkey
    """)


def test_sparql_json_and_sentinel(engine):
    import json
    out = json.loads(engine.query_json(PREFIX + "SELECT ?n WHERE { ?s x:n_name ?n } LIMIT 1"))
    assert out["head"]["vars"] == ["n"]
    assert out["results"]["bindings"][0]["n"]["type"] == "literal"
    # sentinel on bad query (reference GraphDBSystemAdapter.java:254)
    bad = engine.query_json("SELECT ?x WHERE { this is not sparql")
    assert '"XXX"' in bad


# ---------------------------------------------- query-level trailing VALUES

def test_trailing_values_filters_solutions(engine):
    out = engine.query_json(
        'SELECT ?n WHERE { ?s <urn:x:p/n_name> ?n } '
        'VALUES ?n { "NATION_1" "NATION_3" }')
    assert out.count('"value"') == 2
    assert "NATION_1" in out and "NATION_3" in out


def test_trailing_values_after_aggregation(engine):
    # spec 18.2.4.2: the final VALUES joins AFTER grouping
    out = engine.query_json(
        'SELECT ?s (COUNT(*) AS ?n) WHERE { ?s ?p ?o } GROUP BY ?s '
        'ORDER BY ?s LIMIT 50 VALUES ?s { <urn:x:nation/1> }')
    assert out.count('"type"') == 2 and "nation/1" in out   # one (s, n) row


def test_trailing_values_undef_and_ask(engine):
    out = engine.query_json(
        'SELECT ?s ?n WHERE { ?s <urn:x:p/n_name> ?n } '
        'VALUES (?s ?n) { (UNDEF "NATION_2") }')
    assert out.count('"value"') == 2 and "NATION_2" in out
    assert '"boolean": false' in engine.query_json(
        'ASK { ?s <urn:x:p/n_name> ?n } VALUES ?n { "NO_SUCH_NATION" }')


def test_trailing_garbage_is_a_syntax_error(engine):
    from graphdb_free_mocha_sa_spark.sparql.parser import (
        SparqlSyntaxError, parse_query)
    import pytest as _pytest
    with _pytest.raises(SparqlSyntaxError):
        parse_query("SELECT ?s WHERE { ?s ?p ?o } SOME TRAILING JUNK")


def test_describe_solution_modifiers_and_values(engine):
    # LIMIT selects WHICH solutions feed the describe set (used to be
    # silently dropped before the r5c EOF-strict parser surfaced it)
    df = engine.query(
        'DESCRIBE ?s WHERE { ?s <urn:x:p/n_name> ?n } ORDER BY ?n LIMIT 2')
    subs = {r.s for r in df.collect() if r.s.startswith("urn:x:nation/")}
    assert len(subs) == 2
    df2 = engine.query(
        'DESCRIBE ?s WHERE { ?s <urn:x:p/n_name> ?n } '
        'VALUES ?n { "NATION_5" }')
    subs2 = {r.s for r in df2.collect() if r.s.startswith("urn:x:nation/")}
    assert len(subs2) == 1


def test_prepared_query_cache_snapshot_keyed(spark):
    """r6: the prepared-query LRU returns identical results, invalidates
    on mutation (snapshot-basis key), and skips nondeterministic/SERVICE
    queries."""
    import json

    from graphdb_free_mocha_sa_spark.engine import Engine
    from graphdb_free_mocha_sa_spark.store import QuadStore
    eng = Engine(spark, QuadStore(spark))
    eng.update('INSERT DATA { <urn:a> <urn:p> "1" }')
    q = "SELECT ?s WHERE { ?s <urn:p> ?o }"
    assert eng.query_json(q) == eng.query_json(q)
    assert len(eng._plan_cache) == 1
    eng.update('INSERT DATA { <urn:b> <urn:p> "2" }')
    assert len(json.loads(eng.query_json(q))["results"]["bindings"]) == 2
    # nondeterministic and SERVICE queries never enter the cache
    eng.query_json("SELECT ?r WHERE { BIND(RAND() AS ?r) }")
    assert all("RAND" not in k[0] for k in eng._plan_cache)
    # LRU bound holds: the oldest entries go first. The bound is cut to 4
    # on this engine so that overflowing it takes 9 translations, not 69.
    eng.PLAN_CACHE_SIZE = 4
    asks = [f"ASK {{ <urn:a> <urn:p> \"{i}\" }}"
            for i in range(eng.PLAN_CACHE_SIZE + 5)]
    for a in asks:
        eng.query(a)
    assert [k[0] for k in eng._plan_cache] == asks[-eng.PLAN_CACHE_SIZE:]


def test_bnode_fn_same_solution_stability(spark):
    """r6c probe fix (§17.4.2.9): BNODE(str) returns the SAME blank node
    for the same argument within one solution mapping and DIFFERENT nodes
    across solutions; BNODE() is fresh per call; a constructed bnode's
    key equals its lex (it joins/compares as itself). Scope note: the
    guarantee covers one expression evaluation context (one SELECT
    clause / one BIND), matching rdf4j's evaluation strategy."""
    import json

    from graphdb_free_mocha_sa_spark.engine import Engine
    from graphdb_free_mocha_sa_spark.store import QuadStore
    eng = Engine(spark, QuadStore(spark))
    eng.update('INSERT DATA { <urn:a> <urn:age> 30 . <urn:b> <urn:age> 20 }')
    out = json.loads(eng.query_json(
        'SELECT (BNODE() AS ?b1) (BNODE() AS ?b0) (BNODE("k") AS ?b2) '
        '(BNODE("k") AS ?b3) (BNODE("m") AS ?b4) '
        'WHERE { ?s <urn:age> ?a } ORDER BY ?a'))
    rows = [{k: v["value"] for k, v in b.items()}
            for b in out["results"]["bindings"]]
    assert len(rows) == 2
    assert all(b["type"] == "bnode"
               for r in out["results"]["bindings"] for b in r.values())
    for r in rows:
        assert r["b2"] == r["b3"]          # same arg, same solution
        assert r["b2"] != r["b4"]          # different arg
        assert r["b1"] != r["b0"]          # no-arg: fresh per call
    assert rows[0]["b2"] != rows[1]["b2"]  # across solutions: fresh
    # within one expression, BNODE(str) compares equal to itself
    out = json.loads(eng.query_json(
        'SELECT ?ok WHERE { <urn:a> <urn:age> ?a . '
        'BIND(sameTerm(BNODE("z"), BNODE("z")) AS ?ok) }'))
    assert [b["ok"]["value"] for b in out["results"]["bindings"]] == ["true"]
    # isBlank sees the constructed term as a bnode (key == lex)
    out = json.loads(eng.query_json(
        'SELECT ?t WHERE { <urn:a> <urn:age> ?a . '
        'BIND(isBlank(BNODE("q")) AS ?t) }'))
    assert [b["t"]["value"] for b in out["results"]["bindings"]] == ["true"]


def test_r6c_function_spec_probe_fixes(spark):
    """r6c probe sweep: STRLANG/STRDT simple-literal constraints,
    §17.4.3.1.1 argument compatibility, IF error propagation,
    fractional-decimal SECONDS, TZ/TIMEZONE, hash-family string
    constraint, RDFterm-equal type errors on =/!=."""
    import json

    from graphdb_free_mocha_sa_spark.engine import Engine
    from graphdb_free_mocha_sa_spark.store import QuadStore
    eng = Engine(spark, QuadStore(spark))
    eng.update('INSERT DATA { <urn:t1> <urn:when> '
               '"2024-03-05T10:20:30.25+02:00"'
               '^^<http://www.w3.org/2001/XMLSchema#dateTime> . '
               '<urn:t3> <urn:when> "2024-03-05T10:20:30-05:30"'
               '^^<http://www.w3.org/2001/XMLSchema#dateTime> }')

    def one(sel):
        out = json.loads(eng.query_json(f"SELECT {sel} WHERE {{}}"))
        b = out["results"]["bindings"][0]
        return {k: v["value"] for k, v in b.items()}

    def ask(body):
        return json.loads(eng.query_json(f"ASK {{ {body} }}"))["boolean"]

    # STRLANG/STRDT error on non-simple first args; fine on simple
    r = one('(STRLANG("hi","EN") AS ?ok) (STRLANG("hi"@en,"fr") AS ?x) '
            '(STRDT("hi"@en,<urn:dt>) AS ?y)')
    assert r == {"ok": "hi"}
    # argument compatibility: tag only on arg2 errors; matching tags fine
    r = one('(STRSTARTS("ab","a"@en) AS ?x) (CONTAINS("ab"@en,"b"@fr) AS ?y)'
            ' (CONTAINS("ab"@en,"b"@en) AS ?ok) (STRBEFORE("abc","b"@en) AS ?z)')
    assert r == {"ok": "true"}
    # IF: error in the condition propagates instead of taking else
    r = one('(IF(1/0 > 0, 1, 2) AS ?x) (IF(false, 1, 2) AS ?ok)')
    assert r == {"ok": "2"}
    # hash family rejects langString
    r = one('(MD5("a"@en) AS ?x) (SHA256("a"@en) AS ?y) (MD5("a") AS ?ok)')
    assert r == {"ok": "0cc175b9c0f1b6a831c399e269772661"}
    # SECONDS keeps the fraction as xsd:decimal; TZ/TIMEZONE read the zone
    out = json.loads(eng.query_json(
        'SELECT (SECONDS(?w) AS ?s) (TZ(?w) AS ?tz) (TIMEZONE(?w) AS ?d) '
        'WHERE { <urn:t1> <urn:when> ?w }'))
    b = out["results"]["bindings"][0]
    assert b["s"]["value"] == "30.25"
    assert b["s"]["datatype"].endswith("decimal")
    assert b["tz"]["value"] == "+02:00"
    assert b["d"]["value"] == "PT2H"
    assert b["d"]["datatype"].endswith("dayTimeDuration")
    out = json.loads(eng.query_json(
        'SELECT (TZ(?w) AS ?tz) (TIMEZONE(?w) AS ?d) '
        'WHERE { <urn:t3> <urn:when> ?w }'))
    b = out["results"]["bindings"][0]
    assert b["tz"]["value"] == "-05:30" and b["d"]["value"] == "-PT5H30M"
    # RDFterm-equal: same unknown-dt term true; distinct unknown-dt pair
    # errors BOTH ways; non-literals keep plain identity semantics
    assert ask('FILTER("x"^^<urn:mydt> = "x"^^<urn:mydt>)') is True
    assert ask('FILTER("x"^^<urn:mydt> = "y"^^<urn:mydt>)') is False
    assert ask('FILTER("x"^^<urn:mydt> != "y"^^<urn:mydt>)') is False
    assert ask('FILTER(<urn:a> != <urn:b>)') is True
    assert ask('FILTER("a" != "b")') is True
    assert ask('FILTER("a"@en != "b")') is False      # error, not true
    assert ask('FILTER(5 != "5")') is False           # error, not true
    assert ask('FILTER("a"@en != "b"@en)') is True    # same-tag comparison


def test_sum_avg_poisoned_by_non_numeric_group_value(spark):
    """r6c probe fix: SUM/AVG over a group containing a BOUND non-numeric
    value are a type error (unbound) per op:numeric-add folding — not a
    silent skip; COUNT still counts every bound value."""
    import json

    from graphdb_free_mocha_sa_spark.engine import Engine
    from graphdb_free_mocha_sa_spark.store import QuadStore
    eng = Engine(spark, QuadStore(spark))
    eng.update('INSERT DATA { <urn:a> <urn:v> 1 . <urn:a> <urn:v> 2 . '
               '<urn:c> <urn:v> 4 . <urn:c> <urn:v> "oops" }')
    out = json.loads(eng.query_json(
        'SELECT ?s (SUM(?v) AS ?sum) (AVG(?v) AS ?avg) (COUNT(?v) AS ?c) '
        'WHERE { ?s <urn:v> ?v } GROUP BY ?s ORDER BY ?s'))
    rows = [{k: v["value"] for k, v in b.items()}
            for b in out["results"]["bindings"]]
    assert rows == [{"s": "urn:a", "sum": "3", "avg": "1.5", "c": "2"},
                    {"s": "urn:c", "c": "2"}]


@pytest.mark.parametrize("force_encode", [False, True])
def test_paths_under_graph_variable_scoped_per_graph(spark, force_encode):
    """r6c probe fixes (§18.4): (1) property paths under GRAPH ?g bind ?g
    and the closure NEVER chains across named graphs; (2) GRAPH ?g ranges
    over named graphs only (no default-sentinel leak); (3) zero-length
    nullable paths with one constant endpoint bind the variable to the
    constant even when the term is absent from the graph/dictionary —
    per named graph under GRAPH ?g. Run on the string path and, with the
    small-store cutoff lifted, on the dictionary-encoded path."""
    import json

    from graphdb_free_mocha_sa_spark.engine import Engine
    from graphdb_free_mocha_sa_spark.store import QuadStore
    eng = Engine(spark, QuadStore(spark))
    if force_encode:
        eng.ENCODE_MIN_QUADS = 0
    eng.update("""INSERT DATA {
      GRAPH <urn:g1> { <urn:a> <urn:p> <urn:b> . <urn:b> <urn:p> <urn:c> }
      GRAPH <urn:g2> { <urn:c> <urn:p> <urn:d> }
      <urn:x> <urn:p> <urn:a> .
    }""")

    def rows(q):
        out = json.loads(eng.query_json(q))
        return [tuple(b[v]["value"] for v in out["head"]["vars"] if v in b)
                for b in out["results"]["bindings"]]

    # closure scoped per graph: d is NOT reachable from a under GRAPH ?g
    assert rows('SELECT ?g ?o WHERE { GRAPH ?g { <urn:a> <urn:p>+ ?o } } '
                'ORDER BY ?g ?o') \
        == [("urn:g1", "urn:b"), ("urn:g1", "urn:c")]
    # zero-length identity appears once PER NAMED GRAPH (even in g2
    # where <urn:a> does not occur)
    assert rows('SELECT ?g ?o WHERE { GRAPH ?g { <urn:a> <urn:p>* ?o } } '
                'ORDER BY ?g ?o') \
        == [("urn:g1", "urn:a"), ("urn:g1", "urn:b"), ("urn:g1", "urn:c"),
            ("urn:g2", "urn:a")]
    # no default-graph sentinel binding
    assert rows('SELECT ?g ?s WHERE { GRAPH ?g { ?s ?p ?o } } ORDER BY ?g') \
        == [("urn:g1", "urn:a"), ("urn:g1", "urn:b"), ("urn:g2", "urn:c")]
    # zero-length with a term absent from the data (and the dictionary)
    assert rows('SELECT ?o WHERE { <urn:zzz> <urn:p>? ?o }') \
        == [("urn:zzz",)]
    assert rows('SELECT ?s WHERE { ?s <urn:p>? <urn:zzz2> }') \
        == [("urn:zzz2",)]
    # default graph keeps the GraphDB union semantics for paths
    assert rows('SELECT ?o WHERE { <urn:x> <urn:p>+ ?o } ORDER BY ?o') \
        == [("urn:a",), ("urn:b",), ("urn:c",), ("urn:d",)]
    # sequence paths stay within one graph too
    assert rows('SELECT ?g ?o WHERE '
                '{ GRAPH ?g { <urn:a> (<urn:p>/<urn:p>) ?o } }') \
        == [("urn:g1", "urn:c")]
    # the encoded case really ran on the dictionary-encoded state
    assert (eng._enc is not None) == force_encode


def test_r6c_ebv_and_term_function_guards(spark):
    """r6c probe sweep #3: NaN EBV is false (Spark's != keeps NaN);
    STR rejects blank nodes; unary string functions (UCASE/LCASE/STRLEN/
    ENCODE_FOR_URI) reject IRI/bnode args; IN error semantics."""
    import json

    from graphdb_free_mocha_sa_spark.engine import Engine
    from graphdb_free_mocha_sa_spark.store import QuadStore
    eng = Engine(spark, QuadStore(spark))
    eng.update('INSERT DATA { <urn:a> <urn:p> _:bn1 }')

    def ask(body):
        return json.loads(eng.query_json(f"ASK {{ {body} }}"))["boolean"]

    def one(sel, where="{}"):
        out = json.loads(eng.query_json(f"SELECT {sel} WHERE {where}"))
        return {k: v["value"]
                for k, v in out["results"]["bindings"][0].items()}

    assert ask('FILTER("NaN"^^<http://www.w3.org/2001/XMLSchema#double>)') \
        is False
    assert ask('FILTER("0")') is True          # plain "0": length > 0
    assert ask('FILTER(0.0)') is False
    assert ask('FILTER(<urn:iri>)') is False   # EBV of IRI: error
    # STR: literal/IRI fine, bnode errors
    r = one('(STR(?o) AS ?x) (STR(<urn:i>) AS ?ok)',
            "{ <urn:a> <urn:p> ?o }")
    assert r == {"ok": "urn:i"}
    # unary string functions demand string literals
    r = one('(UCASE(<urn:i>) AS ?x) (STRLEN(<urn:i>) AS ?y) '
            '(UCASE("ab"@en) AS ?ok)')
    assert r == {"ok": "AB"}
    # IN: short-circuit across errors both directions; NOT IN poisoned
    assert ask('FILTER(2 IN (2, 1/0))') is True
    assert ask('FILTER(2 IN (1/0, 2))') is True
    assert one('(2 NOT IN (3, 1/0) AS ?x)') == {}


def test_pn_local_escapes_and_percent(spark):
    """r6c parser probe: PN_LOCAL_ESC (ex:f\\,g) and percent-encoding
    (ex:z%20w) in prefixed local names, in BOTH the SPARQL parser and the
    Turtle reader; ':' legal mid-local-name."""
    import json

    from graphdb_free_mocha_sa_spark.engine import Engine
    from graphdb_free_mocha_sa_spark.sources.turtle import parse_turtle
    from graphdb_free_mocha_sa_spark.store import QuadStore
    eng = Engine(spark, QuadStore(spark))
    eng.update('INSERT DATA { <urn:ex#f,g> <urn:p> "v" . '
               '<urn:ex#z%20w> <urn:p> "pct" . <urn:ex#a:b> <urn:p> "c" }')

    def vals(q):
        out = json.loads(eng.query_json(q))
        return [b["o"]["value"] for b in out["results"]["bindings"]]

    assert vals('PREFIX ex: <urn:ex#> '
                'SELECT ?o WHERE { ex:f\\,g <urn:p> ?o }') == ["v"]
    assert vals('PREFIX ex: <urn:ex#> '
                'SELECT ?o WHERE { ex:z%20w <urn:p> ?o }') == ["pct"]
    assert vals('PREFIX ex: <urn:ex#> '
                'SELECT ?o WHERE { ex:a:b <urn:p> ?o }') == ["c"]
    triples = list(parse_turtle(
        "@prefix ex: <urn:ex#> .\nex:f\\,g ex:p ex:x\\/y ."))
    assert triples == [("urn:ex#f,g", "urn:ex#p", ("urn:ex#x/y", None, None))]


def test_describe_expands_bnode_closure(spark, bounded_path):
    """r6c probe fix: DESCRIBE returns the concise bounded description —
    blank-node objects expand transitively (rdf4j DescribeIteration),
    unrelated bnodes stay out, inbound arcs to the resource kept. Same
    answer from the single-scan InSet path and the equi-join fallback."""
    from graphdb_free_mocha_sa_spark.engine import Engine
    from graphdb_free_mocha_sa_spark.store import QuadStore
    eng = Engine(spark, QuadStore(spark))
    eng.update("""INSERT DATA {
      <urn:d> <urn:addr> _:ad . _:ad <urn:city> "Paris" .
      _:ad <urn:sub> _:ad2 . _:ad2 <urn:deep> "d" .
      <urn:e> <urn:ref> <urn:d> . _:other <urn:x> "unrelated" }""")
    rows = sorted((r.s, r.p, r.o_lex)
                  for r in eng.query("DESCRIBE <urn:d>").collect())
    # bnode labels are arbitrary (r9: INSERT DATA instantiates fresh
    # labels per operation) — resolve them through the arcs
    ad = next(o for s, p, o in rows if (s, p) == ("urn:d", "urn:addr"))
    assert ad.startswith("_:")
    assert (ad, "urn:city", "Paris") in rows
    ad2 = next(o for s, p, o in rows if (s, p) == (ad, "urn:sub"))
    assert (ad2, "urn:deep", "d") in rows              # nested bnode
    assert ("urn:e", "urn:ref", "urn:d") in rows       # inbound arc
    assert all("Paris" != o or s == ad for s, _, o in rows)
    assert not any("unrelated" == o for _, _, o in rows)
    assert len(rows) == 5


def test_static_scope_errors(spark):
    """r6c probe sweep #4: grammar-level static errors surface as clean
    SparqlSyntaxError instead of silent overwrites / raw Spark analysis
    exceptions — BIND over an in-scope var (§10.1), duplicate projection
    names, ungrouped var in a grouped SELECT (§18.2.4.1), duplicate
    VALUES variables."""
    import pytest as _pytest

    from graphdb_free_mocha_sa_spark.engine import Engine
    from graphdb_free_mocha_sa_spark.sparql.parser import SparqlSyntaxError
    from graphdb_free_mocha_sa_spark.store import QuadStore
    eng = Engine(spark, QuadStore(spark))
    eng.update('INSERT DATA { <urn:a> <urn:p> 1 }')
    for bad in [
        'SELECT ?v WHERE { ?s <urn:p> ?v . BIND(9 AS ?v) }',
        'SELECT ?s (1 AS ?s) WHERE { ?s <urn:p> ?v }',
        'SELECT ?s ?s WHERE { ?s <urn:p> ?v }',
        'SELECT ?s ?v WHERE { ?s <urn:p> ?v } GROUP BY ?s',
        'SELECT (?v + COUNT(*) AS ?x) WHERE { ?s <urn:p> ?v }',
        'SELECT * WHERE { VALUES (?x ?x) { (1 2) } }',
    ]:
        with _pytest.raises(SparqlSyntaxError):
            eng.query(bad)
    # positives: fresh BIND target; AS referencing group keys/aliases
    import json
    out = json.loads(eng.query_json(
        'SELECT ?s (COUNT(*)+1 AS ?d) (STR(?s) AS ?t) WHERE { ?s ?p ?o } '
        'GROUP BY ?s'))
    assert out["results"]["bindings"][0]["d"]["value"] == "2"
