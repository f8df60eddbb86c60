"""SPARQL Update + QuadStore lifecycle tests (SURVEY B30-B36, M3)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


@pytest.fixture(params=["memory", "durable"])
def store(spark, request, tmp_path):
    """Every lifecycle test runs against BOTH the in-memory snapshot store
    and the durable segment-log store (B37) — identical semantics required."""
    from graphdb_free_mocha_sa_spark.store import DurableQuadStore, QuadStore
    if request.param == "memory":
        return QuadStore(spark)
    return DurableQuadStore(spark, str(tmp_path / "dstore"))


@pytest.fixture()
def engine(spark, store):
    from graphdb_free_mocha_sa_spark.engine import Engine
    return Engine(spark, store)


def g_count(store, g):
    return store.df.filter(F.col("g") == g).count()


def test_insert_delete_data(engine, store):
    engine.update("""
        INSERT DATA { GRAPH <urn:g1> {
            <urn:a> <urn:p> "v1" .
            <urn:a> <urn:p> "v2" .
            <urn:b> <urn:q> 42 } }""")
    assert g_count(store, "urn:g1") == 3
    num = store.df.filter(F.col("o_num") == 42.0)
    assert num.count() == 1          # numeric shadow column populated
    engine.update('DELETE DATA { GRAPH <urn:g1> { <urn:a> <urn:p> "v1" } }')
    assert g_count(store, "urn:g1") == 2


def test_delete_insert_where(engine, store):
    engine.update("""
        INSERT DATA { GRAPH <urn:g2> {
            <urn:c1> <urn:status> "old" .
            <urn:c2> <urn:status> "old" .
            <urn:c3> <urn:status> "fresh" } }""")
    engine.update("""
        WITH <urn:g2>
        DELETE { ?s <urn:status> "old" }
        INSERT { ?s <urn:status> "renewed" }
        WHERE { ?s <urn:status> "old" }""")
    vals = sorted(r.o_lex for r in store.df.filter(F.col("g") == "urn:g2").collect())
    assert vals == ["fresh", "renewed", "renewed"]


def test_delete_where_shorthand(engine, store):
    engine.update('INSERT DATA { <urn:x> <urn:p> "a" . <urn:x> <urn:p> "b" }')
    engine.update('DELETE WHERE { <urn:x> <urn:p> ?v }')
    assert store.df.filter(F.col("s") == "urn:x").count() == 0


def test_clear_copy_move(engine, store):
    engine.update('INSERT DATA { GRAPH <urn:src> { <urn:s> <urn:p> "x" } }')
    engine.update('COPY <urn:src> TO <urn:dst>')
    assert g_count(store, "urn:src") == 1 and g_count(store, "urn:dst") == 1
    engine.update('MOVE <urn:src> TO <urn:dst2>')
    assert g_count(store, "urn:src") == 0 and g_count(store, "urn:dst2") == 1
    engine.update('CLEAR GRAPH <urn:dst>')
    assert g_count(store, "urn:dst") == 0


def test_versioned_bulk_load_and_snapshot(spark, store):
    """EP1 parity: versioned loads + snapshot isolation (A11/B38)."""
    from graphdb_free_mocha_sa_spark.model import GRAPH_VERSION_PREFIX, QUAD_SCHEMA
    rows = [(None, "urn:s1", "urn:p", "o", None, None, None, None)]
    df = spark.createDataFrame(rows, QUAD_SCHEMA)
    g0 = store.load_version(df)
    snapshot = store.df                       # reader pins this
    g1 = store.load_version(df)
    assert g0 == GRAPH_VERSION_PREFIX + "0" and g1 == GRAPH_VERSION_PREFIX + "1"
    assert snapshot.count() == 1              # old snapshot unchanged
    assert store.df.count() == 2


def test_load_ntriples_file(engine, store, tmp_path):
    p = tmp_path / "data.nt"
    p.write_text(
        '<urn:n1> <urn:p> "hello" .\n'
        '<urn:n1> <urn:q> <urn:n2> .\n'
        '<urn:n2> <urn:val> "3.5"^^<http://www.w3.org/2001/XMLSchema#double> .\n'
        '<urn:n2> <urn:lbl> "bonjour"@fr .\n')
    engine.update(f"LOAD <file://{p}> INTO GRAPH <urn:loaded>")
    rows = store.df.filter(F.col("g") == "urn:loaded")
    assert rows.count() == 4
    assert rows.filter(F.col("o_num") == 3.5).count() == 1
    assert rows.filter(F.col("o_lang") == "fr").count() == 1


def test_insert_with_rewrite():
    """A8: the reference's streaming INSERT rewrite, mechanically mirrored
    (GraphDBSystemAdapter.java:193-194)."""
    from graphdb_free_mocha_sa_spark.update import rewrite_insert_with
    q = 'INSERT { <urn:s> <urn:p> "v" . } WITH <urn:g> WHERE { ?x ?y ?z }'
    out = rewrite_insert_with(q)
    assert out.startswith(' { <urn:s> <urn:p> "v" . } INSERT DATA { GRAPH <urn:g>')
    assert out.endswith(" }")


def test_turtle_reader(spark, tmp_path):
    from graphdb_free_mocha_sa_spark.sources.rdf import read_turtle
    p = tmp_path / "data.ttl"
    p.write_text(
        "@prefix ex: <urn:ex:> .\n"
        "@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .\n"
        'ex:a ex:name "Alice" .\n'
        "ex:a ex:knows ex:b .\n"
        'ex:b ex:age "30"^^xsd:integer .\n')
    df = read_turtle(spark, str(p), "urn:g")
    rows = {(r.s, r.p, r.o_lex) for r in df.collect()}
    assert ("urn:ex:a", "urn:ex:name", "Alice") in rows
    assert ("urn:ex:a", "urn:ex:knows", "urn:ex:b") in rows
    assert df.filter(F.col("o_num") == 30.0).count() == 1


def test_persisted_quads_partition_pruning(spark, quads, tmp_path):
    """The durable parquet layout must turn graph filters into partition
    pruning — a version-pinned read touches one partition, not the table."""
    from graphdb_free_mocha_sa_spark.store import (load_persisted_quads,
                                                   persist_quads)
    path = str(tmp_path / "quads_table")
    small = quads.limit(0).unionByName(quads.where(F.col("p").endswith("r_name")))
    extra = small.withColumn("g", F.lit("http://graph.version.1"))
    persist_quads(small.unionByName(extra), path)

    back = load_persisted_quads(spark, path)
    pinned = back.where(F.col("g") == "http://graph.version.0")
    plan = pinned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    # the g predicate must appear among partition filters (on the encoded col)
    pf = plan.split("PartitionFilters:", 1)[1].splitlines()[0]
    assert "g_part" in pf, pf
    # round trip preserves content
    assert pinned.count() == small.count()
    assert back.count() == 2 * small.count()


def test_durable_store_recovery(spark, tmp_path):
    """B37 durability: a fresh store instance over the same path recovers
    the committed state AND the version counter; graph filters prune at the
    partition level in the recovered scans."""
    from graphdb_free_mocha_sa_spark.engine import Engine
    from graphdb_free_mocha_sa_spark.model import GRAPH_VERSION_PREFIX, QUAD_SCHEMA
    from graphdb_free_mocha_sa_spark.store import DurableQuadStore
    path = str(tmp_path / "dstore")
    st = DurableQuadStore(spark, path)
    eng = Engine(spark, st)
    eng.update('INSERT DATA { GRAPH <urn:g1> { <urn:a> <urn:p> "v1" . '
               '<urn:a> <urn:p> "v2" } }')
    rows = [(None, "urn:s1", "urn:p", "o", None, None, None, None)]
    st.load_version(spark.createDataFrame(rows, QUAD_SCHEMA))
    eng.update('DELETE DATA { GRAPH <urn:g1> { <urn:a> <urn:p> "v1" } }')

    st2 = DurableQuadStore(spark, path)        # reopen — no shared state
    assert st2.version == st.version == 1
    assert st2.df.count() == 2
    assert g_count(st2, "urn:g1") == 1
    assert g_count(st2, GRAPH_VERSION_PREFIX + "0") == 1
    # graph predicate prunes partitions in the recovered segment scan
    plan = (st2.df.where(F.col("g") == "urn:g1")
            ._jdf.queryExecution().executedPlan().toString())
    assert "PartitionFilters" in plan


def test_durable_snapshot_survives_rewrite(spark, tmp_path):
    """A pinned reader snapshot stays readable across a destructive commit
    (segments are immutable; rewrites do not delete them)."""
    from graphdb_free_mocha_sa_spark.engine import Engine
    from graphdb_free_mocha_sa_spark.store import DurableQuadStore
    st = DurableQuadStore(spark, str(tmp_path / "dstore"))
    eng = Engine(spark, st)
    eng.update('INSERT DATA { GRAPH <urn:g> { <urn:a> <urn:p> "x" } }')
    pinned = st.df
    eng.update('CLEAR GRAPH <urn:g>')
    assert st.df.count() == 0
    assert pinned.count() == 1                 # old snapshot intact
    assert st.vacuum() >= 1                    # then reclaim old segments


def test_durable_append_compaction(spark, tmp_path):
    """Appends past the threshold compact to one segment — read fan-in is
    bounded no matter how many micro-batch commits arrive."""
    from graphdb_free_mocha_sa_spark.engine import Engine
    from graphdb_free_mocha_sa_spark.store import DurableQuadStore
    st = DurableQuadStore(spark, str(tmp_path / "dstore"))
    st.SEGMENT_COMPACT_THRESHOLD = 4
    eng = Engine(spark, st)
    for i in range(6):
        eng.update(f'INSERT DATA {{ <urn:s{i}> <urn:p> {i} }}')
    assert st.df.count() == 6
    assert len(st._segments) <= 4


def test_durable_lost_init_race_adopts_winner(spark, tmp_path):
    """Two writers open the same empty store. The second's first write
    loses the race for txn 1: its own base is discarded and its delta lands
    as one segment on the winner's base, under the winner's version and the
    higher stream mark per source."""
    from graphdb_free_mocha_sa_spark.model import QUAD_SCHEMA
    from graphdb_free_mocha_sa_spark.store import DurableQuadStore
    path = str(tmp_path / "dstore")

    def quads(s):
        return spark.createDataFrame(
            [(None, s, "urn:p", "o", None, None, None, None)], QUAD_SCHEMA)

    winner = DurableQuadStore(spark, path)
    loser = DurableQuadStore(spark, path)      # opened empty, before the win
    winner.stage_stream_mark("a", 5)
    winner.load_version(quads("urn:w"))        # txn 1: base, version 1
    winner.stage_stream_mark("b", 1)
    winner.flush_stream_mark()                 # txn 2: log only
    loser.stage_stream_mark("a", 7)
    loser.add_quads(quads("urn:l"))            # loses txn 1, commits txn 3

    assert loser._base == winner._base
    assert len(loser._segments) == 1
    assert loser.version == 1
    assert (loser.stream_last("a"), loser.stream_last("b")) == (7, 1)
    assert loser._txn == 3
    assert sorted(r.s for r in loser.df.collect()) == ["urn:l", "urn:w"]
    data_dirs = {n for n in os.listdir(path) if n != "_log"}
    assert data_dirs == {winner._base, loser._segments[0]}

    reopened = DurableQuadStore(spark, path)
    assert (reopened._base, reopened._segments) == (loser._base,
                                                    loser._segments)
    assert reopened.version == 1
    assert (reopened.stream_last("a"), reopened.stream_last("b")) == (7, 1)
    assert reopened.df.count() == 2


def test_salted_join_equals_plain_join(spark, tables):
    from graphdb_free_mocha_sa_spark.operators.skew import salted_join
    li = tables["lineitem"].select("l_orderkey", "l_quantity")
    o = tables["orders"].select("l_orderkey", "o_totalprice") \
        if "l_orderkey" in tables["orders"].columns else \
        tables["orders"].selectExpr("o_orderkey AS l_orderkey", "o_totalprice")
    got = salted_join(li, o, "l_orderkey").groupBy().agg(
        F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("q")).first()
    want = li.join(o, "l_orderkey").groupBy().agg(
        F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("q")).first()
    assert (got["n"], round(got["q"], 4)) == (want["n"], round(want["q"], 4))


@pytest.mark.parametrize("kind", ["memory", "durable"])
def test_snapshot_isolation_under_concurrent_writes(spark, tmp_path, kind):
    """A11 parity: a reader's snapshot is immune to concurrent writer swaps
    (the reference serializes with a write-pref RW lock; immutable DataFrame
    snapshots give the same observable guarantee lock-free). The durable
    store additionally serializes its segment-log commits under the same
    lock — every concurrent insert must land exactly once."""
    import threading

    from graphdb_free_mocha_sa_spark.engine import Engine
    from graphdb_free_mocha_sa_spark.store import DurableQuadStore, QuadStore
    store = QuadStore(spark) if kind == "memory" \
        else DurableQuadStore(spark, str(tmp_path / "dstore"))
    eng = Engine(spark, store)
    eng.update('INSERT DATA { <urn:s0> <urn:k> 0 }')

    snapshot = store.df            # reader pins this version
    errors = []

    def writer(i):
        try:
            eng.update(f'INSERT DATA {{ <urn:s{i}> <urn:k> {i} }}')
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(1, 6)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    # pinned snapshot still sees exactly the pre-write state
    assert snapshot.count() == 1
    # post-write reads see every committed insert
    assert store.df.count() == 6


def test_nquads_reader(spark, tmp_path):
    """N-Quads fast path (round 5): optional per-line graph labels (IRI or
    bnode), label-less lines land in the default graph; literals with
    angle brackets inside never absorb the label."""
    from graphdb_free_mocha_sa_spark.sources.rdf import read_nquads, read_rdf_file
    nq = tmp_path / "data.nq"
    nq.write_text("\n".join([
        '<urn:a> <urn:p> <urn:b> <urn:g1> .',
        '<urn:a> <urn:p> "plain" .',
        '<urn:a> <urn:p> "lit with <brackets>" <urn:g2> .',
        '<urn:a> <urn:p> "fr"@fr <urn:g1> .',
        '<urn:a> <urn:n> "42"^^<http://www.w3.org/2001/XMLSchema#integer> <urn:g2> .',
        '_:b1 <urn:p> <urn:c> _:bg .',
        '# comment',
    ]))
    df = read_nquads(spark, str(nq), "urn:default")
    rows = {(r.g, r.s, r.o_lex) for r in df.collect()}
    assert ("urn:g1", "urn:a", "urn:b") in rows
    assert ("urn:default", "urn:a", "plain") in rows
    assert ("urn:g2", "urn:a", "lit with <brackets>") in rows
    assert ("urn:g1", "urn:a", "fr") in rows
    assert ("_:bg", "_:b1", "urn:c") in rows
    num = df.filter(df.p == "urn:n").collect()[0]
    assert num.g == "urn:g2" and num.o_num == 42.0
    assert df.count() == 6
    # extension dispatch
    assert read_rdf_file(spark, str(nq), "urn:default").count() == 6


def test_trig_parser_edges():
    """r6 (B50): TriG block forms, case-insensitive GRAPH keyword, bnode
    graph labels, optional trailing '.', empty blocks, and strictness —
    unterminated blocks and bad labels raise."""
    import pytest as _pytest
    from graphdb_free_mocha_sa_spark.sources.turtle import (parse_trig,
                                                            parse_turtle)
    doc = """
    @prefix e: <urn:e:> .
    e:s0 e:p 1 .
    GRAPH e:g1 { e:s1 e:p e:o1 ; e:q "x"@en . e:s2 a e:T }
    e:g2 { e:s3 e:p (1) . }
    { e:s4 e:p "def" }
    graph e:g3 { }
    _:bg { e:s5 e:p true }
    """
    quads = list(parse_trig(doc))
    gs = {g for g, *_ in quads}
    # g3's block is empty -> absent from the output
    assert gs == {None, "urn:e:g1", "urn:e:g2", "_:bg"}
    assert ("urn:e:g1", "urn:e:s2",
            "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
            ("urn:e:T", None, None)) in quads
    # default-graph rows carry g=None
    assert sum(1 for g, *_ in quads if g is None) == 2
    # plain Turtle must still reject graph blocks (EOF-strict)
    with _pytest.raises(ValueError):
        list(parse_turtle("{ <u:a> <u:b> <u:c> }"))
    with _pytest.raises(ValueError):
        list(parse_trig("GRAPH <urn:g> { <u:a> <u:b> <u:c> "))
    with _pytest.raises(ValueError):
        list(parse_trig('GRAPH "lit" { <u:a> <u:b> <u:c> }'))


def test_trig_load_through_engine(spark, tmp_path):
    """LOAD <file.trig> INTO GRAPH g: named blocks keep their graphs,
    default statements land in g (N-Quads default-graph convention)."""
    import json
    from graphdb_free_mocha_sa_spark.engine import Engine
    from graphdb_free_mocha_sa_spark.store import QuadStore
    p = tmp_path / "mini.trig"
    p.write_text('@prefix e: <urn:e:> .\n'
                 'e:d e:name "D" .\n'
                 'GRAPH e:g1 { e:a e:knows e:b }\n')
    eng = Engine(spark, QuadStore(spark))
    eng.update(f"LOAD <file://{p}> INTO GRAPH <urn:tgt>")
    out = json.loads(eng.query_json(
        "SELECT ?g ?s WHERE { GRAPH ?g { ?s ?p ?o } } ORDER BY ?g"))
    rows = [(b["g"]["value"], b["s"]["value"])
            for b in out["results"]["bindings"]]
    assert rows == [("urn:e:g1", "urn:e:a"), ("urn:tgt", "urn:e:d")]


def test_rdfxml_parser_edges():
    """r6 (B50): RDF/XML striped syntax — typed nodes, property attrs,
    parseType Resource/Literal/Collection, rdf:ID/xml:base resolution,
    rdf:li containers, inherited xml:lang."""
    from graphdb_free_mocha_sa_spark.sources.rdfxml import parse_rdfxml
    RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
    doc = """<?xml version="1.0"?>
    <rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
             xmlns:ex="http://ex.org/" xml:base="http://base.org/doc"
             xml:lang="en">
      <ex:Person rdf:ID="p1" ex:nick="Al">
        <ex:name>Alpha</ex:name>
        <ex:age rdf:datatype="http://www.w3.org/2001/XMLSchema#integer"
        >30</ex:age>
        <ex:knows rdf:resource="#p2"/>
        <ex:addr rdf:parseType="Resource"><ex:city>Paris</ex:city></ex:addr>
        <ex:tags rdf:parseType="Collection">
          <rdf:Description rdf:about="http://ex.org/t1"/>
        </ex:tags>
      </ex:Person>
      <rdf:Seq rdf:about="http://ex.org/seq">
        <rdf:li>one</rdf:li><rdf:li>two</rdf:li>
      </rdf:Seq>
    </rdf:RDF>"""
    ts = list(parse_rdfxml(doc))
    d = {}
    for s, p, o in ts:
        d.setdefault((s, p), []).append(o)
    P1 = "http://base.org/doc#p1"
    assert d[(P1, RDF + "type")] == [("http://ex.org/Person", None, None)]
    # xml:lang inherits from the rdf:RDF root into property attrs + elements
    assert d[(P1, "http://ex.org/nick")][0][2] == "en"
    assert d[(P1, "http://ex.org/name")][0] \
        == ("Alpha", RDF + "langString", "en")
    assert d[(P1, "http://ex.org/age")][0][1].endswith("integer")
    assert d[(P1, "http://ex.org/knows")][0] \
        == ("http://base.org/doc#p2", None, None)
    addr = d[(P1, "http://ex.org/addr")][0][0]
    assert addr.startswith("_:")
    assert d[(addr, "http://ex.org/city")][0][0] == "Paris"
    head = d[(P1, "http://ex.org/tags")][0][0]
    assert d[(head, RDF + "first")][0][0] == "http://ex.org/t1"
    assert d[(head, RDF + "rest")][0][0] == RDF + "nil"
    assert d[("http://ex.org/seq", RDF + "_1")][0][0] == "one"
    assert d[("http://ex.org/seq", RDF + "_2")][0][0] == "two"


def test_rdfxml_load_through_engine(spark, tmp_path):
    """LOAD <file.rdf> routes through the RDF/XML reader."""
    import json
    from graphdb_free_mocha_sa_spark.engine import Engine
    from graphdb_free_mocha_sa_spark.store import QuadStore
    p = tmp_path / "mini.rdf"
    p.write_text('<?xml version="1.0"?>\n'
                 '<rdf:RDF xmlns:rdf='
                 '"http://www.w3.org/1999/02/22-rdf-syntax-ns#"\n'
                 '         xmlns:ex="urn:e:">\n'
                 '  <rdf:Description rdf:about="urn:e:a">\n'
                 '    <ex:name>Alpha</ex:name>\n'
                 '    <ex:knows rdf:resource="urn:e:b"/>\n'
                 '  </rdf:Description>\n'
                 '</rdf:RDF>\n')
    eng = Engine(spark, QuadStore(spark))
    eng.update(f"LOAD <file://{p}> INTO GRAPH <urn:tgt>")
    out = json.loads(eng.query_json(
        "SELECT ?p ?o WHERE { GRAPH <urn:tgt> { <urn:e:a> ?p ?o } } "
        "ORDER BY ?p"))
    rows = [(b["p"]["value"], b["o"]["value"])
            for b in out["results"]["bindings"]]
    assert rows == [("urn:e:knows", "urn:e:b"), ("urn:e:name", "Alpha")]


def test_export_nquads_roundtrip(spark, tmp_path):
    """r6: distributed N-Quads export (JVM-side formatting, write.text)
    round-trips through read_nquads — graphs, bnodes, langs, datatypes,
    escapes, and the default-graph convention all preserved."""
    from graphdb_free_mocha_sa_spark.model import QUAD_SCHEMA
    from graphdb_free_mocha_sa_spark.sources.rdf import (export_nquads,
                                                         read_nquads)
    from graphdb_free_mocha_sa_spark.store import DEFAULT_GRAPH
    rows = [
        (DEFAULT_GRAPH, "urn:s1", "urn:p", 'tab\there "q" \\ back\nnl',
         "http://www.w3.org/2001/XMLSchema#string", None, None, None),
        ("urn:g1", "urn:s2", "urn:p", "bonjour",
         "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString", "fr",
         None, None),
        ("urn:g1", "_:b1", "urn:p", "3.5",
         "http://www.w3.org/2001/XMLSchema#double", None, 3.5, None),
        ("urn:g2", "urn:s3", "urn:p", "urn:o", None, None, None, None),
        ("urn:g2", "urn:s4", "urn:p", "_:b2", None, None, None, None),
    ]
    df = spark.createDataFrame(rows, QUAD_SCHEMA)
    out = str(tmp_path / "dump")
    export_nquads(df, out)
    back = read_nquads(spark, out, DEFAULT_GRAPH)
    assert back.count() == 5
    b = {(r.g, r.s, r.o_lex, r.o_dt, r.o_lang) for r in back.collect()}
    assert (DEFAULT_GRAPH, "urn:s1", 'tab\there "q" \\ back\nnl',
            "http://www.w3.org/2001/XMLSchema#string", None) in b
    assert ("urn:g1", "urn:s2", "bonjour",
            "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString",
            "fr") in b
    assert ("urn:g2", "urn:s4", "_:b2", None, None) in b
    assert back.filter("o_num = 3.5 AND s = '_:b1'").count() == 1


def test_r6_review_fixes_rdf_edges(spark, tmp_path):
    """r6 review sweep: (a) RDF/XML property attributes under xml:lang are
    langString literals, not dt-less pseudo-IRIs; (b) export_nquads emits
    blank-node graph labels bare, per the N-Quads grammar."""
    from graphdb_free_mocha_sa_spark.model import QUAD_SCHEMA
    from graphdb_free_mocha_sa_spark.sources.rdf import export_nquads
    from graphdb_free_mocha_sa_spark.sources.rdfxml import parse_rdfxml

    ts = list(parse_rdfxml(
        '<rdf:Description '
        'xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" '
        'xmlns:ex="urn:e:" xml:lang="en" rdf:about="urn:e:a" '
        'ex:nick="Al"/>'))
    (s, p, (lex, dt, lang)) = ts[0]
    assert (lex, lang) == ("Al", "en")
    assert dt == "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"

    rows = [("_:bg", "urn:s", "urn:p", "urn:o", None, None, None, None)]
    out = str(tmp_path / "bngdump")
    export_nquads(spark.createDataFrame(rows, QUAD_SCHEMA), out)
    import glob
    text = "".join(open(f).read()
                   for f in glob.glob(out + "/part-*"))
    assert text.strip() == "<urn:s> <urn:p> <urn:o> _:bg ."


def test_export_nquads_roundtrip_nasty_strings(spark):
    """r6: export→read round-trip over a generated corpus of adversarial
    literals (escapes, quotes, unicode incl. astral planes, control
    chars, regex metacharacters) — one Spark job, 200 rows."""
    import random

    from graphdb_free_mocha_sa_spark.model import QUAD_SCHEMA
    from graphdb_free_mocha_sa_spark.sources.rdf import (export_nquads,
                                                         read_nquads)
    rng = random.Random(42)
    alphabet = (list('abc \\"\'\t\n\r$^[](){}|.*+?') +
                ["é", "ß", "中", "🚀", "\u00a0", "\u2028"])
    nasty = ["".join(rng.choice(alphabet) for _ in range(rng.randint(1, 30)))
             for _ in range(195)]
    nasty += ['\\', '"', '\\n', '\t\t', '\\"nested\\"']
    rows = [("urn:g", f"urn:s{i}", "urn:p", t,
             "http://www.w3.org/2001/XMLSchema#string", None, None, None)
            for i, t in enumerate(nasty)]
    df = spark.createDataFrame(rows, QUAD_SCHEMA)
    import tempfile
    out = tempfile.mkdtemp(prefix="nq_nasty_") + "/dump"
    export_nquads(df, out, default_graph="urn:none")
    back = read_nquads(spark, out, "urn:none")
    got = {r.s: r.o_lex for r in back.collect()}
    want = {f"urn:s{i}": t for i, t in enumerate(nasty)}
    assert len(got) == len(want) == 200
    bad = {k: (want[k], got.get(k)) for k in want if got.get(k) != want[k]}
    assert not bad, list(bad.items())[:3]


def test_trig_writer_roundtrip_fuzz(spark):
    """r6: quad frame → TriG text → TriGParser round-trip over
    adversarial literals and graph labels (incl. bnode graphs and the
    default graph), closing the TriG loop."""
    import random

    from graphdb_free_mocha_sa_spark.model import QUAD_SCHEMA
    from graphdb_free_mocha_sa_spark.sources.turtle import parse_trig
    from graphdb_free_mocha_sa_spark.sparql.results import iter_trig
    from graphdb_free_mocha_sa_spark.store import DEFAULT_GRAPH

    rng = random.Random(11)
    alphabet = (list('ab \\"\'\t\n$^{}|.*?') + ["é", "中", "🚀", "\u2028"])
    def nasty():
        return "".join(rng.choice(alphabet)
                       for _ in range(rng.randint(1, 16)))
    graphs = [DEFAULT_GRAPH, "urn:g:one", "urn:g:two", "_:bg"]
    rows = []
    for i in range(80):
        g = graphs[i % len(graphs)]
        kind = i % 3
        if kind == 0:
            rows.append((g, f"urn:s{i}", "urn:p", nasty(),
                         "http://www.w3.org/2001/XMLSchema#string",
                         None, None, None))
        elif kind == 1:
            rows.append((g, f"_:b{i}", "urn:p", nasty(),
                         "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
                         "langString", "fr", None, None))
        else:
            rows.append((g, f"urn:s{i}", "urn:p", f"urn:o{i}",
                         None, None, None, None))
    df = spark.createDataFrame(rows, QUAD_SCHEMA)
    doc = "".join(iter_trig(df, default_graph=DEFAULT_GRAPH))
    back = set()
    for g, s, p, (lex, dt, lang) in parse_trig(doc):
        back.add((g if g is not None else DEFAULT_GRAPH, s, p, lex,
                  lang))
    want = {(g, s, p, o_lex, o_lang)
            for g, s, p, o_lex, o_dt, o_lang, *_ in rows}
    missing = want - back
    extra = back - want
    assert not missing and not extra, (sorted(missing)[:3],
                                       sorted(extra)[:3])


def test_engine_export_to_trig_and_nquads(spark):
    """r6: Engine.export_to streams the store as TriG or N-Quads; both
    round-trip through the repo's own readers."""
    from graphdb_free_mocha_sa_spark.engine import Engine
    from graphdb_free_mocha_sa_spark.sources.turtle import parse_trig
    from graphdb_free_mocha_sa_spark.store import QuadStore
    e = Engine(spark, QuadStore(spark))
    e.update('INSERT DATA { <urn:a> <urn:p> "v" . '
             'GRAPH <urn:g1> { <urn:b> <urn:q> 5 } }')
    out = []
    e.export_to(out.append, fmt="trig")
    quads = list(parse_trig("".join(out)))
    assert (None, "urn:a", "urn:p",
            ("v", "http://www.w3.org/2001/XMLSchema#string", None)) in quads
    assert ("urn:g1", "urn:b", "urn:q",
            ("5", "http://www.w3.org/2001/XMLSchema#integer", None)) in quads
    out = []
    e.export_to(out.append, fmt="nquads")
    text = "".join(out)
    assert '<urn:a> <urn:p> "v" .' in text
    assert ('<urn:b> <urn:q> "5"^^'
            "<http://www.w3.org/2001/XMLSchema#integer> <urn:g1> .") in text
    import pytest as _pytest
    with _pytest.raises(ValueError):
        e.export_to(out.append, fmt="nope")


def test_jsonld_parser_edges():
    """r6c (B50): JSON-LD to-RDF — term/compact-IRI/@vocab expansion,
    @base resolution, type/language coercion, value objects, @list /
    @set / @language / @index containers, named graphs, @reverse,
    keyword aliases, canonical xsd:double lexicals, unmapped-term drop."""
    import pytest
    from graphdb_free_mocha_sa_spark.sources.jsonld import parse_jsonld
    RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
    XSD = "http://www.w3.org/2001/XMLSchema#"
    doc = """
    {
      "@context": {
        "ex": "http://ex.org/",
        "id": "@id", "type": "@type",
        "name": "ex:name",
        "knows": {"@id": "ex:knows", "@type": "@id"},
        "age": {"@id": "ex:age",
                "@type": "http://www.w3.org/2001/XMLSchema#integer"},
        "nick": {"@id": "ex:nick", "@language": "en"},
        "tags": {"@id": "ex:tag", "@container": "@list"},
        "label": {"@id": "ex:label", "@container": "@language"},
        "childOf": {"@reverse": "ex:parent"},
        "@base": "http://base.org/",
        "@vocab": "http://voc.org/"
      },
      "id": "n1",
      "type": "ex:Thing",
      "name": "Alpha",
      "age": "30",
      "nick": "Al",
      "score": 4.5,
      "big": 1e21,
      "active": true,
      "knows": ["n2", {"id": "ex:n3"}],
      "tags": ["a", 2],
      "label": {"en": "Node", "de": ["Knoten", "Punkt"]},
      "childOf": {"id": "ex:n4"},
      "vobj": {"@value": "w", "@type": "ex:dt"},
      "unmapped:not-a-prefix": "kept?",
      "ex:set": {"@set": ["x", "y"]}
    }
    """
    quads = list(parse_jsonld(doc))
    assert all(g is None for g, *_ in quads)
    d = {}
    for _, s, p, o in quads:
        d.setdefault((s, p), []).append(o)
    N1 = "http://base.org/n1"
    assert d[(N1, RDF + "type")] == [("http://ex.org/Thing", None, None)]
    assert d[(N1, "http://ex.org/name")] == [("Alpha", XSD + "string", None)]
    assert d[(N1, "http://ex.org/age")] == [("30", XSD + "integer", None)]
    assert d[(N1, "http://ex.org/nick")] \
        == [("Al", RDF + "langString", "en")]
    # numbers: fractional -> canonical double, integral -> xsd:integer,
    # but magnitude >= 1e21 JSON floats are doubles
    assert d[(N1, "http://voc.org/score")] == [("4.5E0", XSD + "double", None)]
    assert d[(N1, "http://voc.org/big")] == [("1.0E21", XSD + "double", None)]
    assert d[(N1, "http://voc.org/active")] == [("true", XSD + "boolean", None)]
    assert d[(N1, "http://ex.org/knows")] \
        == [("http://base.org/n2", None, None), ("http://ex.org/n3", None, None)]
    head = d[(N1, "http://ex.org/tag")][0][0]
    assert head.startswith("_:")
    assert d[(head, RDF + "first")] == [("a", XSD + "string", None)]
    nxt = d[(head, RDF + "rest")][0][0]
    assert d[(nxt, RDF + "first")] == [("2", XSD + "integer", None)]
    assert d[(nxt, RDF + "rest")] == [(RDF + "nil", None, None)]
    assert sorted(d[(N1, "http://ex.org/label")]) == [
        ("Knoten", RDF + "langString", "de"),
        ("Node", RDF + "langString", "en"),
        ("Punkt", RDF + "langString", "de")]
    assert d[("http://ex.org/n4", "http://ex.org/parent")] \
        == [(N1, None, None)]
    assert d[(N1, "http://voc.org/vobj")] == [("w", "http://ex.org/dt", None)]
    assert sorted(d[(N1, "http://ex.org/set")]) == [
        ("x", XSD + "string", None), ("y", XSD + "string", None)]
    # "unmapped:not-a-prefix" has an undefined prefix and no @vocab match
    # via the colon rule -> per spec the colon form IS an IRI; JSON-LD
    # treats any compact form with an unknown prefix as an absolute IRI
    assert d[(N1, "unmapped:not-a-prefix")] == [("kept?", XSD + "string", None)]
    with pytest.raises(ValueError):
        list(parse_jsonld('{"@context": "http://remote/ctx"}'))


def test_jsonld_named_graphs_and_index_and_default_language():
    from graphdb_free_mocha_sa_spark.sources.jsonld import parse_jsonld
    RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
    doc = """
    {
      "@context": {"ex": "http://ex.org/", "@language": "fr",
                   "byidx": {"@id": "ex:byidx", "@container": "@index"}},
      "@id": "ex:g1",
      "@graph": [
        {"@id": "ex:a", "ex:p": "salut",
         "byidx": {"i0": {"@value": 1}, "i1": [2, 3]}}
      ]
    }
    """
    quads = sorted(parse_jsonld(doc), key=str)
    assert ("http://ex.org/g1", "http://ex.org/a", "http://ex.org/p",
            ("salut", RDF + "langString", "fr")) in quads
    idx = [o for g, s, p, o in quads if p == "http://ex.org/byidx"]
    assert sorted(x[0] for x in idx) == ["1", "2", "3"]
    # every quad of the named node lands in the named graph
    assert all(g == "http://ex.org/g1" for g, *_ in quads)


def test_jsonld_load_through_engine(spark, tmp_path):
    """LOAD <file.jsonld> routes through the JSON-LD reader; named
    graphs keep their labels, default statements land in the target."""
    import json
    from graphdb_free_mocha_sa_spark.engine import Engine
    from graphdb_free_mocha_sa_spark.store import QuadStore
    p = tmp_path / "mini.jsonld"
    p.write_text(json.dumps({
        "@context": {"e": "urn:e:"},
        "@graph": [
            {"@id": "e:d", "e:name": "D"},
            {"@id": "e:g1",
             "@graph": [{"@id": "e:a", "e:knows": {"@id": "e:b"}}]},
        ],
    }))
    eng = Engine(spark, QuadStore(spark))
    eng.update(f"LOAD <file://{p}> INTO GRAPH <urn:tgt>")
    out = json.loads(eng.query_json(
        "SELECT ?g ?s WHERE { GRAPH ?g { ?s ?p ?o } } ORDER BY ?g"))
    rows = [(b["g"]["value"], b["s"]["value"])
            for b in out["results"]["bindings"]]
    assert rows == [("urn:e:g1", "urn:e:a"), ("urn:tgt", "urn:e:d")]


def test_jsonld_writer_roundtrip_fuzz(spark):
    """r6c: quad frame → JSON-LD text → parse_jsonld round-trip over
    adversarial literals, named/bnode graphs, datatypes and language
    tags — closing the JSON-LD loop like the TriG fuzz above."""
    import random

    from graphdb_free_mocha_sa_spark.model import QUAD_SCHEMA
    from graphdb_free_mocha_sa_spark.sources.jsonld import parse_jsonld
    from graphdb_free_mocha_sa_spark.sparql.results import iter_jsonld
    from graphdb_free_mocha_sa_spark.store import DEFAULT_GRAPH

    rng = random.Random(13)
    alphabet = (list('ab \\"\'\t\n$^{}|.*?[]:') + ["é", "中", "🚀", "\u2028"])

    def nasty():
        return "".join(rng.choice(alphabet)
                       for _ in range(rng.randint(1, 16)))
    graphs = [DEFAULT_GRAPH, "urn:g:one", "urn:g:two", "_:bg"]
    rows = []
    for i in range(80):
        g = graphs[i % len(graphs)]
        kind = i % 4
        if kind == 0:
            rows.append((g, f"urn:s{i % 7}", "urn:p", nasty(),
                         "http://www.w3.org/2001/XMLSchema#string",
                         None, None, None))
        elif kind == 1:
            rows.append((g, f"_:b{i}", "urn:p", nasty(),
                         "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
                         "langString", "fr", None, None))
        elif kind == 2:
            rows.append((g, f"urn:s{i % 7}", f"urn:p{i % 3}", str(i),
                         "http://www.w3.org/2001/XMLSchema#integer",
                         None, float(i), None))
        else:
            rows.append((g, f"urn:s{i % 7}", "urn:p", f"urn:o{i}",
                         None, None, None, None))
    df = spark.createDataFrame(rows, QUAD_SCHEMA)
    doc = "".join(iter_jsonld(df, default_graph=DEFAULT_GRAPH))
    back = set()
    for g, s, p, (lex, dt, lang) in parse_jsonld(doc):
        back.add((g if g is not None else DEFAULT_GRAPH,
                  s, p, lex, dt, lang))
    want = {(g, s, p, o_lex, o_dt, o_lang)
            for g, s, p, o_lex, o_dt, o_lang, *_ in rows}
    missing = want - back
    extra = back - want
    assert not missing and not extra, (sorted(missing)[:3],
                                       sorted(extra)[:3])


def test_engine_export_to_jsonld(spark):
    import json
    from graphdb_free_mocha_sa_spark.engine import Engine
    from graphdb_free_mocha_sa_spark.sources.jsonld import parse_jsonld
    from graphdb_free_mocha_sa_spark.store import QuadStore
    e = Engine(spark, QuadStore(spark))
    e.update('INSERT DATA { <urn:a> <urn:p> "v"@en . '
             'GRAPH <urn:g1> { <urn:b> <urn:q> 5 } }')
    out = []
    e.export_to(out.append, fmt="jsonld")
    doc = "".join(out)
    json.loads(doc)  # well-formed JSON
    quads = set()
    for g, s, p, (lex, dt, lang) in parse_jsonld(doc):
        quads.add((g, s, p, lex, lang))
    assert (None, "urn:a", "urn:p", "v", "en") in quads
    assert ("urn:g1", "urn:b", "urn:q", "5", None) in quads


def test_insert_template_bnodes_fresh_per_solution(spark):
    """r6c probe fix (Update §3.1.3): a blank node in an INSERT template
    is instantiated fresh per WHERE solution — coreferent across the
    template triples of ONE solution, distinct across solutions (it used
    to insert a single shared constant bnode)."""
    import json
    from graphdb_free_mocha_sa_spark.engine import Engine
    from graphdb_free_mocha_sa_spark.store import QuadStore
    eng = Engine(spark, QuadStore(spark))
    eng.update('INSERT DATA { <urn:a> <urn:v> 1 . <urn:a> <urn:v> 2 . '
               '<urn:b> <urn:v> 3 }')
    eng.update('INSERT { ?s <urn:tag> _:t . _:t <urn:of> ?s } '
               'WHERE { ?s <urn:v> ?x }')
    out = json.loads(eng.query_json(
        'SELECT ?s ?o WHERE { ?s <urn:tag> ?o . ?o <urn:of> ?s }'))
    rows = [(b["s"]["value"], b["o"]["value"], b["o"]["type"])
            for b in out["results"]["bindings"]]
    # every solution produced a coreferent (tag, of) pair
    assert len(rows) == 3
    assert all(t == "bnode" for _, _, t in rows)
    # bnodes are distinct across solutions (a had TWO solutions -> but
    # dedup happens per (s, node) pair; distinctness across the 3 pairs)
    assert len({o for _, o, _ in rows}) == 3
