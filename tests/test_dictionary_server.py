"""Dictionary-encoding round trip + HTTP endpoint handler tests."""

from __future__ import annotations

import json

from pyspark.sql import functions as F


def test_dictionary_roundtrip_join_equivalence(spark, quads):
    from graphdb_free_mocha_sa_spark.dictionary import (
        build_term_dict_full, encode_quads, has_collision)
    d = build_term_dict_full(quads).cache()
    assert not has_collision(d)
    # every term got exactly one id, and every id names one term
    assert d.groupBy("term").count().where(F.col("count") > 1).isEmpty()
    assert d.groupBy("id").count().where(F.col("count") > 1).isEmpty()
    enc = encode_quads(quads).cache()
    assert enc.count() == quads.count()
    # every encoded id is in the dictionary
    for pos in ("g", "s", "p", "o"):
        assert enc.join(d, enc[f"{pos}_id"] == d["id"], "left_anti").isEmpty()

    # the same star join on ids matches the string-join answer:
    # orders -> customer via o_custkey
    p_dict = {r["term"]: r["id"] for r in
              d.where(F.col("term").isin("urn:x:p/o_custkey",
                                         "urn:x:p/c_nationkey")).collect()}
    e1 = enc.where(F.col("p_id") == p_dict["urn:x:p/o_custkey"]) \
            .select(F.col("s_id").alias("o"), F.col("o_id").alias("cust"))
    e2 = enc.where(F.col("p_id") == p_dict["urn:x:p/c_nationkey"]) \
            .select(F.col("s_id").alias("cust"), F.col("o_id").alias("nat"))
    terms = d.select("id", "term")
    got = (e1.join(e2, "cust")
           .join(terms.withColumnsRenamed({"id": "o", "term": "o_t"}), "o")
           .join(terms.withColumnsRenamed({"id": "nat", "term": "nat_t"}),
                 "nat")
           .select("o_t", "nat_t"))
    want = (quads.where(F.col("p") == "urn:x:p/o_custkey")
            .select(F.col("s").alias("o_t"), F.col("o_lex").alias("cust"))
            .join(quads.where(F.col("p") == "urn:x:p/c_nationkey")
                  .select(F.col("s").alias("cust"),
                          F.col("o_lex").alias("nat_t")), "cust")
            .select("o_t", "nat_t"))
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    d.unpersist(); enc.unpersist()


def test_hash_collision_falls_back_to_string_path(spark, quads, monkeypatch):
    """Ids that name two terms send the snapshot to the string path; the
    answers stay those of an unencoded engine."""
    from graphdb_free_mocha_sa_spark import dictionary as D
    from graphdb_free_mocha_sa_spark.engine import Engine
    from graphdb_free_mocha_sa_spark.store import QuadStore
    monkeypatch.setattr(D, "term_id", lambda key: F.xxhash64(key) % 2)
    store = QuadStore(spark, quads)
    eng = Engine(spark, store)
    eng.ENCODE_MIN_QUADS = 0
    assert eng._should_encode()
    assert eng._encoded_state() is None
    assert not eng._should_encode()
    ref = Engine(spark, store, encoded=False)
    spec = {"n": "str", "c": "int"}
    for q in ("SELECT ?n (COUNT(*) AS ?c) WHERE { ?s <urn:x:p/n_name> ?n } "
              "GROUP BY ?n ORDER BY ?n",
              "SELECT ?n (COUNT(*) AS ?c) WHERE { ?s <urn:x:p/c_nationkey> ?n "
              "} GROUP BY ?n ORDER BY ?n"):
        got = [tuple(r) for r in eng.query(q).finalize(spec).collect()]
        want = [tuple(r) for r in ref.query(q).finalize(spec).collect()]
        assert got == want and got
    assert eng._enc is None


def test_encoded_reads_beside_writes_match_string_path(spark, tmp_path):
    """Every write makes a new snapshot and a new dictionary; after each,
    the encoded engine answers like the string engine."""
    from graphdb_free_mocha_sa_spark.engine import Engine
    from graphdb_free_mocha_sa_spark.store import DurableQuadStore
    store = DurableQuadStore(spark, str(tmp_path / "store"))
    eng = Engine(spark, store)
    eng.ENCODE_MIN_QUADS = 0
    ref = Engine(spark, store, encoded=False)
    census = ("SELECT ?p (COUNT(*) AS ?c) WHERE { ?s ?p ?o } "
              "GROUP BY ?p ORDER BY ?p")
    lookup = 'SELECT ?s WHERE { ?s <urn:w:p> "a" } ORDER BY ?s'
    steps = [
        'INSERT DATA { <urn:w:1> <urn:w:p> "a" . <urn:w:2> <urn:w:p> "a" . '
        '<urn:w:1> <urn:w:q> <urn:w:2> . <urn:w:3> <urn:w:q> 7 }',
        'DELETE DATA { <urn:w:2> <urn:w:p> "a" . <urn:w:3> <urn:w:q> 7 }',
        'INSERT DATA { <urn:w:3> <urn:w:p> "a" . <urn:w:3> <urn:w:r> "b"@en }',
    ]
    for step in steps:
        eng.update(step)
        for q, spec in ((census, {"p": "str", "c": "int"}),
                        (lookup, {"s": "str"})):
            got = [tuple(r) for r in eng.query(q).finalize(spec).collect()]
            want = [tuple(r) for r in ref.query(q).finalize(spec).collect()]
            assert got == want and got, (step, q)
        # the encoded path served this snapshot
        assert eng._enc is not None and eng._enc[0] == eng._basis()


def test_http_handler_query_update_sentinel(spark):
    from graphdb_free_mocha_sa_spark.engine import Engine
    from graphdb_free_mocha_sa_spark.server import handle_request
    from graphdb_free_mocha_sa_spark.store import QuadStore
    eng = Engine(spark, QuadStore(spark))

    code, out = handle_request(eng, 'INSERT DATA { <urn:s> <urn:p> "v" }')
    assert code == 200 and json.loads(out)["ok"]

    code, out = handle_request(eng, 'SELECT ?s WHERE { ?s <urn:p> "v" }')
    body = json.loads(out)
    assert code == 200
    assert body["results"]["bindings"][0]["s"]["value"] == "urn:s"

    # form-encoded query
    code, out = handle_request(
        eng, "query=SELECT%20%3Fs%20WHERE%20%7B%20%3Fs%20%3Furn%3Ap%20%3Fo%20%7D",
        "application/x-www-form-urlencoded")
    assert code == 200

    # broken query -> the reference's sentinel shape, not a 500
    code, out = handle_request(eng, "SELECT WHERE garbage {{{")
    assert code == 200 and "XXX" in out


def test_http_handler_stream_chunks_and_status_order(spark):
    """Streaming endpoint leg (round 5): status resolves BEFORE the first
    body chunk, query results arrive as multiple chunks (one per row), and
    updates/errors emit one chunk with the right status."""
    from graphdb_free_mocha_sa_spark.engine import Engine
    from graphdb_free_mocha_sa_spark.server import handle_request_stream
    from graphdb_free_mocha_sa_spark.store import QuadStore
    eng = Engine(spark, QuadStore(spark))
    events = []

    def start(code, fmt="json"):     # r6: start receives the ack format too
        events.append(("start", code))

    def write(chunk):
        events.append(("write", chunk))

    code = handle_request_stream(
        eng, 'INSERT DATA { <urn:a> <urn:p> "1" . <urn:b> <urn:p> "2" . '
             '<urn:c> <urn:p> "3" }', write, start=start)
    assert code == 200 and events[0] == ("start", 200)
    assert json.loads(events[1][1])["ok"]

    events.clear()
    code = handle_request_stream(
        eng, "SELECT ?s ?o WHERE { ?s <urn:p> ?o }", write, start=start)
    assert code == 200
    assert events[0] == ("start", 200)          # status precedes any byte
    chunks = [e[1] for e in events[1:]]
    assert len(chunks) >= 5                     # header + 3 rows + footer
    doc = json.loads("".join(chunks))
    assert len(doc["results"]["bindings"]) == 3

    events.clear()
    code = handle_request_stream(eng, "SELECT broken {{{", write, start=start)
    assert code == 200 and events[0] == ("start", 200)
    assert "XXX" in "".join(e[1] for e in events[1:])   # sentinel body

    events.clear()
    code = handle_request_stream(
        eng, "update=INSERT%20garbage", write,
        "application/x-www-form-urlencoded", start=start)
    assert code == 400 and events[0] == ("start", 400)


def test_live_server_chunked_round_trip(spark):
    """The real socket server (serve()) speaks HTTP/1.1 chunked encoding:
    a client reads a multi-row SELECT and an update ack end-to-end.
    r6: serve() now RETURNS the HTTPServer (callers own the loop)."""
    import json
    import threading
    import urllib.request
    from urllib.parse import quote

    from graphdb_free_mocha_sa_spark.engine import Engine
    from graphdb_free_mocha_sa_spark.server import serve
    from graphdb_free_mocha_sa_spark.store import QuadStore

    eng = Engine(spark, QuadStore(spark))
    eng.update("INSERT DATA { " + " . ".join(
        f'<urn:r{i}> <urn:p> "{i}"' for i in range(40)) + " }")

    srv = serve(eng, port=0)
    port = srv.server_address[1]
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    url = f"http://127.0.0.1:{port}/sparql"
    try:
        body = urllib.request.urlopen(urllib.request.Request(
            url, data=b"SELECT ?s ?o WHERE { ?s <urn:p> ?o }",
            method="POST"), timeout=30).read().decode()
        doc = json.loads(body)
        assert len(doc["results"]["bindings"]) == 40
        ack = urllib.request.urlopen(urllib.request.Request(
            url, data=b'INSERT DATA { <urn:x> <urn:p> "x" }',
            method="POST"), timeout=30).read().decode()
        assert json.loads(ack)["ok"]
        # SPARQL protocol GET ?query= (round 5)
        got = urllib.request.urlopen(
            url + "?query=" + quote('SELECT ?o WHERE { <urn:x> <urn:p> ?o }'),
            timeout=30).read().decode()
        doc2 = json.loads(got)
        assert doc2["results"]["bindings"][0]["o"]["value"] == "x"
    finally:
        srv.shutdown()
        srv.server_close()
