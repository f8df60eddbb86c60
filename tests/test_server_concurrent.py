"""Protocol-level concurrency (r7, VERDICT r6 item 5 — SURVEY A9/A11).

The store soak test covers snapshot isolation at the QuadStore layer; these
tests drive the SERVED path: concurrent HTTP SELECT streams while INSERT
micro-batches execute through the update leg. The invariant is the
reference's operational claim (GraphDBSystemAdapter.java:81-82,201,227,245):
readers never observe a torn version — every committed pair subject has
BOTH its quads or NEITHER, and reader results only advance (monotone
versions), never mix two versions within one response.
"""

from __future__ import annotations

import json
import threading
import urllib.parse
import urllib.request

import pytest


@pytest.fixture()
def served_engine(spark):
    from graphdb_free_mocha_sa_spark.engine import Engine
    from graphdb_free_mocha_sa_spark.server import serve
    from graphdb_free_mocha_sa_spark.store import QuadStore
    eng = Engine(spark, QuadStore(spark))
    srv = serve(eng, port=0)
    port = srv.server_address[1]
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield eng, port
    srv.shutdown()
    srv.server_close()


def _get_json(port: int, query: str) -> dict:
    q = urllib.parse.quote(query)
    with urllib.request.urlopen(
            f"http://127.0.0.1:{port}/sparql?query={q}", timeout=120) as r:
        return json.loads(r.read())


def _post_update(port: int, update: str) -> dict:
    body = urllib.parse.urlencode({"update": update}).encode()
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}/sparql", data=body,
        headers={"Content-Type": "application/x-www-form-urlencoded"})
    with urllib.request.urlopen(req, timeout=120) as r:
        return json.loads(r.read())


def test_concurrent_readers_never_see_torn_version(served_engine):
    eng, port = served_engine
    n_writes, n_reads, n_readers = 12, 10, 3
    errors: list[str] = []
    seen_counts: list[int] = []
    done = threading.Event()

    def writer():
        try:
            for i in range(n_writes):
                # both quads of pair i commit in ONE update — atomic per
                # the store's swap; a torn read would see exactly one
                r = _post_update(
                    port,
                    f"INSERT DATA {{ <urn:pair:{i}> <urn:a> <urn:x> . "
                    f"<urn:pair:{i}> <urn:b> <urn:x> }}")
                if not r.get("ok"):
                    errors.append(f"update {i} failed: {r}")
        finally:
            done.set()

    def reader():
        while not done.is_set() or not seen_counts:
            res = _get_json(
                port,
                "SELECT ?s (COUNT(*) AS ?c) WHERE { ?s ?p ?o } GROUP BY ?s")
            rows = res["results"]["bindings"]
            for b in rows:
                c = int(b["c"]["value"])
                if c != 2:
                    errors.append(f"torn read: {b['s']['value']} count={c}")
            seen_counts.append(len(rows))

    wt = threading.Thread(target=writer)
    rts = [threading.Thread(target=reader) for _ in range(n_readers)]
    wt.start()
    [t.start() for t in rts]
    wt.join(timeout=600)
    [t.join(timeout=600) for t in rts]
    assert not errors, errors[:5]
    # final state: all writes visible
    final = _get_json(port, "SELECT (COUNT(*) AS ?c) WHERE { ?s ?p ?o }")
    assert int(final["results"]["bindings"][0]["c"]["value"]) == 2 * n_writes


def test_reader_streams_while_update_executes(served_engine):
    """A slow streaming SELECT started BEFORE an update completes with the
    pre-update snapshot (no mid-stream version mix), while the update
    commits concurrently."""
    eng, port = served_engine
    _post_update(port, "INSERT DATA { <urn:s0> <urn:p> <urn:o0> }")

    results: dict = {}

    def read_all():
        results["rows"] = _get_json(
            port, "SELECT ?s ?p ?o WHERE { ?s ?p ?o }")["results"]["bindings"]

    rt = threading.Thread(target=read_all)
    rt.start()
    _post_update(port, "INSERT DATA { <urn:s1> <urn:p> <urn:o1> }")
    rt.join(timeout=300)
    subs = {b["s"]["value"] for b in results["rows"]}
    # snapshot semantics: the reader saw a consistent set — either only the
    # first insert or both, never a half-applied state (and s0 is always
    # present: it committed before the read began)
    assert "urn:s0" in subs
    assert subs in ({"urn:s0"}, {"urn:s0", "urn:s1"})


def test_dred_maintenance_under_snapshot_readers(served_engine):
    """r9 (VERDICT r8 item 5): DELETE DATA batches trigger DRed closure
    maintenance while readers hold snapshots. Invariant: with TBox
    C0 subClassOf C1 and members asserted as type C0 (deriving type C1),
    every reader response shows each member with BOTH its types or NEITHER
    — never the explicit type without the derived one (stale-closure mix)
    or the derived type after its premise is gone (dangling inference)."""
    eng, port = served_engine
    _post_update(port, "INSERT DATA { <urn:C0> "
                       "<http://www.w3.org/2000/01/rdf-schema#subClassOf> "
                       "<urn:C1> }")
    eng.store.materialize_inference()
    eng.use_inference = True

    n = 6
    errors: list[str] = []
    done = threading.Event()

    def writer():
        try:
            for i in range(n):   # increments: each member derives type C1
                r = _post_update(
                    port, f"INSERT DATA {{ <urn:m:{i}> "
                          "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"
                          " <urn:C0> }")
                if not r.get("ok"):
                    errors.append(f"insert {i} failed: {r}")
            for i in range(n):   # DRed decrements: C1 must retract with C0
                r = _post_update(
                    port, f"DELETE DATA {{ <urn:m:{i}> "
                          "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"
                          " <urn:C0> }")
                if not r.get("ok"):
                    errors.append(f"delete {i} failed: {r}")
        finally:
            done.set()

    reads = []

    def reader():
        while not done.is_set() or not reads:
            res = _get_json(
                port,
                "SELECT ?s (COUNT(*) AS ?c) WHERE { ?s "
                "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type> ?t } "
                "GROUP BY ?s")
            for b in res["results"]["bindings"]:
                if b["s"]["value"].startswith("urn:m:") \
                        and int(b["c"]["value"]) != 2:
                    errors.append(
                        f"closure mix: {b['s']['value']} has "
                        f"{b['c']['value']} of its 2 types")
            reads.append(len(res["results"]["bindings"]))

    wt = threading.Thread(target=writer)
    rts = [threading.Thread(target=reader) for _ in range(2)]
    wt.start()
    [t.start() for t in rts]
    wt.join(timeout=900)
    [t.join(timeout=900) for t in rts]
    assert not errors, errors[:5]
    # final state: every member and its derived type fully retracted
    final = _get_json(
        port, "SELECT (COUNT(*) AS ?c) WHERE { ?s "
              "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type> ?t }")
    assert int(final["results"]["bindings"][0]["c"]["value"]) == 0
    assert len(reads) >= 2


def test_maintenance_and_queries_write_no_limit_conf(spark, monkeypatch,
                                                    maintain_incrementally):
    """The server answers every thread from one SparkSession, so no
    maintenance or query path may write a session-global
    ``spark.sql.limit.*`` key: a concurrent reader would plan under it,
    and two overlapping restores could leave it set for good. Covers a
    DRed delete, a checked insert (full, then delta gate), a consistency
    check over an owl:AllDifferent list, and a DESCRIBE."""
    from pyspark.sql.conf import RuntimeConfig

    from graphdb_free_mocha_sa_spark.engine import Engine
    from graphdb_free_mocha_sa_spark.model import QUAD_SCHEMA
    from graphdb_free_mocha_sa_spark.store import QuadStore

    owl = "http://www.w3.org/2002/07/owl#"
    rdf = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
    sc = "http://www.w3.org/2000/01/rdf-schema#subClassOf"
    written: list[str] = []
    real_set, real_unset = RuntimeConfig.set, RuntimeConfig.unset

    def spy_set(self, key, value):
        written.append(key)
        return real_set(self, key, value)

    def spy_unset(self, key):
        written.append(key)
        return real_unset(self, key)

    monkeypatch.setattr(RuntimeConfig, "set", spy_set)
    monkeypatch.setattr(RuntimeConfig, "unset", spy_unset)

    def quads(triples):
        return spark.createDataFrame(
            [("urn:g", s, p, o, None, None, None, None)
             for s, p, o in triples], QUAD_SCHEMA)

    st = QuadStore(spark, quads([("urn:A", sc, "urn:B"),
                                 ("urn:x", rdf + "type", "urn:A")]))
    st.materialize_inference()
    st.delete_quads(quads([("urn:x", rdf + "type", "urn:A")]))

    eng = Engine(spark, QuadStore(spark), check_inconsistencies=True)
    eng.update(f"""INSERT DATA {{
      <urn:K1> <{owl}disjointWith> <urn:K2> .
      <urn:a> <{owl}sameAs> <urn:b> .
      _:ad <{rdf}type> <{owl}AllDifferent> .
      _:ad <{owl}distinctMembers> _:l1 .
      _:l1 <{rdf}first> <urn:a> . _:l1 <{rdf}rest> _:l2 .
      _:l2 <{rdf}first> <urn:c> . _:l2 <{rdf}rest> <{rdf}nil> . }}""")
    eng.update(f"INSERT DATA {{ <urn:b> <{rdf}type> <urn:K1> }}")
    assert eng.check_consistency().collect() == []
    assert eng.query("DESCRIBE <urn:a>").count() > 0

    # the spy sees the maintenance plans' constraint-propagation scope
    assert "spark.sql.constraintPropagation.enabled" in written
    assert [k for k in written if k.startswith("spark.sql.limit.")] == []


def test_overlapping_maintenance_scopes_keep_conf(spark):
    """Two threads' constraint-propagation scopes on one session, closed
    in the order A enters, B enters, A exits, B exits: the conf stays off
    while B's maintenance runs, and B's exit restores the value from
    before A's entry."""
    from graphdb_free_mocha_sa_spark.operators.inference import \
        _no_constraint_propagation
    key = "spark.sql.constraintPropagation.enabled"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "true")
    a_in, b_in, a_out = (threading.Event() for _ in range(3))
    seen: dict = {}

    def thread_a():
        with _no_constraint_propagation(spark):
            a_in.set()
            b_in.wait(30)
        a_out.set()

    def thread_b():
        a_in.wait(30)
        with _no_constraint_propagation(spark):
            b_in.set()
            a_out.wait(30)
            seen["inside_b"] = spark.conf.get(key)

    try:
        threads = [threading.Thread(target=f) for f in (thread_a, thread_b)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(60)
        assert not any(t.is_alive() for t in threads)
        assert seen == {"inside_b": "false"}
        assert spark.conf.get(key) == "true"
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
