"""Closed-form inference + property-path tests (SURVEY B13/B40/B41/B44, M4).

Fixtures per FIXTURES.md §3: subclass chains, transitive nets, sameAs
cliques — expected closures computed by hand; path queries double-checked
against a DuckDB WITH RECURSIVE oracle.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from graphdb_free_mocha_sa_spark.model import OWL, QUAD_SCHEMA, RDF_TYPE, RDFS

SC = RDFS + "subClassOf"
SP = RDFS + "subPropertyOf"
DOM = RDFS + "domain"
RNG = RDFS + "range"


def mk_quads(spark, triples):
    rows = [("urn:g", s, p, o, None, None, None, None) for s, p, o in triples]
    return spark.createDataFrame(rows, QUAD_SCHEMA)


def test_subclass_chain_closure(spark):
    """C0 ⊂ C1 ⊂ … ⊂ C9, one instance per class → triangular type closure."""
    from graphdb_free_mocha_sa_spark.operators.inference import owl_horst_closure
    triples = [(f"urn:C{i}", SC, f"urn:C{i+1}") for i in range(9)]
    triples += [(f"urn:x{i}", RDF_TYPE, f"urn:C{i}") for i in range(10)]
    inferred = owl_horst_closure(spark, mk_quads(spark, triples))
    types = inferred.filter(F.col("p") == RDF_TYPE)
    # instance xi gains types C(i+1)..C9 → sum_{i=0..9} (9-i) = 45
    assert types.count() == 45
    x0 = {r.o_lex for r in types.filter(F.col("s") == "urn:x0").collect()}
    assert x0 == {f"urn:C{j}" for j in range(1, 10)}


def test_domain_range_subproperty(spark):
    from graphdb_free_mocha_sa_spark.operators.inference import owl_horst_closure
    triples = [
        ("urn:hasDog", SP, "urn:hasPet"),
        ("urn:hasPet", DOM, "urn:Person"),
        ("urn:hasPet", RNG, "urn:Animal"),
        ("urn:alice", "urn:hasDog", "urn:rex"),
    ]
    inferred = owl_horst_closure(spark, mk_quads(spark, triples))
    got = {(r.s, r.p, r.o_lex) for r in inferred.collect()}
    assert ("urn:alice", "urn:hasPet", "urn:rex") in got          # rdfs7
    assert ("urn:alice", RDF_TYPE, "urn:Person") in got           # rdfs2 via sp
    assert ("urn:rex", RDF_TYPE, "urn:Animal") in got             # rdfs3 via sp


def test_domain_range_on_rdf_type_iterates(spark, monkeypatch):
    """rdf:type with a range takes the multi-iteration fixpoint: rdfs3 fires
    again on every derived type fact, so one composed rule application is
    not complete. The distributed closure must equal the driver worklist's
    iterative one."""
    from graphdb_free_mocha_sa_spark.operators import inference
    triples = [
        ("urn:p", DOM, "urn:C"),
        (RDF_TYPE, RNG, "urn:M"),
        ("urn:a", "urn:p", "urn:b"),
    ]
    quads = mk_quads(spark, triples)
    small = {(r.s, r.p, r.o_lex)
             for r in inference.owl_horst_closure(spark, quads).collect()}
    monkeypatch.setattr(inference, "SMALL_ABOX_QUADS", 0)
    dist = {(r.s, r.p, r.o_lex)
            for r in inference.owl_horst_closure(spark, quads).collect()}
    assert dist == small
    assert {("urn:a", RDF_TYPE, "urn:C"), ("urn:C", RDF_TYPE, "urn:M"),
            ("urn:M", RDF_TYPE, "urn:M")} <= dist


def test_transitive_symmetric_inverse(spark):
    from graphdb_free_mocha_sa_spark.operators.inference import owl_horst_closure
    triples = [
        ("urn:partOf", RDF_TYPE, OWL + "TransitiveProperty"),
        ("urn:near", RDF_TYPE, OWL + "SymmetricProperty"),
        ("urn:contains", OWL + "inverseOf", "urn:partOf"),
        ("urn:a", "urn:partOf", "urn:b"),
        ("urn:b", "urn:partOf", "urn:c"),
        ("urn:c", "urn:partOf", "urn:d"),
        ("urn:p", "urn:near", "urn:q"),
    ]
    inferred = owl_horst_closure(spark, mk_quads(spark, triples))
    got = {(r.s, r.p, r.o_lex) for r in inferred.collect()}
    assert ("urn:a", "urn:partOf", "urn:c") in got
    assert ("urn:a", "urn:partOf", "urn:d") in got                # depth 3
    assert ("urn:q", "urn:near", "urn:p") in got                  # symmetric
    assert ("urn:b", "urn:contains", "urn:a") in got              # inverse
    assert ("urn:d", "urn:contains", "urn:a") in got              # inverse of closure


@pytest.fixture(params=["worklist", "distributed"])
def closure_fn(request, monkeypatch):
    """Run the same closure through BOTH implementations: the driver-side
    small-ABox worklist (default for tiny data) and the distributed
    DataFrame fixpoint (forced by zeroing the small-ABox cutoff)."""
    from graphdb_free_mocha_sa_spark.operators import inference
    if request.param == "distributed":
        monkeypatch.setattr(inference, "SMALL_ABOX_QUADS", 0)
    return inference.owl_horst_closure


def test_equivalent_class_and_property(spark, closure_fn):
    """rdfp12/13: equivalentClass/Property propagate instance data BOTH
    ways (encoded as mutual sub-relations), and compose with subClassOf."""
    EQC, EQP = OWL + "equivalentClass", OWL + "equivalentProperty"
    triples = [
        ("urn:Auto", EQC, "urn:Car"),
        ("urn:Car", SC, "urn:Vehicle"),
        ("urn:drives", EQP, "urn:operates"),
        ("urn:x", RDF_TYPE, "urn:Auto"),
        ("urn:y", RDF_TYPE, "urn:Car"),
        ("urn:p1", "urn:drives", "urn:c1"),
        ("urn:p2", "urn:operates", "urn:c2"),
    ]
    got = {(r.s, r.p, r.o_lex)
           for r in closure_fn(spark, mk_quads(spark, triples)).collect()}
    assert ("urn:x", RDF_TYPE, "urn:Car") in got        # eq forward
    assert ("urn:y", RDF_TYPE, "urn:Auto") in got       # eq backward
    assert ("urn:x", RDF_TYPE, "urn:Vehicle") in got    # eq ∘ subclass
    assert ("urn:p1", "urn:operates", "urn:c1") in got  # eq property fwd
    assert ("urn:p2", "urn:drives", "urn:c2") in got    # eq property bwd


def test_functional_properties_derive_sameas(spark, closure_fn):
    """rdfp1/rdfp2: (inverse-)functional collisions derive owl:sameAs."""
    SAME = OWL + "sameAs"
    triples = [
        ("urn:hasMother", RDF_TYPE, OWL + "FunctionalProperty"),
        ("urn:ssn", RDF_TYPE, OWL + "InverseFunctionalProperty"),
        ("urn:kid", "urn:hasMother", "urn:m1"),
        ("urn:kid", "urn:hasMother", "urn:m2"),
        ("urn:pa", "urn:ssn", "urn:s123"),
        ("urn:pb", "urn:ssn", "urn:s123"),
    ]
    got = {(r.s, r.p, r.o_lex)
           for r in closure_fn(spark, mk_quads(spark, triples)).collect()}
    assert ("urn:m1", SAME, "urn:m2") in got and ("urn:m2", SAME, "urn:m1") in got
    assert ("urn:pa", SAME, "urn:pb") in got and ("urn:pb", SAME, "urn:pa") in got


ONP = OWL + "onProperty"
HV = OWL + "hasValue"
SVF = OWL + "someValuesFrom"
AVF = OWL + "allValuesFrom"


def test_hasvalue_restriction(spark, closure_fn):
    """rdfp14a/b: owl:hasValue both directions, IRI and literal values,
    composing with subClassOf through the fixpoint."""
    XSD_INT = "http://www.w3.org/2001/XMLSchema#integer"
    triples = [
        ("urn:WineLover", ONP, "urn:likes"),
        ("urn:WineLover", HV, "urn:wine"),
        ("urn:WineLover", SC, "urn:Person"),
        ("urn:a", "urn:likes", "urn:wine"),      # 14a → type WineLover
        ("urn:b", RDF_TYPE, "urn:WineLover"),    # 14b → likes wine
        ("urn:Adult18", ONP, "urn:minAge"),
    ]
    rows = [("urn:g", s, p, o, None, None, None, None) for s, p, o in triples]
    # literal-valued hasValue: Adult18 ≡ minAge = "18"^^xsd:integer
    rows += [("urn:g", "urn:Adult18", HV, "18", XSD_INT, None, 18.0, None),
             ("urn:g", "urn:c", "urn:minAge", "18", XSD_INT, None, 18.0, None),
             ("urn:g", "urn:d", RDF_TYPE, "urn:Adult18", None, None, None, None)]
    quads = spark.createDataFrame(rows, QUAD_SCHEMA)
    inf = closure_fn(spark, quads)
    got = {(r.s, r.p, r.o_lex, r.o_dt) for r in inf.collect()}
    assert ("urn:a", RDF_TYPE, "urn:WineLover", None) in got      # 14a IRI
    assert ("urn:a", RDF_TYPE, "urn:Person", None) in got         # ∘ rdfs9
    assert ("urn:b", "urn:likes", "urn:wine", None) in got        # 14b IRI
    assert ("urn:c", RDF_TYPE, "urn:Adult18", None) in got        # 14a literal
    assert ("urn:d", "urn:minAge", "18", XSD_INT) in got          # 14b literal


def test_somevaluesfrom_restriction(spark, closure_fn):
    """rdfp15: ∃p.w membership, including when the witness type is itself
    INFERRED (subclass chain) — the two antecedents must close in either
    arrival order through the fixpoint."""
    triples = [
        ("urn:MeatHome", ONP, "urn:hasPet"),
        ("urn:MeatHome", SVF, "urn:Carnivore"),
        ("urn:Wolf", SC, "urn:Carnivore"),
        ("urn:home1", "urn:hasPet", "urn:rex"),
        ("urn:rex", RDF_TYPE, "urn:Carnivore"),     # direct witness
        ("urn:home2", "urn:hasPet", "urn:lupa"),
        ("urn:lupa", RDF_TYPE, "urn:Wolf"),         # witness via rdfs9
        ("urn:home3", "urn:hasPet", "urn:bun"),     # no witness
    ]
    got = {(r.s, r.p, r.o_lex)
           for r in closure_fn(spark, mk_quads(spark, triples)).collect()}
    assert ("urn:home1", RDF_TYPE, "urn:MeatHome") in got
    assert ("urn:home2", RDF_TYPE, "urn:MeatHome") in got
    assert ("urn:home3", RDF_TYPE, "urn:MeatHome") not in got


def test_allvaluesfrom_restriction(spark, closure_fn):
    """rdfp16: ∀p.w pushes the class onto every p-successor, including
    successors reached only through inferred facts, and composes onward
    (Herbivore ⊂ Animal)."""
    triples = [
        ("urn:VeganHome", ONP, "urn:hasPet"),
        ("urn:VeganHome", AVF, "urn:Herbivore"),
        ("urn:Herbivore", SC, "urn:Animal"),
        ("urn:keeps", SP, "urn:hasPet"),
        ("urn:home1", RDF_TYPE, "urn:VeganHome"),
        ("urn:home1", "urn:hasPet", "urn:bun"),
        ("urn:home1", "urn:keeps", "urn:moo"),      # hasPet via rdfs7
        ("urn:home2", "urn:hasPet", "urn:rex"),     # not a VeganHome
    ]
    got = {(r.s, r.p, r.o_lex)
           for r in closure_fn(spark, mk_quads(spark, triples)).collect()}
    assert ("urn:bun", RDF_TYPE, "urn:Herbivore") in got
    assert ("urn:bun", RDF_TYPE, "urn:Animal") in got
    assert ("urn:moo", RDF_TYPE, "urn:Herbivore") in got   # via subProperty
    assert ("urn:rex", RDF_TYPE, "urn:Herbivore") not in got


def test_restrictions_incremental_maintenance(spark):
    """Restriction rules fire on streaming ABox inserts through
    owl_horst_increment; a restriction-TBox delta forces re-materialization
    (restriction predicates are TBox predicates)."""
    from graphdb_free_mocha_sa_spark.engine import Engine
    from graphdb_free_mocha_sa_spark.store import QuadStore
    store = QuadStore(spark)
    eng = Engine(spark, store, use_inference=True)
    eng.update(f"""INSERT DATA {{
      <urn:MeatHome> <{ONP}> <urn:hasPet> .
      <urn:MeatHome> <{SVF}> <urn:Carnivore> .
      <urn:rex> <{RDF_TYPE}> <urn:Carnivore> . }}""")
    store.materialize_inference()

    def types_of(i):
        return sorted(r[0] for r in eng.query(
            f"SELECT ?c WHERE {{ <{i}> <{RDF_TYPE}> ?c }}")
            .finalize({"c": "str"}).collect())

    # ABox delta completes the rdfp15 antecedents incrementally
    eng.update("INSERT DATA { <urn:home1> <urn:hasPet> <urn:rex> }")
    assert "urn:MeatHome" in types_of("urn:home1")
    # TBox delta (new restriction): re-materializes and reclassifies
    eng.update(f"""INSERT DATA {{
      <urn:PetOwner> <{ONP}> <urn:hasPet> .
      <urn:PetOwner> <{HV}> <urn:rex> . }}""")
    assert types_of("urn:home1") == ["urn:MeatHome", "urn:PetOwner"]


def test_functional_sameas_feeds_query_expansion(spark):
    """Derived sameAs must merge identities in query answers (B41 engine
    expansion over base ∪ inferred)."""
    from graphdb_free_mocha_sa_spark.engine import Engine
    from graphdb_free_mocha_sa_spark.store import QuadStore
    eng = Engine(spark, QuadStore(spark), use_inference=True)
    eng.update(f"""INSERT DATA {{
        <urn:ssn> <{RDF_TYPE}> <{OWL}InverseFunctionalProperty> .
        <urn:pa> <urn:ssn> <urn:s1> .
        <urn:pb> <urn:ssn> <urn:s1> .
        <urn:pa> <urn:name> "Pat" }}""")
    rows = sorted(r[0] for r in eng.query(
        'SELECT ?w WHERE { ?w <urn:name> "Pat" }'
    ).finalize({"w": "str"}).collect())
    # pa and pb are the same individual: both IRIs answer
    assert rows == ["urn:pa", "urn:pb"]


def test_sameas_cliques(spark):
    from graphdb_free_mocha_sa_spark.operators.inference import sameas_components
    triples = [("urn:a1", OWL + "sameAs", "urn:a2"),
               ("urn:a2", OWL + "sameAs", "urn:a3"),
               ("urn:b1", OWL + "sameAs", "urn:b2")]
    comp = sameas_components(spark, mk_quads(spark, triples))
    canon = {r.term: r.canon for r in comp.collect()}
    assert canon["urn:a1"] == canon["urn:a2"] == canon["urn:a3"] == "urn:a1"
    assert canon["urn:b1"] == canon["urn:b2"] == "urn:b1"


def test_random_closure_worklist_vs_distributed_equivalence(spark, monkeypatch):
    """Differential property test: on RANDOM TBox+ABox mixes (subclass/
    subproperty/domain/range/transitive/symmetric/inverse/equivalent/
    functional/restriction vocabulary), the driver-side worklist closure
    and the distributed DataFrame fixpoint must derive the SAME fact set.
    On the first graph, maintaining the distributed closure through an
    ABox insert (owl_horst_increment) or delete (owl_horst_decrement) of a
    few triples must give the world that re-closing from scratch gives.
    The reference closures come from the worklist, which is checked
    against the distributed fixpoint first. One graph only: the
    distributed DRed delete alone takes 200-330 Spark jobs here.

    The distributed closures and the two maintenance checks run on a
    thread pool over the one session: each is a chain of small Spark jobs
    whose time is mostly driver-side planning and scheduling, so they
    overlap on a few cores instead of queueing behind one another."""
    import random
    from concurrent.futures import ThreadPoolExecutor

    from graphdb_free_mocha_sa_spark.operators import inference

    ONP, HV = OWL + "onProperty", OWL + "hasValue"
    SVF, AVF = OWL + "someValuesFrom", OWL + "allValuesFrom"
    rng = random.Random(20260815)
    classes = [f"urn:C{i}" for i in range(6)]
    props = [f"urn:p{i}" for i in range(5)]
    nodes = [f"urn:n{i}" for i in range(10)]

    def world(*frames):
        return {(r_.s, r_.p, r_.o_lex)
                for df in frames if df is not None
                for r_ in df.collect()}

    graphs = []
    for trial in range(3):
        triples = []
        for _ in range(4):
            triples.append((rng.choice(classes), SC, rng.choice(classes)))
            triples.append((rng.choice(props), SP, rng.choice(props)))
        triples.append((rng.choice(props), DOM, rng.choice(classes)))
        triples.append((rng.choice(props), RNG, rng.choice(classes)))
        triples.append((rng.choice(props), OWL + "inverseOf", rng.choice(props)))
        triples.append((rng.choice(props), RDF_TYPE, OWL + "TransitiveProperty"))
        triples.append((rng.choice(props), RDF_TYPE, OWL + "SymmetricProperty"))
        triples.append((rng.choice(classes), OWL + "equivalentClass",
                        rng.choice(classes)))
        r = f"urn:R{trial}"
        triples += [(r, ONP, rng.choice(props)),
                    (rng.choice([r]), rng.choice([HV, SVF, AVF]),
                     rng.choice(nodes if rng.random() < 0.5 else classes))]
        n_tbox = len(triples)
        for _ in range(25):
            triples.append((rng.choice(nodes), rng.choice(props),
                            rng.choice(nodes)))
        for _ in range(8):
            triples.append((rng.choice(nodes), RDF_TYPE, rng.choice(classes)))
        base = list(dict.fromkeys(triples))
        quads = mk_quads(spark, base)
        graphs.append((base, quads,
                       world(inference.owl_horst_closure(spark, quads))))
        if trial == 0:
            abox = sorted(set(triples[n_tbox:]))

    # Δ of the first graph; own generator, so the graphs above stay what
    # they were
    base, quads, _ = graphs[0]
    drng = random.Random(0)
    added = [t for t in dict.fromkeys(
                 [(drng.choice(nodes), drng.choice(props),
                   drng.choice(nodes)) for _ in range(2)]
                 + [(drng.choice(nodes), RDF_TYPE, drng.choice(classes))])
             if t not in base]
    gone = drng.sample(abox, 3)
    grown = mk_quads(spark, base + added)
    kept = mk_quads(spark, [t for t in base if t not in gone])
    want_grown = world(grown, inference.owl_horst_closure(spark, grown))
    want_kept = world(kept, inference.owl_horst_closure(spark, kept))

    monkeypatch.setattr(inference, "SMALL_ABOX_QUADS", 0)

    def distributed(trial):
        got_small = graphs[trial][2]
        dist = inference.owl_horst_closure(spark, graphs[trial][1])
        got_dist = world(dist)
        assert got_small == got_dist, (
            f"trial {trial}: worklist-only={sorted(got_small - got_dist)[:5]} "
            f"distributed-only={sorted(got_dist - got_small)[:5]}")
        return dist

    def increment(dist):
        inc = inference.owl_horst_increment(spark, quads, dist,
                                            mk_quads(spark, added))
        assert world(grown, dist, inc) == want_grown, \
            f"trial 0: increment by {added}"

    def decrement(dist):
        dec = inference.owl_horst_decrement(spark, kept, dist,
                                            mk_quads(spark, gone))
        assert dec is not None
        assert world(kept, dec) == want_kept, f"trial 0: decrement by {gone}"

    with ThreadPoolExecutor(4) as pool:
        closures = [pool.submit(distributed, t) for t in range(3)]
        dist = closures[0].result()
        checks = [pool.submit(increment, dist), pool.submit(decrement, dist)]
        for f in closures[1:] + checks:
            f.result()


def test_sameas_incremental_seed_matches_full_rebuild(spark):
    """Seeded label propagation (incremental CC maintenance) must produce
    the same dictionary as a from-scratch rebuild when an edge bridges two
    existing classes — and converge in O(1) iterations instead of
    re-walking the component diameter."""
    from graphdb_free_mocha_sa_spark.operators import inference
    SAME = OWL + "sameAs"
    n = 12
    chain_a = [(f"urn:a{i:02d}", SAME, f"urn:a{i+1:02d}") for i in range(n)]
    chain_b = [(f"urn:b{i:02d}", SAME, f"urn:b{i+1:02d}") for i in range(n)]
    base = mk_quads(spark, chain_a + chain_b)
    # small_path=False: this test pins the DISTRIBUTED Pregel kernel's
    # seeded-convergence behavior; the r10 driver fast path (bounded
    # union-find under SMALL_CC_EDGES) would short-circuit it
    seed = inference.sameas_components(spark, base,
                                       small_path=False).localCheckpoint()
    full_iters = inference.LAST_CC_ITERS
    assert full_iters >= n // 2          # cold walk scales with diameter

    bridged = mk_quads(spark, chain_a + chain_b
                       + [("urn:a05", SAME, "urn:b07")])
    inc = inference.sameas_components(spark, bridged, seed=seed,
                                      small_path=False)
    inc_iters = inference.LAST_CC_ITERS
    ref = inference.sameas_components(spark, bridged, small_path=False)
    assert {(r.term, r.canon) for r in inc.collect()} == \
        {(r.term, r.canon) for r in ref.collect()}
    assert inc_iters <= 4, f"seeded merge took {inc_iters} iterations"


def test_sameas_streaming_asserts_incremental_in_engine(spark):
    """Engine-level: streaming sameAs INSERTs maintain the component cache
    incrementally (append-only epoch); a destructive op falls back to a
    full rebuild and answers stay correct."""
    from graphdb_free_mocha_sa_spark.engine import Engine
    from graphdb_free_mocha_sa_spark.operators import inference
    from graphdb_free_mocha_sa_spark.store import QuadStore
    SAME = OWL + "sameAs"
    eng = Engine(spark, QuadStore(spark), encoded=False)
    eng.update(f"""INSERT DATA {{
        <urn:u1> <{SAME}> <urn:u2> . <urn:u2> <{SAME}> <urn:u3> .
        <urn:v1> <{SAME}> <urn:v2> .
        <urn:u3> <urn:city> <urn:nyc> . }}""")

    def cities(who):
        return sorted(r[0] for r in eng.query(
            f"SELECT ?c WHERE {{ <{who}> <urn:city> ?c }}")
            .finalize({"c": "str"}).collect())

    assert cities("urn:u1") == ["urn:nyc"]
    # append-only batch bridging the two classes: seeded path, few iters
    eng.update(f"INSERT DATA {{ <urn:u1> <{SAME}> <urn:v1> }}")
    assert cities("urn:v2") == ["urn:nyc"]
    assert inference.LAST_CC_ITERS <= 4
    # destructive: retract the bridge — classes must SPLIT (full rebuild)
    eng.update(f"DELETE DATA {{ <urn:u1> <{SAME}> <urn:v1> }}")
    assert cities("urn:v2") == []
    assert cities("urn:u1") == ["urn:nyc"]


@pytest.fixture(scope="module")
def chain_engine(spark):
    """a0 → a1 → … → a5 plus a side branch; engine over it."""
    from graphdb_free_mocha_sa_spark.engine import Engine
    from graphdb_free_mocha_sa_spark.store import QuadStore
    triples = [(f"urn:a{i}", "urn:next", f"urn:a{i+1}") for i in range(5)]
    triples += [("urn:a2", "urn:jump", "urn:a4"), ("urn:a0", "urn:label", "urn:zero")]
    return Engine(spark, QuadStore(spark, mk_quads(spark, triples)))


def run_vals(engine, q):
    res = engine.query(q)
    return sorted(r[res.variables[0] + "__lex"] for r in res.df.collect())


def test_path_plus(chain_engine, duck):
    got = run_vals(chain_engine, "SELECT ?x WHERE { <urn:a0> <urn:next>+ ?x }")
    # duckdb WITH RECURSIVE oracle over the same edge list
    edges = ",".join(f"('urn:a{i}','urn:a{i+1}')" for i in range(5))
    oracle = duck.execute(f"""
        WITH RECURSIVE e(s,o) AS (VALUES {edges}),
        reach(o) AS (
          SELECT o FROM e WHERE s = 'urn:a0'
          UNION SELECT e.o FROM reach JOIN e ON e.s = reach.o)
        SELECT DISTINCT o FROM reach ORDER BY o""").fetchall()
    assert got == [r[0] for r in oracle]


def test_path_star_and_optional_mod(chain_engine):
    got = run_vals(chain_engine, "SELECT ?x WHERE { <urn:a3> <urn:next>* ?x }")
    assert got == ["urn:a3", "urn:a4", "urn:a5"]
    got = run_vals(chain_engine, "SELECT ?x WHERE { <urn:a3> <urn:next>? ?x }")
    assert got == ["urn:a3", "urn:a4"]


def test_path_inverse_seq_alt(chain_engine):
    got = run_vals(chain_engine, "SELECT ?x WHERE { <urn:a2> ^<urn:next> ?x }")
    assert got == ["urn:a1"]
    got = run_vals(chain_engine,
                   "SELECT ?x WHERE { <urn:a1> (<urn:next>/<urn:next>) ?x }")
    assert got == ["urn:a3"]
    got = run_vals(chain_engine,
                   "SELECT ?x WHERE { <urn:a2> (<urn:jump>|<urn:next>) ?x }")
    assert got == ["urn:a3", "urn:a4"]


def test_path_negated(chain_engine):
    got = run_vals(chain_engine, "SELECT ?x WHERE { <urn:a2> !(<urn:next>) ?x }")
    assert got == ["urn:a4"]      # only the jump edge survives


def test_path_plus_converges_on_cycle(spark):
    """Cycles must not loop forever (closure is set-semantics)."""
    from graphdb_free_mocha_sa_spark.engine import Engine
    from graphdb_free_mocha_sa_spark.store import QuadStore
    triples = [("urn:c1", "urn:n", "urn:c2"), ("urn:c2", "urn:n", "urn:c3"),
               ("urn:c3", "urn:n", "urn:c1")]
    eng = Engine(spark, QuadStore(spark, mk_quads(spark, triples)))
    got = run_vals(eng, "SELECT ?x WHERE { <urn:c1> <urn:n>+ ?x }")
    assert got == ["urn:c1", "urn:c2", "urn:c3"]


def test_incremental_inference_on_streaming_insert(spark):
    """EP2 parity: after materialize_inference, add_quads maintains the
    closure incrementally — new facts trigger new inferences without a full
    re-materialization; a TBox delta forces one."""
    from graphdb_free_mocha_sa_spark.engine import Engine
    from graphdb_free_mocha_sa_spark.store import QuadStore
    store = QuadStore(spark)
    eng = Engine(store.spark, store, use_inference=True)
    eng.update("""INSERT DATA {
      <urn:C0> <http://www.w3.org/2000/01/rdf-schema#subClassOf> <urn:C1> .
      <urn:partOf> <http://www.w3.org/1999/02/22-rdf-syntax-ns#type>
          <http://www.w3.org/2002/07/owl#TransitiveProperty> .
      <urn:x> <urn:partOf> <urn:y> . }""")
    store.materialize_inference()

    def types_of(i):
        return sorted(r[0] for r in eng.query(
            f"SELECT ?c WHERE {{ <{i}> "
            "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type> ?c }")
            .finalize({"c": "str"}).collect())

    def partof(s):
        return sorted(r[0] for r in eng.query(
            f"SELECT ?o WHERE {{ <{s}> <urn:partOf> ?o }}")
            .finalize({"o": "str"}).collect())

    # streaming ABox inserts: subclass rule + transitive chaining both fire
    eng.update("INSERT DATA { <urn:i1> "
               "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <urn:C0> }")
    assert types_of("urn:i1") == ["urn:C0", "urn:C1"]

    eng.update("INSERT DATA { <urn:y> <urn:partOf> <urn:z> }")
    assert partof("urn:x") == ["urn:y", "urn:z"]
    eng.update("INSERT DATA { <urn:z> <urn:partOf> <urn:w> }")
    assert partof("urn:x") == ["urn:w", "urn:y", "urn:z"]

    # TBox delta: closure re-materialized, old instances reclassified
    eng.update("INSERT DATA { <urn:C1> "
               "<http://www.w3.org/2000/01/rdf-schema#subClassOf> <urn:C2> }")
    assert types_of("urn:i1") == ["urn:C0", "urn:C1", "urn:C2"]


def test_tbox_collect_independent_of_abox_type_cardinality(spark):
    """r6 scale fix (VERDICT r5 #1): Schema's driver collect must be
    O(TBox) — the rdf:type leg is bounded to the four OWL property-class
    objects, so instance rdf:type rows never reach the driver even though
    rdf:type is typically the store's largest predicate."""
    from graphdb_free_mocha_sa_spark.operators.inference import Schema

    tbox = [
        ("urn:C1", SC, "urn:C2"),
        ("urn:p", RDF_TYPE, OWL + "TransitiveProperty"),
        ("urn:q", RDF_TYPE, OWL + "SymmetricProperty"),
    ]
    small = mk_quads(spark, tbox + [(f"urn:i{i}", RDF_TYPE, "urn:C1")
                                    for i in range(10)])
    big = mk_quads(spark, tbox + [(f"urn:i{i}", RDF_TYPE, "urn:C1")
                                  for i in range(5000)])
    s_small = Schema(small)
    s_big = Schema(big)
    # Collected row count is exactly the TBox, regardless of ABox size.
    assert s_small.collected_rows == len(tbox)
    assert s_big.collected_rows == len(tbox)
    assert s_big.subclass == {("urn:C1", "urn:C2")}
    assert s_big.transitive == {"urn:p"}
    assert s_big.symmetric == {"urn:q"}
    # And the pushed-down filter reaches the plan: the scan carries an
    # object-side restriction, not a bare p IN (...) that admits rdf:type.
    plan = big.filter(
        F.col("p").isin(SC) | ((F.col("p") == RDF_TYPE)
                               & F.col("o_lex").isin(OWL + "TransitiveProperty"))
    )._jdf.queryExecution().optimizedPlan().toString()
    assert "o_lex" in plan


def test_sameas_small_path_matches_distributed(spark):
    """r10: the bounded driver union-find (SMALL_CC_EDGES fast path) must
    produce exactly the Pregel fixpoint's dictionary."""
    import random

    from graphdb_free_mocha_sa_spark.operators import inference
    rng = random.Random(123)
    SAME = OWL + "sameAs"
    edges = [(f"urn:n{rng.randint(0, 30)}", SAME,
              f"urn:n{rng.randint(0, 30)}") for _ in range(40)]
    q = mk_quads(spark, edges)
    small = {(r.term, r.canon)
             for r in inference.sameas_components(spark, q).collect()}
    dist = {(r.term, r.canon)
            for r in inference.sameas_components(
                spark, q, small_path=False).collect()}
    assert small == dist
