"""OWL-Horst(-optimized) subset forward-chaining materialization (SURVEY B40/B41).

The reference engine materializes inference on write with ruleset
``owl-horst-optimized`` (repo-config.ttl:26) and sameAs expansion
(repo-config.ttl:45). Spark-first re-expression:

* **TBox (schema) closure on the driver** — rdfs:subClassOf / subPropertyOf /
  domain / range / TransitiveProperty / SymmetricProperty / inverseOf triples
  are tiny even at 100 TB ABox scale, so we collect them, close them in
  Python, and broadcast-join the result against the instance data. This keeps
  every ABox-sized operation a distributed broadcast join (no shuffles of the
  big side beyond the final dedup).
* **ABox rules as a semi-naive DataFrame fixpoint** — each iteration applies
  every rule to the *delta* only, unions, dedups, subtracts the known set,
  and checkpoints to truncate lineage (Pregel pattern, SURVEY §1.4).
* **owl:sameAs as connected components** — iterative min-id label propagation
  producing a canonical-id dictionary (B41).

Each rule is written once per execution shape:

* :func:`_rule_step` — the distributed semi-naive step: the delta×TBox
  rules, transitive chaining, rdfp1/2 and rdfp15/16 against the known world.
  The closure, the increment and both DRed phases run it.
* :func:`_fixpoint` — the semi-naive loop (anti-join against the known
  world, pin, stop when nothing is new) shared by the closure and the
  increment. The DRed over-delete keeps its own loop: its newness test is
  against the over-deleted set, not the known world.
* :func:`_driver_rule_step` — the driver rule table of the delta×TBox rules
  (rdfs2/3/7/9, rdfp3/8/14a/14b) over 7-tuple facts. The small-ABox
  worklist adds its stateful rules (rdfp1/2/4/15/16) around it; the DRed
  over-delete cone runs it alone.

Implemented rule subset (declared scope in SURVEY §2.2.5): rdfs2 (domain),
rdfs3 (range), rdfs5/7 (subPropertyOf), rdfs9/11 (subClassOf), rdfp3
(SymmetricProperty), rdfp4 (TransitiveProperty), rdfp8 (inverseOf),
rdfp12a/b (equivalentClass, as mutual subClassOf), rdfp13a/b
(equivalentProperty, as mutual subPropertyOf), rdfp1 (FunctionalProperty →
sameAs), rdfp2 (InverseFunctionalProperty → sameAs; both IRI-valued only —
literal identity is value equality, not sameAs), and the restriction rules
of ``owl-horst-optimized`` (round-5): rdfp14a/b (owl:hasValue, literal and
IRI values), rdfp15 (owl:someValuesFrom), rdfp16 (owl:allValuesFrom).
Derived sameAs integrates through the B41 query-time expansion
(symmetry/transitivity via connected components).
"""

from __future__ import annotations

import threading
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from graphdb_free_mocha_sa_spark.model import (OWL, QUAD_COLS, QUAD_SCHEMA,
                                               RDF_TYPE, RDFS)
from graphdb_free_mocha_sa_spark.operators.paths import (
    SMALL_PARTS_ROWS, _link, transitive_closure)
from graphdb_free_mocha_sa_spark.session import driver_rows

SUBCLASS = RDFS + "subClassOf"
SUBPROP = RDFS + "subPropertyOf"
DOMAIN = RDFS + "domain"
RANGE = RDFS + "range"
TRANSITIVE = OWL + "TransitiveProperty"
SYMMETRIC = OWL + "SymmetricProperty"
INVERSE = OWL + "inverseOf"
EQ_CLASS = OWL + "equivalentClass"
EQ_PROP = OWL + "equivalentProperty"
FUNCTIONAL = OWL + "FunctionalProperty"
INV_FUNCTIONAL = OWL + "InverseFunctionalProperty"
SAMEAS = OWL + "sameAs"
ON_PROPERTY = OWL + "onProperty"
HAS_VALUE = OWL + "hasValue"
SOME_VALUES = OWL + "someValuesFrom"
ALL_VALUES = OWL + "allValuesFrom"

TBOX_PREDS = (SUBCLASS, SUBPROP, DOMAIN, RANGE, INVERSE, EQ_CLASS, EQ_PROP,
              ON_PROPERTY, HAS_VALUE, SOME_VALUES, ALL_VALUES)
#: rdf:type objects that declare a property's OWL class (TBox facts)
PROPERTY_CLASSES = (TRANSITIVE, SYMMETRIC, FUNCTIONAL, INV_FUNCTIONAL)

MAX_ITERS = 50

#: the dedup key of a quad within one graph (no o_num/o_ts: derived from
#: o_lex + o_dt)
_KEY5 = ["s", "p", "o_lex", "o_dt", "o_lang"]
#: the o_dt/o_lang/o_num/o_ts of a driver fact with an IRI object
_NULLS = (None, None, None, None)

_CONSTRAINT_PROP = "spark.sql.constraintPropagation.enabled"
_cp_lock = threading.Lock()
_cp_scopes: dict = {}            # session -> [open scopes, value to restore]


@contextmanager
def _no_constraint_propagation(spark: SparkSession):
    """Run the maintenance plans with constraint propagation off. Spark
    4.1: checkpointing a union whose children carry constraints
    referencing dropped join-side attributes throws "key not found" in
    UnionBase.rewriteConstraints. These plans are join/anti-join chains
    over pinned frames, so constraint-derived filter pruning buys nothing
    here; which shapes trip the error depends on which rule branches are
    present (the r9 branch pruning exposed it in the closure on fuzz seed
    7).

    The conf is session-global and the server runs maintenance from many
    threads, so scopes on one session may overlap in any order: the first
    to open saves the value and sets it off, the last to close restores
    it."""
    with _cp_lock:
        scope = _cp_scopes.get(spark)
        if scope is None:
            scope = _cp_scopes[spark] = [0, spark.conf.get(_CONSTRAINT_PROP,
                                                           "true")]
            spark.conf.set(_CONSTRAINT_PROP, "false")
        scope[0] += 1
    try:
        yield
    finally:
        with _cp_lock:
            scope[0] -= 1
            if scope[0] == 0:
                del _cp_scopes[spark]
                spark.conf.set(_CONSTRAINT_PROP, scope[1])


#: owl:AllDifferent list-walk driver probe bound: at most this many
#: distinctMembers heads (and 8x as many list-cell triples) are walked
#: driver-side; beyond it the distributed per-hop join walk runs instead.
AD_LIST_BOUND = 500
#: DRed re-derive candidate probe: when the removed-term vocabulary fits
#: this bound, the candidate scan is one InSet-predicate pass over the
#: world (pushdown-friendly) instead of two broadcast semi-join scans
#: (r11 opt). Falls back to the join shape above the bound.
DRED_TERMS_BOUND = 20_000
INFERRED_GRAPH = "http://graph.inferred"


def _closure(pairs: set[tuple[str, str]]) -> set[tuple[str, str]]:
    """Reflexive-free transitive closure of a small driver-side relation."""
    out = set(pairs)
    changed = True
    while changed:
        changed = False
        for (a, b) in list(out):
            for (c, d) in list(out):
                if b == c and (a, d) not in out:
                    out.add((a, d))
                    changed = True
    return out


def _tbox_filter() -> Column:
    """The TBox-change predicate over a quad frame: a schema predicate, or
    rdf:type naming an OWL property class."""
    return (F.col("p").isin(*TBOX_PREDS)
            | ((F.col("p") == RDF_TYPE)
               & F.col("o_lex").isin(*PROPERTY_CLASSES)))


def _is_tbox(p: str, o_lex: str) -> bool:
    """:func:`_tbox_filter` for one driver-side triple."""
    return p in TBOX_PREDS or (p == RDF_TYPE and o_lex in PROPERTY_CLASSES)


def _touches_tbox(delta: DataFrame, rows=None) -> bool:
    """Whether a changed quad set holds a TBox triple (the caller then
    re-materializes). ``rows``, when given, is the same set already on the
    driver as ``(s, p, o_lex, ...)`` tuples: a Python check, no job."""
    if rows is not None:
        return any(_is_tbox(r[1], r[2]) for r in rows)
    return not delta.filter(_tbox_filter()).isEmpty()


def _null_object() -> list[Column]:
    """o_dt/o_lang/o_num/o_ts of a derived fact with an IRI object. Fresh
    columns per call: a shared alias would put one expression id in two
    union branches."""
    return [F.lit(None).cast("string").alias("o_dt"),
            F.lit(None).cast("string").alias("o_lang"),
            F.lit(None).cast("double").alias("o_num"),
            F.lit(None).cast("timestamp").alias("o_ts")]


def _union(frames) -> DataFrame | None:
    """unionByName of the frames that are not None; None if all are."""
    out = None
    for df in frames:
        if df is not None:
            out = df if out is None else out.unionByName(df)
    return out


def _pin(df: DataFrame) -> DataFrame:
    """localCheckpoint under fresh expression ids: Spark 4.1's Union
    constraint rewrite throws "key not found" when a union of
    checkpointed frames re-uses attribute ids."""
    return df.select([F.col(c).alias(c) for c in df.columns]) \
             .localCheckpoint()


class Schema:
    """Driver-side TBox extracted from the quads table (or pre-collected
    rows — the small-ABox path collects once and reuses)."""

    def __init__(self, quads: DataFrame = None, tbox_rows=None):
        if tbox_rows is None:
            # The rdf:type leg is bounded to the four OWL property-class
            # objects the parse loop consumes — rdf:type is typically the
            # largest predicate in a real store, so collecting it
            # unrestricted would be a driver OOM at scale. This keeps the
            # collect O(TBox), independent of ABox type cardinality.
            tbox_rows = (quads.filter(_tbox_filter())
                         .filter(F.col("o_dt").isNull()
                                 | (F.col("p") == HAS_VALUE))
                         .select("p", "s", "o_lex", "o_dt", "o_lang",
                                 "o_num", "o_ts").collect())
        tbox = tbox_rows
        # Observable for tests: how many rows the extractor actually pulled
        # to the driver (must be O(TBox), never O(ABox)).
        self.collected_rows = len(tbox)
        sc, sp, dom, rng, inv, trans, sym = set(), set(), set(), set(), set(), set(), set()
        func, invfunc = set(), set()
        # MULTI-valued restriction components (r9 fuzzer find): the rules
        # are instantiated per TRIPLE match, so a node with two hasValue
        # (or onProperty / someValuesFrom / allValuesFrom) triples yields
        # one rule instance per (onProperty x value) combination — a
        # last-row-wins dict silently dropped all but one, and WHICH one
        # depended on collect order (nondeterministic closure).
        on_prop: dict = {}            # restriction node -> {property}
        hv_raw: dict = {}             # restriction node -> {value tuple}
        sv_raw: dict = {}             # restriction node -> {class (IRI)}
        av_raw: dict = {}
        for row in tbox:
            p, s, o = row["p"], row["s"], row["o_lex"]
            if p == ON_PROPERTY:
                on_prop.setdefault(s, set()).add(o)
                continue
            if p == HAS_VALUE:
                hv_raw.setdefault(s, set()).add(
                    (row["o_lex"], row["o_dt"], row["o_lang"],
                     row["o_num"], row["o_ts"]))
                continue
            if p == SOME_VALUES:
                sv_raw.setdefault(s, set()).add(o)
                continue
            if p == ALL_VALUES:
                av_raw.setdefault(s, set()).add(o)
                continue
            if p == SUBCLASS and s != o:
                sc.add((s, o))
            elif p == SUBPROP and s != o:
                sp.add((s, o))
            elif p == EQ_CLASS and s != o:
                # rdfp12a/b: equivalentClass ⇒ subClassOf both ways — the
                # instance-level consequences (types propagate in both
                # directions) materialize through the subclass machinery
                sc.add((s, o))
                sc.add((o, s))
            elif p == EQ_PROP and s != o:
                # rdfp13a/b: equivalentProperty ⇒ subPropertyOf both ways
                sp.add((s, o))
                sp.add((o, s))
            elif p == DOMAIN:
                dom.add((s, o))
            elif p == RANGE:
                rng.add((s, o))
            elif p == INVERSE:
                inv.add((s, o))
                inv.add((o, s))
            elif p == RDF_TYPE and o == TRANSITIVE:
                trans.add(s)
            elif p == RDF_TYPE and o == SYMMETRIC:
                sym.add(s)
            elif p == RDF_TYPE and o == FUNCTIONAL:
                func.add(s)
            elif p == RDF_TYPE and o == INV_FUNCTIONAL:
                invfunc.add(s)
        self.subclass = _closure(sc)
        self.subprop = _closure(sp)
        self.domain = dom
        self.range = rng
        self.inverse = inv
        self.transitive = trans
        self.symmetric = sym
        self.functional = func
        self.inv_functional = invfunc
        # OWL restriction classes (rdfp14a/b, rdfp15, rdfp16): a restriction
        # node only acts once it has BOTH owl:onProperty and its value/class
        # side. The restriction class itself is a first-class class (it can
        # appear in subClassOf chains — composition happens through rdfs9).
        def _vkey(t):
            return tuple("" if x is None else str(x) for x in t)

        self.has_value = [(v, p, val)
                          for v, vals in sorted(hv_raw.items())
                          for p in sorted(on_prop.get(v, ()))
                          for val in sorted(vals, key=_vkey)]
        self.some_values = [(v, p, w)
                            for v, ws in sorted(sv_raw.items())
                            for p in sorted(on_prop.get(v, ()))
                            for w in sorted(ws)]
        self.all_values = [(v, p, w)
                           for v, ws in sorted(av_raw.items())
                           for p in sorted(on_prop.get(v, ()))
                           for w in sorted(ws)]


def _rule_step(spark: SparkSession, schema: Schema, graph: str):
    """The semi-naive step for a fixed (already-closed) TBox, as
    ``step(delta, known, trans=None)``: every rule applied with at least
    one premise in ``delta``, the other (if any) in ``known``. ``trans``
    replaces the transitive chaining piece (:func:`_trans_step`): the
    closure's first round passes the path-engine closures, the DRed
    over-delete its both-sides extension."""
    g = F.lit(graph)

    def df_of(pairs: set[tuple[str, str]], a: str, b: str) -> DataFrame:
        if not pairs:
            return spark.createDataFrame([], f"{a} string, {b} string")
        return spark.createDataFrame(sorted(pairs), f"{a} string, {b} string")

    sc_df = df_of(schema.subclass, "c1", "c2")
    sp_df = df_of(schema.subprop, "p1", "p2")
    dom_df = df_of(schema.domain, "dp", "dc")
    rng_df = df_of(schema.range, "rp", "rc")
    inv_df = df_of(schema.inverse, "ip1", "ip2")
    hv_schema = ("hv string, hp string, w_lex string, w_dt string, "
                 "w_lang string, w_num double, w_ts timestamp")
    hv_df = spark.createDataFrame(
        [(v, p) + val for (v, p, val) in schema.has_value], hv_schema)

    def apply_rules(delta: DataFrame) -> DataFrame:
        """The delta×TBox rules (rdfs2/3/7/9, rdfp3/8/14a/14b)."""
        pieces: list[DataFrame] = []
        iri_delta = delta.filter(F.col("o_dt").isNull())
        types = delta.filter(F.col("p") == RDF_TYPE)

        # empty rule tables are SKIPPED, not joined-with-empty: every
        # emitted piece adds a stage to EVERY downstream materialization
        # of the union, and decrement/increment re-materialize it per
        # fixpoint iteration (r9 DRed profile)
        # rdfs9: type(x,c1) & sc(c1,c2) => type(x,c2)
        if schema.subclass:
            pieces.append(types.join(F.broadcast(sc_df), types["o_lex"] == sc_df["c1"])
                          .select(g.alias("g"), F.col("s"), F.lit(RDF_TYPE).alias("p"),
                                  F.col("c2").alias("o_lex"), *_null_object()))
        # rdfs7: rel(s,p1,o) & sp(p1,p2) => rel(s,p2,o)  (keeps literal shadows)
        if schema.subprop:
            stepped = delta.join(F.broadcast(sp_df), delta["p"] == sp_df["p1"])
            pieces.append(stepped.select(g.alias("g"), F.col("s"),
                                         F.col("p2").alias("p"), F.col("o_lex"),
                                         F.col("o_dt"), F.col("o_lang"),
                                         F.col("o_num"), F.col("o_ts")))
        # rdfs2: rel(s,p,o) & dom(p,c) => type(s,c)
        if schema.domain:
            pieces.append(delta.join(F.broadcast(dom_df), delta["p"] == dom_df["dp"])
                          .select(g.alias("g"), F.col("s"), F.lit(RDF_TYPE).alias("p"),
                                  F.col("dc").alias("o_lex"), *_null_object()))
        # rdfs3: rel(s,p,o) & rng(p,c) & o is IRI => type(o,c)
        if schema.range:
            pieces.append(iri_delta.join(F.broadcast(rng_df), iri_delta["p"] == rng_df["rp"])
                          .select(g.alias("g"), F.col("o_lex").alias("s"),
                                  F.lit(RDF_TYPE).alias("p"),
                                  F.col("rc").alias("o_lex"), *_null_object()))
        # rdfp8: rel(s,p1,o) & inv(p1,p2) => rel(o,p2,s) (IRI objects only)
        if schema.inverse:
            pieces.append(iri_delta.join(F.broadcast(inv_df), iri_delta["p"] == inv_df["ip1"])
                          .select(g.alias("g"), F.col("o_lex").alias("s"),
                                  F.col("ip2").alias("p"), F.col("s").alias("o_lex"),
                                  *_null_object()))
        # rdfp3: symmetric
        if schema.symmetric:
            sym = iri_delta.filter(F.col("p").isin(*schema.symmetric))
            pieces.append(sym.select(g.alias("g"), F.col("o_lex").alias("s"),
                                     F.col("p"), F.col("s").alias("o_lex"),
                                     *_null_object()))
        if schema.has_value:
            # rdfp14a: u p w (value matches, literal or IRI) => type(u, v)
            hits = delta.join(
                F.broadcast(hv_df),
                (delta["p"] == hv_df["hp"])
                & (delta["o_lex"] == hv_df["w_lex"])
                & delta["o_dt"].eqNullSafe(hv_df["w_dt"])
                & delta["o_lang"].eqNullSafe(hv_df["w_lang"]))
            pieces.append(hits.select(g.alias("g"), F.col("s"),
                                      F.lit(RDF_TYPE).alias("p"),
                                      F.col("hv").alias("o_lex"),
                                      *_null_object()))
            # rdfp14b: type(u, v) => u p w (carries the value's shadows)
            typed = types.join(F.broadcast(hv_df),
                               types["o_lex"] == hv_df["hv"])
            pieces.append(typed.select(g.alias("g"), F.col("s"),
                                       F.col("hp").alias("p"),
                                       F.col("w_lex").alias("o_lex"),
                                       F.col("w_dt").alias("o_dt"),
                                       F.col("w_lang").alias("o_lang"),
                                       F.col("w_num").alias("o_num"),
                                       F.col("w_ts").alias("o_ts")))
        if not pieces:
            # empty TBox: no rule can fire. FRESH LocalRelation, not
            # delta.filter(False) — reusing delta's attribute ids trips
            # Spark 4.1's Union constraint rewrite ("key not found: p#N")
            # when the caller unions this with other delta-derived pieces
            # and checkpoints (same hazard _pin documents)
            return spark.createDataFrame([], QUAD_SCHEMA).select(*QUAD_COLS)
        return _union(pieces).select(*QUAD_COLS)

    def step(delta: DataFrame, known: DataFrame,
             trans: DataFrame | None = None) -> DataFrame:
        new = apply_rules(delta)
        if trans is None:
            trans = _trans_step(delta, known, schema.transitive, graph)
        return _union([new, trans,
                       _functional_step(delta, known, schema, graph),
                       _restriction_step(spark, delta, known, schema, graph)])

    return step


def _anti_known(new: DataFrame, known: DataFrame) -> DataFrame:
    return (new.dropDuplicates(_KEY5)
            .join(known.select("s", "p", "o_lex").withColumnRenamed("s", "__ks")
                  .withColumnRenamed("p", "__kp").withColumnRenamed("o_lex", "__ko"),
                  (F.col("s") == F.col("__ks")) & (F.col("p") == F.col("__kp"))
                  & (F.col("o_lex") == F.col("__ko")), "left_anti"))


def _fixpoint(step, delta: DataFrame, known: DataFrame,
              first_trans: DataFrame | None = None,
              one_shot: bool = False) -> DataFrame | None:
    """The semi-naive loop of the closure and the increment: each round
    runs ``step`` on the previous round's new facts, keeps the facts whose
    (s, p, o_lex) ``known`` lacks, pins them, and stops when none are
    left. Returns the union of the pinned rounds, or None when the first
    round derives nothing new.

    ``first_trans`` is the first round's transitive piece (see
    :func:`_rule_step`). ``one_shot`` stops after the first round, for a
    rule set that is complete in one application.

    ``known`` grows as a LAZY union of pinned pieces (r11 opt, guide
    §2.4): re-pinning ``known ∪ new`` each round copied the whole known
    set every step — at cluster scale a full-store copy per round. Each
    piece is itself checkpointed, so scanning the union reads pinned
    blocks without recomputation."""
    inferred = None
    for i in range(MAX_ITERS):
        new = step(delta, known, first_trans if i == 0 else None)
        new = _anti_known(new, known).localCheckpoint()
        if new.isEmpty():
            return inferred
        inferred = new if inferred is None else inferred.unionByName(new)
        if one_shot:
            return inferred
        known = known.unionByName(new)
        delta = new
    raise RuntimeError(f"inference did not converge in {MAX_ITERS} iterations")


def _trans_step(delta: DataFrame, known: DataFrame, props, graph: str,
                both_sides: bool = False) -> DataFrame | None:
    """One transitive-chaining step: delta edges extend known chains on
    either side (semi-naive: only chains through the delta are
    recomputed).

    ``both_sides`` adds the over-delete accelerator: a deleted transitive
    edge's cone is known* ⋈ d ⋈ known*, and extending BOTH sides in one
    pass collapses the semi-naive loop from O(chain) to 2 iterations (the
    closure contains every sub-chain, so the one-hop-each-side join over
    the closure reaches every crossing pair)."""
    g = F.lit(graph)

    def edges(df: DataFrame, p: str, s: str, o: str) -> DataFrame:
        return df.filter((F.col("p") == p) & F.col("o_dt").isNull()) \
                 .select(F.col("s").alias(s), F.col("o_lex").alias(o))

    def quads(pairs: DataFrame, p: str) -> DataFrame:
        return pairs.select(g.alias("g"), "s", F.lit(p).alias("p"), "o_lex",
                            *_null_object()).select(*QUAD_COLS)

    steps, crossings = [], []
    for p in sorted(props):
        d, k = edges(delta, p, "ds", "do"), edges(known, p, "ks", "ko")
        fwd = d.join(k, F.col("do") == F.col("ks")).select(
            F.col("ds").alias("s"), F.col("ko").alias("o_lex"))
        bwd = k.join(d, F.col("ko") == F.col("ds")).select(
            F.col("ks").alias("s"), F.col("do").alias("o_lex"))
        steps.append(quads(fwd.unionByName(bwd).dropDuplicates(), p))
        if both_sides:
            d, k = edges(delta, p, "ds", "do"), edges(known, p, "ks", "ko")
            k2 = edges(known, p, "ks2", "ko2")
            crossings.append(quads(
                k.join(d, F.col("ko") == F.col("ds"))
                .join(k2, F.col("do") == F.col("ks2"))
                .select(F.col("ks").alias("s"), F.col("ko2").alias("o_lex")),
                p))
    return _union(steps + crossings)


def _functional_step(delta: DataFrame, known: DataFrame, schema: Schema,
                     graph: str) -> DataFrame | None:
    """rdfp1/rdfp2: functional / inverse-functional properties derive
    owl:sameAs between the colliding values (IRI terms only — literal
    identity is value equality, not sameAs). Like transitive chaining this
    is a delta×known rule: only pairs involving a delta fact are recomputed
    per iteration. Derived sameAs quads integrate through the engine's
    query-time sameAs expansion (B41), which also supplies symmetry/
    transitivity via connected components."""
    if not schema.functional and not schema.inv_functional:
        return None
    g = F.lit(graph)

    def quads_of(pairs: DataFrame) -> DataFrame:
        both = pairs.unionByName(pairs.select(
            F.col("o_lex").alias("s"), F.col("s").alias("o_lex")))
        return both.dropDuplicates().select(
            g.alias("g"), "s", F.lit(SAMEAS).alias("p"), "o_lex",
            *_null_object()).select(*QUAD_COLS)

    out = []
    # rdfp1 keys on the subject, rdfp2 on the object
    for props, key, val in ((schema.functional, "s", "o_lex"),
                            (schema.inv_functional, "o_lex", "s")):
        for p in sorted(props):
            d = delta.filter((F.col("p") == p) & F.col("o_dt").isNull()) \
                     .select(F.col(key).alias("dk"), F.col(val).alias("dv"))
            k = known.filter((F.col("p") == p) & F.col("o_dt").isNull()) \
                     .select(F.col(key).alias("kk"), F.col(val).alias("kv"))
            pairs = (d.join(k, F.col("dk") == F.col("kk"))
                     .filter(F.col("dv") != F.col("kv"))
                     .select(F.col("dv").alias("s"),
                             F.col("kv").alias("o_lex")))
            out.append(quads_of(pairs))
    return _union(out)


def _restriction_step(spark: SparkSession, delta: DataFrame, known: DataFrame,
                      schema: Schema, graph: str) -> DataFrame | None:
    """rdfp15/rdfp16 — the two-ABox-antecedent restriction rules, evaluated
    semi-naively (delta×known in both directions, like transitive chaining):

    * rdfp15: ``v someValuesFrom w ∧ v onProperty p ∧ u p x ∧ x type w``
      ⇒ ``u type v``
    * rdfp16: ``v allValuesFrom w ∧ v onProperty p ∧ u type v ∧ u p x``
      ⇒ ``x type w``

    The restriction tables are TBox-sized and broadcast; each rule is two
    broadcast joins + one equi-join keyed on the shared ABox term, so the
    big side shuffles once per iteration at most.
    """
    if not schema.some_values and not schema.all_values:
        return None
    g = F.lit(graph)

    def rels(df):
        return df.filter(F.col("o_dt").isNull()) \
                 .select(F.col("s").alias("u"), F.col("p").alias("rp"),
                         F.col("o_lex").alias("x"))

    def types(df):
        return df.filter(F.col("p") == RDF_TYPE) \
                 .select(F.col("s").alias("i"), F.col("o_lex").alias("c"))

    out = []
    # rdfp15 matches type(x, w) and derives type(u, v); rdfp16 matches
    # type(u, v) and derives type(x, w)
    for table, typed_i, typed_c, new_s, new_o in (
            (schema.some_values, "x", "w", "u", "v"),
            (schema.all_values, "u", "v", "x", "w")):
        if not table:
            continue
        tbl = spark.createDataFrame(table, "v string, vp string, w string")
        # delta rel × known types   +   known rels × delta types
        for rel_side, type_side in ((rels(delta), types(known)),
                                    (rels(known), types(delta))):
            cand = rel_side.join(F.broadcast(tbl),
                                 rel_side["rp"] == tbl["vp"])
            hit = cand.join(type_side, (cand[typed_i] == type_side["i"])
                            & (cand[typed_c] == type_side["c"]))
            out.append(hit.select(
                g.alias("g"), F.col(new_s).alias("s"),
                F.lit(RDF_TYPE).alias("p"), F.col(new_o).alias("o_lex"),
                *_null_object()).select(*QUAD_COLS))
    return _union(out)


def _index(pairs) -> dict:
    out: dict = {}
    for a, b in pairs:
        out.setdefault(a, set()).add(b)
    return out


def _driver_rule_step(schema: Schema):
    """The driver rule table: the delta×TBox rules (rdfs2/3/7/9,
    rdfp3/8/14a/14b) over the driver-closed TBox, as a generator
    ``step(fact, typed=None)`` of the facts one fact derives. Facts are
    ``(s, p, o_lex, o_dt, o_lang, o_num, o_ts)`` tuples.

    ``typed(s, c)``, when given, yields the caller's own derivations from
    ``type(s, c)`` right after rdfp14b. The rule order is fixed: a
    worklist keeps the first shadow variant of each (s, p, o_lex) key, so
    the order decides which one that is. The step is lazy, so a caller
    that records each fact as it is yielded sees it in ``typed``."""
    sc, sp = _index(schema.subclass), _index(schema.subprop)
    dom, rng = _index(schema.domain), _index(schema.range)
    inv, sym = _index(schema.inverse), schema.symmetric
    hv_by_pval: dict = {}   # (p, o_lex, o_dt, o_lang) -> {restriction v}
    hv_by_class: dict = {}  # v -> [(p, value-tuple)]
    for v, p, val in schema.has_value:
        hv_by_pval.setdefault((p, val[0], val[1], val[2]), set()).add(v)
        hv_by_class.setdefault(v, []).append((p, val))

    def step(fact, typed=None):
        s, p, o_lex, o_dt, o_lang = fact[:5]
        # rdfp14a: u p w (value match incl. literals) => type(u, v)
        for v in hv_by_pval.get((p, o_lex, o_dt, o_lang), ()):
            yield (s, RDF_TYPE, v) + _NULLS
        if p == RDF_TYPE:
            for c2 in sc.get(o_lex, ()):                    # rdfs9
                yield (s, RDF_TYPE, c2) + _NULLS
            # rdfp14b: type(u, v) & v hasValue w / onProperty p' => u p' w
            for hp, val in hv_by_class.get(o_lex, ()):
                yield (s, hp) + val
            if typed is not None:
                yield from typed(s, o_lex)
        for p2 in sp.get(p, ()):                            # rdfs7
            yield (s, p2) + fact[2:]                        # keeps shadows
        for c in dom.get(p, ()):                            # rdfs2
            yield (s, RDF_TYPE, c) + _NULLS
        if o_dt is None:                                    # IRI object
            for c in rng.get(p, ()):                        # rdfs3
                yield (o_lex, RDF_TYPE, c) + _NULLS
            for p2 in inv.get(p, ()):                       # rdfp8
                yield (o_lex, p2, s) + _NULLS
            if p in sym:                                    # rdfp3
                yield (o_lex, p, s) + _NULLS

    return step


#: below this quad count the whole forward-chaining fixpoint runs on the
#: driver — a semi-naive worklist over Python dicts. A Spark fixpoint over a
#: few thousand rows is pure job-scheduling overhead (the same adaptive
#: philosophy as paths.SMALL_GRAPH_EDGES and the engine's ENCODE_MIN_QUADS);
#: the distributed path below is for ABoxes that need it. The same bound
#: picks how a write maintains the closure (:func:`reclose_small`): a
#: post-write world under it is re-closed on the driver. Measured on 4 cores
#: for one store write at 5k quads: 2 Spark jobs for an insert, 4 for a
#: delete, where DRed or the increment ran 47-57 jobs at 5k and 47k quads.
SMALL_ABOX_QUADS = 50_000
#: safety valve: if the driver-side closure blows past this many inferred
#: facts (pathological transitive chains), abandon it and run distributed.
SMALL_ABOX_MAX_INFERRED = 2_000_000


def _closure_small_abox(spark: SparkSession, quads: DataFrame,
                        graph: str) -> DataFrame | None:
    """Driver-side OWL-Horst fixpoint for ABoxes under SMALL_ABOX_QUADS:
    collects ``quads`` (one Spark job) and closes them in a worklist.

    Semantically identical to the distributed fixpoint: same rule set, same
    newness key (s, p, o_lex) as :func:`_anti_known`, base facts seed the
    known set so re-derivations of asserted facts are not reported. Returns
    ``None`` if the inferred set exceeds SMALL_ABOX_MAX_INFERRED (caller
    falls back to the distributed path).
    """
    from collections import deque

    rows = quads.select(*QUAD_COLS).collect()
    sch = Schema(tbox_rows=[
        r for r in rows
        if _is_tbox(r["p"], r["o_lex"])
        and (r["o_dt"] is None or r["p"] == HAS_VALUE)])
    rule_step = _driver_rule_step(sch)
    trans_fwd: dict = {p: {} for p in sch.transitive}
    trans_bwd: dict = {p: {} for p in sch.transitive}
    func_vals: dict = {p: {} for p in sch.functional}      # p -> s -> {o}
    invfunc_subjs: dict = {p: {} for p in sch.inv_functional}  # p -> o -> {s}
    # restriction-rule indexes (rdfp15/16)
    sv_by_prop: dict = {}   # p -> [(v, w)]
    sv_by_class: dict = {}  # w -> [(v, p)]
    for v, p, w in sch.some_values:
        sv_by_prop.setdefault(p, []).append((v, w))
        sv_by_class.setdefault(w, []).append((v, p))
    av_by_class: dict = {}  # v -> [(p, w)]
    av_by_prop: dict = {}   # p -> [(v, w)]
    for v, p, w in sch.all_values:
        av_by_class.setdefault(v, []).append((p, w))
        av_by_prop.setdefault(p, []).append((v, w))
    rest_props = set(sv_by_prop) | set(av_by_prop)
    prop_fwd: dict = {p: {} for p in rest_props}  # p -> u -> {x}
    prop_bwd: dict = {p: {} for p in rest_props}  # p -> x -> {u}
    types_of: dict = {}                           # node -> {class}

    known: set = set()
    inferred: list = []
    queue: deque = deque()

    def add(fact, base=False):
        key = fact[:3]
        if key in known:
            return
        known.add(key)
        queue.append(fact)
        if not base:
            inferred.append(fact)
        s, p, o_lex, o_dt = fact[0], fact[1], fact[2], fact[3]
        if o_dt is None and p in trans_fwd:
            trans_fwd[p].setdefault(s, set()).add(o_lex)
            trans_bwd[p].setdefault(o_lex, set()).add(s)
        if o_dt is None and p in func_vals:
            func_vals[p].setdefault(s, set()).add(o_lex)
        if o_dt is None and p in invfunc_subjs:
            invfunc_subjs[p].setdefault(o_lex, set()).add(s)
        if o_dt is None and p == RDF_TYPE:
            types_of.setdefault(s, set()).add(o_lex)
        if o_dt is None and p in prop_fwd:
            prop_fwd[p].setdefault(s, set()).add(o_lex)
            prop_bwd[p].setdefault(o_lex, set()).add(s)

    def typed(s, c):
        # rdfp15 (type side): x type w closes u p x chains into type(u,v)
        for v, sp2 in sv_by_class.get(c, ()):
            for u in prop_bwd.get(sp2, {}).get(s, ()):
                yield (u, RDF_TYPE, v) + _NULLS
        # rdfp16 (type side): u type v pushes w onto every u p x
        for ap, w in av_by_class.get(c, ()):
            for x in prop_fwd.get(ap, {}).get(s, ()):
                yield (x, RDF_TYPE, w) + _NULLS

    for r in rows:
        add((r["s"], r["p"], r["o_lex"], r["o_dt"], r["o_lang"],
             r["o_num"], r["o_ts"]), base=True)

    while queue:
        if len(inferred) > SMALL_ABOX_MAX_INFERRED:
            return None
        fact = queue.popleft()
        for derived in rule_step(fact, typed):
            add(derived)
        s, p, o_lex, o_dt = fact[:4]
        if o_dt is not None:
            continue
        # rdfp4: chain through the current closure on both sides
        if p in trans_fwd:
            for x in list(trans_fwd[p].get(o_lex, ())):
                add((s, p, x) + _NULLS)
            for y in list(trans_bwd[p].get(s, ())):
                add((y, p, o_lex) + _NULLS)
        # rdfp1: functional — colliding values are sameAs
        if p in func_vals:
            for other in list(func_vals[p].get(s, ())):
                if other != o_lex:
                    add((o_lex, SAMEAS, other) + _NULLS)
                    add((other, SAMEAS, o_lex) + _NULLS)
        # rdfp2: inverse-functional — colliding subjects are sameAs
        if p in invfunc_subjs:
            for other in list(invfunc_subjs[p].get(o_lex, ())):
                if other != s:
                    add((s, SAMEAS, other) + _NULLS)
                    add((other, SAMEAS, s) + _NULLS)
        # rdfp15 (rel side): u p x & x type w => type(u, v)
        if p in sv_by_prop:
            for v, w in sv_by_prop[p]:
                if w in types_of.get(o_lex, ()):
                    add((s, RDF_TYPE, v) + _NULLS)
        # rdfp16 (rel side): u p x & u type v => type(x, w)
        if p in av_by_prop:
            for v, w in av_by_prop[p]:
                if v in types_of.get(s, ()):
                    add((o_lex, RDF_TYPE, w) + _NULLS)

    out_rows = [(graph,) + f for f in inferred]
    return spark.createDataFrame(out_rows, QUAD_SCHEMA) if out_rows \
        else spark.createDataFrame([], QUAD_SCHEMA)


def owl_horst_closure(spark: SparkSession, quads: DataFrame,
                      graph: str = INFERRED_GRAPH) -> DataFrame:
    """Materialize the OWL-Horst-subset closure; returns ONLY inferred quads.

    Queries then read ``quads ∪ inferred`` (SURVEY §1.4 'quads_inferred').
    """
    # one size probe serves both choices below. It reads no columns, so it
    # moves only empty rows: collecting full rows to learn "too big" hauled
    # 50k rows to the driver on every distributed materialization.
    sized = driver_rows(quads.select(), SMALL_PARTS_ROWS)
    n_probe = len(sized) if sized is not None else SMALL_PARTS_ROWS + 1
    if n_probe <= SMALL_ABOX_QUADS:
        small = _closure_small_abox(spark, quads, graph)
        if small is not None:
            return small
    with _no_constraint_propagation(spark):
        return _closure_body(spark, quads, graph, n_probe)


def reclose_small(spark: SparkSession, world: DataFrame) -> DataFrame | None:
    """The closure of a post-write ``world`` re-computed from scratch on
    the driver when the world fits SMALL_ABOX_QUADS; ``None`` above the
    bound, or when the driver worklist overflows SMALL_ABOX_MAX_INFERRED.
    On ``None`` the caller maintains the closure with
    :func:`owl_horst_increment` or :func:`owl_horst_decrement`. Under the
    bound a re-closure is two Spark jobs (the size probe, which reads no
    columns, and the collect), where DRed and the increment run distributed
    loops whenever the TBox has a transitive, functional or restriction
    property. The result is left unpinned: a pin cost each write more than
    it saved the reads after it."""
    if driver_rows(world.select(), SMALL_ABOX_QUADS) is None:
        return None
    return _closure_small_abox(spark, world, INFERRED_GRAPH)


def _closure_body(spark: SparkSession, quads: DataFrame,
                  graph: str, n_probe: int) -> DataFrame:
    schema = Schema(quads)
    g = F.lit(graph)

    # transitive properties: closure per property via the path engine
    trans_pieces: list[DataFrame] = []
    if schema.transitive:
        for p in sorted(schema.transitive):
            closed = transitive_closure(_link(quads, p, None))
            trans_pieces.append(closed.select(
                g.alias("g"), F.col("s"), F.lit(p).alias("p"),
                F.col("o__lex").alias("o_lex"), F.col("o__dt").alias("o_dt"),
                F.col("o__lang").alias("o_lang"), F.col("o__num").alias("o_num"),
                F.col("o__ts").alias("o_ts")))

    # small ABoxes don't amortize wide shuffles per iteration; the entry
    # probe sized the base, so it is checkpointed once
    known = quads.select(*QUAD_COLS)
    if n_probe < SMALL_PARTS_ROWS:
        known = known.repartition(4)
    known = known.localCheckpoint()
    # One-shot fixpoint (r12 opt): when the only rules are rdfs2/3/7/9
    # over the driver-CLOSED subclass/subprop relations — no transitive /
    # functional / restriction / inverse / symmetric / hasValue machinery,
    # and rdf:type itself is not a subproperty source or target and has no
    # domain or range (rdfs2/3 would fire again on derived types) — every
    # derivation normal-forms to base →(sp*) rel →(dom/rng) type →(sc*)
    # type. Pre-composing domain/range across sp* and sc* on the driver
    # makes ONE rule application complete, so the confirm iteration (a
    # full re-derivation that learns "nothing new") is skipped. Verified
    # by the inference fuzzers (materialize-vs-reference) and the W3C
    # entailment suite.
    one_shot = (_driver_cone_rules_ok(schema) and not schema.inverse
                and not schema.symmetric and not schema.has_value
                and RDF_TYPE not in {a for a, _ in schema.subprop}
                and RDF_TYPE not in {b for _, b in schema.subprop}
                and RDF_TYPE not in {p for p, _ in schema.domain}
                and RDF_TYPE not in {p for p, _ in schema.range})
    if one_shot and (schema.domain or schema.range):
        def _compose(tbl):
            # p1 ⊑* p2 fires p2's domain/range on p1-facts …
            eff = set(tbl)
            eff |= {(p1, c) for (p1, p2) in schema.subprop
                    for (p, c) in tbl if p == p2}
            # … and an emitted type(x, c) implies every sc*-supertype
            eff |= {(p, c2) for (p, c) in eff
                    for (c1, c2) in schema.subclass if c1 == c}
            return eff
        import copy as _copy
        schema = _copy.copy(schema)
        schema.domain = _compose(schema.domain)
        schema.range = _compose(schema.range)

    # rdfp4 completeness: the first round chains with the path-engine
    # closures; later rounds chain transitive-property edges DERIVED during
    # the fixpoint (via subPropertyOf/inverseOf/symmetry) semi-naively
    inferred = _fixpoint(_rule_step(spark, schema, graph), known, known,
                         first_trans=_union(trans_pieces), one_shot=one_shot)
    if inferred is None:
        return spark.createDataFrame([], quads.schema).select(*QUAD_COLS)
    # Pin the final closure (r11 opt, guide §5): the result used to escape
    # as a lazy dropDuplicates over the iteration checkpoints, so EVERY
    # later reader (each query over df_with_inference, every DRed scan of
    # `inferred`) re-ran that shuffle. One materialization here, memory
    # scans everywhere after.
    return inferred.dropDuplicates(_KEY5).localCheckpoint()


def owl_horst_increment(spark: SparkSession, base: DataFrame,
                        inferred: DataFrame, delta: DataFrame,
                        graph: str = INFERRED_GRAPH) -> DataFrame | None:
    """Incremental closure maintenance for a streaming ABox delta (EP2
    parity: the reference appends statements + incremental inference,
    SURVEY §3 EP2 step 3).

    Returns the NEW inferred quads derivable from ``delta`` against the
    existing ``base ∪ inferred`` closure, or ``None`` when the delta touches
    the TBox (schema change ⇒ caller re-materializes from scratch — the
    standard practical compromise; rules may invalidate, not just extend).
    Work per micro-batch is proportional to the delta's consequences, never
    to the full ABox.
    """
    if _touches_tbox(delta):
        return None
    with _no_constraint_propagation(spark):
        return _increment_body(spark, base, inferred, delta, graph)


def _increment_body(spark: SparkSession, base: DataFrame,
                    inferred: DataFrame, delta: DataFrame,
                    graph: str) -> DataFrame | None:
    known = base.select(*QUAD_COLS)
    if inferred is not None:
        known = known.unionByName(inferred.select(*QUAD_COLS))
    schema = Schema(known)
    d = delta.select(*QUAD_COLS).localCheckpoint()
    # the delta facts are part of the known world (delta×delta chains must
    # resolve, and delta facts themselves are base data, not inferences);
    # the base world stays lazy
    return _fixpoint(_rule_step(spark, schema, graph), d,
                     known.unionByName(d))


def _anti_known_bigside(new: DataFrame, known: DataFrame) -> DataFrame:
    """`new` is SMALL, `known` is BIG: plain left_anti would sort-merge
    the big side — probe `known` with the broadcast keys instead, then
    broadcast-anti the (small) present set. Two scans of `known`'s plan,
    zero shuffles of it."""
    new = new.dropDuplicates(_KEY5).localCheckpoint()
    keys = new.select("s", "p", "o_lex").dropDuplicates()
    # pres has exactly ONE consumer (the broadcast build of the anti join
    # below) — no checkpoint needed; it computes inline as that join's
    # build stage (r12 opt: the eager pin here cost ~4 jobs per decrement)
    pres = (known.select("s", "p", "o_lex")
            .join(F.broadcast(keys), ["s", "p", "o_lex"], "left_semi")
            .dropDuplicates()
            .select(F.col("s").alias("__ks"), F.col("p").alias("__kp"),
                    F.col("o_lex").alias("__ko")))
    return new.join(
        F.broadcast(pres),
        (F.col("s") == F.col("__ks")) & (F.col("p") == F.col("__kp"))
        & (F.col("o_lex") == F.col("__ko")), "left_anti")


def owl_horst_decrement(spark: SparkSession, base_after: DataFrame,
                        inferred: DataFrame, deleted: DataFrame,
                        graph: str = INFERRED_GRAPH,
                        deleted_pinned: bool = False) -> DataFrame | None:
    """DRed (delete/re-derive) maintenance of the closure after an ABox
    deletion (r8, VERDICT item 3: full re-materialization is the dominant
    update cost at 100× ABox).

    1. **Over-delete**: the semi-naive fixpoint of "consequences with at
       least one premise in the deleted set" against the OLD world —
       work proportional to the deleted facts' consequence cone, never
       the full ABox.
    2. **Re-derive**: over-deleted facts still derivable from the
       surviving world come back. One bounded step (every Horst premise
       shares a term with its conclusion, so candidate premises are the
       semi-join of the surviving world against the over-deleted terms),
       then the existing :func:`owl_horst_increment` propagates chains.

    Returns the new inferred frame, or ``None`` when the deletion touches
    the TBox (schema shrink can invalidate rule instances globally — the
    caller re-materializes, the same compromise as the insert path).
    GraphDB-parity note: a deleted EXPLICIT statement that is still
    derivable from the surviving facts re-appears as inferred (smooth
    delete), which this reproduces because re-derivation is checked
    against the post-delete world, not restricted to old inferences.
    """
    # Pin the deleted set ONCE up front (r11 opt): callers pass a lazy
    # anti-join ("triples whose last copy went away"); the TBox probe, the
    # body's delta seed and the re-derive `removed` union all scan it —
    # unpinned, the anti-join re-ran for each. Callers that already pinned
    # it (the store's delete path) say so and skip the re-checkpoint.
    if not deleted_pinned:
        deleted = deleted.select(*QUAD_COLS).localCheckpoint()
    # Bounded driver view of the deleted triples (r12 opt): while the
    # deletion fits DRED_TERMS_BOUND, the TBox probe is a Python check over
    # the collected rows (replacing a distributed isEmpty job) and the rows
    # seed the driver-side cone fixpoint in _decrement_body. Above the
    # bound, the distributed probe + loop run exactly as before.
    d_rows = driver_rows(deleted.select(*QUAD_COLS[1:]), DRED_TERMS_BOUND)
    if d_rows is not None:
        d_rows = [tuple(r) for r in d_rows]
    if _touches_tbox(deleted, d_rows):
        return None
    with _no_constraint_propagation(spark):
        return _decrement_body(spark, base_after, inferred, deleted, graph,
                               d_rows)


def _driver_cone_rules_ok(schema: Schema) -> bool:
    """True when every rule the over-delete fixpoint can fire is a pure
    delta×TBox rule (rdfs2/3/7/9, rdfp3/8/14a/14b) — i.e. computable on the
    driver from the deleted rows and the driver-closed schema alone. The
    transitive / functional / restriction (rdfp15/16) steps join the delta
    against the KNOWN world, so their presence keeps the distributed loop."""
    return not (schema.transitive or schema.functional
                or schema.inv_functional or schema.some_values
                or schema.all_values)


def _driver_cone(schema: Schema, seed_rows, bound: int):
    """Driver-side over-delete cone (r12 opt, VERDICT r11 item 4): the set
    of facts derivable from the deleted seed by :func:`_driver_rule_step`,
    the rules :func:`_driver_cone_rules_ok` admits. Because
    ``schema.subclass`` / ``subprop`` are transitively closed, the
    fixpoint depth is the RULE INTERACTION depth (typically 1-2), not the
    hierarchy depth, and it runs in Python sets — zero Spark jobs. The
    caller probes the closure ONCE with the final key set.

    Sound over-approximation: propagation follows the true derivation
    chain (exact shadow variants), including through facts that happen to
    be base-asserted; anything over-deleted beyond the true cone is
    restored by the re-derive pass, which is complete for every removed
    fact (each premise shares a term with its conclusion). Returns None
    when the cone outgrows ``bound`` (fall back to the distributed loop).
    """
    step = _driver_rule_step(schema)
    facts = set(seed_rows)
    frontier = list(facts)
    derived: set = set()
    while frontier:
        new = []
        for f in frontier:
            for gf in step(f):
                if gf not in facts:
                    facts.add(gf)
                    derived.add(gf)
                    new.append(gf)
                    if len(facts) > bound:
                        return None
        frontier = new
    return derived


def _decrement_body(spark: SparkSession, base_after: DataFrame,
                    inferred: DataFrame, deleted: DataFrame,
                    graph: str, d_rows=None) -> DataFrame:
    inferred = (inferred.select(*QUAD_COLS) if inferred is not None
                else spark.createDataFrame([], base_after.schema)
                .select(*QUAD_COLS))
    base_after = base_after.select(*QUAD_COLS)
    d = deleted.select(*QUAD_COLS)      # pinned by owl_horst_decrement
    # NOTE: no lazy checkpoint on the unions here — Spark's Union
    # constraint rewrite hits "key not found" on lazily-checkpointed
    # union members (observed on 4.1); the members are checkpointed
    old_known = base_after.unionByName(inferred).unionByName(d)
    schema = Schema(old_known)          # TBox unchanged by this delete
    step = _rule_step(spark, schema, graph)

    def one_step(delta: DataFrame, known: DataFrame,
                 both_sides: bool = False) -> DataFrame:
        trans = (_trans_step(delta, known, schema.transitive, graph,
                             both_sides=True) if both_sides else None)
        return step(delta, known, trans).dropDuplicates(_KEY5)

    # ---- 1. over-delete fixpoint (cone of the deleted premises).
    # `over` accumulates as a LAZY union of pinned pieces (r11 opt,
    # guide §2.4): the old _pin(over.unionByName(cons)) re-materialized
    # the whole over-delete set every iteration. The per-iteration cone
    # KEYS are tiny (bounded by the deletion's consequence cone), so they
    # are held as a DRIVER set while they fit DRED_TERMS_BOUND (r11 opt):
    # the convergence subtraction and emptiness test become Python set
    # ops — zero Spark jobs — and the closure probe gets its broadcast
    # keys from a LocalRelation. Overflow degrades to the distributed
    # key-frame shape (checkpoint + anti-join), which is the right plan
    # for a genuinely huge cone.
    # Driver cone fast path (r12 opt): when the deleted rows are driver-
    # resident and every applicable rule is delta×TBox, the whole fixpoint
    # runs in Python sets and the closure is probed ONCE with the final
    # key set — 1 probe + 1 pin instead of ~3 jobs × iteration.
    cone = None
    if d_rows is not None and _driver_cone_rules_ok(schema):
        cone = _driver_cone(schema, d_rows, DRED_TERMS_BOUND)
    if cone is not None:
        over = None
        keys = sorted({f[:3] for f in cone})
        if keys:
            ck = spark.createDataFrame(keys,
                                       "s string, p string, o_lex string")
            cons = inferred.join(F.broadcast(ck), ["s", "p", "o_lex"],
                                 "left_semi").localCheckpoint()
            if not cons.isEmpty():
                over = cons
        return _rederive(spark, base_after, inferred, deleted, graph,
                         one_step, over, cone_rows=cone, d_rows=d_rows)

    over = None
    over_keys: set | None = set()
    for _ in range(MAX_ITERS):
        cons = one_step(d, old_known, both_sides=True)
        # only INFERRED facts can be over-deleted. The cone is small and
        # the closure is big: probe the closure with the broadcast cone
        # keys (a small-left left_semi against a big right would
        # sort-merge the whole closure — measured 3x the wall)
        ck = cons.select("s", "p", "o_lex").dropDuplicates()
        if over_keys is not None:
            head = driver_rows(ck, DRED_TERMS_BOUND)
            if head is not None:
                fresh = sorted({(r["s"], r["p"], r["o_lex"])
                                for r in head} - over_keys)
                if not fresh:
                    break
                over_keys.update(fresh)
                ck = spark.createDataFrame(
                    fresh, "s string, p string, o_lex string")
            else:
                over_keys = None        # cone outgrew the driver bound
        if over_keys is None:
            if over is not None:
                # subtract already-over-deleted keys BEFORE the closure
                # probe: the convergence iteration then terminates on the
                # (tiny, checkpointed) key set without rescanning the full
                # closure (r9 profile: the confirm iteration cost a
                # 540k-row semi scan + checkpoint, ~2 s, to learn
                # "nothing new")
                ck = _anti_known(
                    ck.withColumns({"o_dt": F.lit(None).cast("string"),
                                    "o_lang": F.lit(None).cast("string")}),
                    over).select("s", "p", "o_lex")
            ck = ck.localCheckpoint()
            if ck.isEmpty():
                break
        cons = inferred.join(F.broadcast(ck), ["s", "p", "o_lex"],
                             "left_semi").localCheckpoint()
        if cons.isEmpty():
            break
        over = cons if over is None else over.unionByName(cons)
        d = cons
    else:
        raise RuntimeError(
            f"DRed over-delete did not converge in {MAX_ITERS} iterations")
    return _rederive(spark, base_after, inferred, deleted, graph,
                     one_step, over)


def _rederive(spark: SparkSession, base_after: DataFrame,
              inferred: DataFrame, deleted: DataFrame, graph: str,
              one_step, over: DataFrame | None,
              cone_rows=None, d_rows=None) -> DataFrame:
    if over is None:
        remaining = inferred
    else:
        # LAZY on purpose: `over` is a pinned handful of rows, so the
        # anti-join is a broadcast filter each reader pays in microseconds
        # — re-materializing the full closure here made DRed cost as much
        # as re-materialization (measured r8). The store bounds lineage
        # depth by re-pinning after a few decrements (pin_inference).
        remaining = _anti_known(inferred, over)
    new_known = base_after.unionByName(remaining)

    # ---- 2. re-derive: candidate premises share a term with a removed
    # fact (true for every Horst rule), so the first step is bounded by
    # the removed facts' neighborhood, not the ABox. The seed includes the
    # DELETED base facts themselves — a deleted explicit statement still
    # derivable from the survivors re-appears as inferred (smooth delete)
    removed = (deleted.select(*QUAD_COLS) if over is None
               else over.unionByName(deleted.select(*QUAD_COLS)))
    # Per-rule analysis of which candidate premises can restore a removed
    # fact (one premise from `cand`, the other from `known` — the rule
    # steps are all delta×known): the premise either SHARES A SUBJECT /
    # OBJECT-IS one of the removed terms... but an object-side match is
    # only ever needed against the removed fact's SUBJECT (rdfs3 range,
    # functional-sameAs), never its object. Filtering the o side on all
    # removed terms would pull in every instance of a removed TYPE's
    # class — the whole ABox for high-degree classes (measured: DRed
    # slower than re-materialization). Subject-side matches may need any
    # removed term (symmetric/inverse conclusions flip s and o).
    # Driver term shortcut (r12 opt): on the driver-cone path the removed
    # vocabulary is already in memory — `over` rows are cone-keyed inferred
    # facts, so their subjects/objects are covered by the cone rows' terms
    # (a superset when some cone keys matched nothing; supersets only widen
    # `cand`, and re-derive stays complete). Zero jobs instead of two
    # driver collects.
    if cone_rows is not None:
        drows = list(cone_rows) + list(d_rows or [])
        s_terms = sorted({f[0] for f in drows})
        all_terms = sorted({t for f in drows for t in (f[0], f[2])})
        cand = new_known.filter(
            F.col("s").isin(all_terms)
            | (F.col("o_lex").isin(s_terms) if s_terms else F.lit(False)))
        cand = _pin(cand)
        return _rederive_tail(spark, base_after, remaining, new_known,
                              cand, graph, one_step)
    terms = (removed.select(F.col("s").alias("t"))
             .unionByName(removed.filter(F.col("o_dt").isNull())
                          .select(F.col("o_lex").alias("t")))
             .dropDuplicates())
    # Bounded driver fast path (r11 opt, guide §6 predicate pushdown): the
    # removed-term set is usually tiny (it is the deletion's consequence
    # cone's vocabulary). When it fits a driver bound, the candidate scan
    # is ONE pass over the world with two InSet predicates — pushdown-
    # friendly at the parquet scan — instead of two full semi-join scans
    # plus a 6-column dropDuplicates shuffle. Over the bound, the original
    # broadcast semi-join shape runs (still never a sort-merge: the
    # removed-term keys are broadcast — r9 profile: 7.0 s -> sub-second).
    # The subject-term list rides on the SAME collect as the full term
    # list via an is-subject flag (r12 opt: was a second collect job).
    t_rows = driver_rows(
        removed.select(F.col("s").alias("t"), F.lit(1).alias("is_s"))
        .unionByName(removed.filter(F.col("o_dt").isNull())
                     .select(F.col("o_lex").alias("t"),
                             F.lit(0).alias("is_s")))
        .groupBy("t").agg(F.max("is_s").alias("is_s")),
        DRED_TERMS_BOUND)
    if t_rows is not None:
        all_terms = [r["t"] for r in t_rows]
        s_terms = [r["t"] for r in t_rows if r["is_s"] == 1]
        cand = new_known.filter(
            F.col("s").isin(all_terms)
            | (F.col("o_lex").isin(s_terms) if s_terms else F.lit(False)))
    else:
        subj_terms = removed.select(F.col("s").alias("t")).dropDuplicates()
        cand = new_known.join(F.broadcast(terms), F.col("s") == F.col("t"),
                              "left_semi") \
            .unionByName(new_known.join(F.broadcast(subj_terms),
                                        F.col("o_lex") == F.col("t"),
                                        "left_semi")) \
            .dropDuplicates(["g", "s", "p", "o_lex", "o_dt", "o_lang"])
    # PIN the candidate set before fanning it into the rule union: every
    # rule branch of one_step references `cand`, and an unpinned cand
    # re-computes its two semi-joins over the FULL new_known per branch —
    # ~20 world rescans for a handful of candidate rows (r9 profile:
    # 15.2 s of the 19.5 s decrement; 2.6 s after the pin)
    cand = _pin(cand)
    return _rederive_tail(spark, base_after, remaining, new_known, cand,
                          graph, one_step)


def _rederive_tail(spark: SparkSession, base_after: DataFrame,
                   remaining: DataFrame, new_known: DataFrame,
                   cand: DataFrame, graph: str, one_step) -> DataFrame:
    restored = _pin(_anti_known_bigside(one_step(cand, new_known),
                                        new_known))
    if restored.isEmpty():
        return remaining
    out = remaining.unionByName(restored)
    # restored facts may support further restorations — standard increment
    more = owl_horst_increment(spark, base_after, out, restored, graph)
    if more is not None and not more.isEmpty():
        out = out.unionByName(
            _anti_known(more, base_after.unionByName(out)))
    return _pin(out.dropDuplicates(_KEY5))


def pin_inference(spark: SparkSession, df: DataFrame) -> DataFrame:
    """:func:`_pin` an inferred frame with constraint propagation off
    (same Spark 4.1 Union-rewrite hazard as inside the decrement — the
    frame may be a stack of anti-joins over checkpointed members)."""
    with _no_constraint_propagation(spark):
        return _pin(df)


def expand_sameas(quads: DataFrame, comp: DataFrame) -> DataFrame:
    """owl:sameAs expansion on read (B41 → query answering; reference:
    ``owlim:disable-sameAs "false"``, repo-config.ttl:45 — GraphDB answers
    queries over the sameAs-merged graph, enumerating every equivalent IRI).

    ``comp`` is the (term, canon) equivalence dictionary from
    :func:`sameas_components`. Every quad becomes visible with its subject /
    IRI-object replaced by EACH member of the respective equivalence class
    (identity included); terms outside any class pass through untouched.
    Output is deduplicated (RDF set semantics — two members may assert the
    same triple).

    Scale shape: two equi-joins against the class dictionary per position
    (broadcast when cliques are small — the usual case) + one dedup shuffle;
    expansion factor is bounded by clique size, never all-pairs.
    """
    mem = comp.select(F.col("canon").alias("__c"), F.col("term").alias("__m"))

    s_map = comp.select(F.col("term").alias("s"), F.col("canon").alias("__c"))
    touched = (quads.join(s_map, "s").join(mem, "__c")
               .withColumn("s", F.col("__m")).drop("__c", "__m"))
    untouched = quads.join(s_map.select("s"), "s", "left_anti")
    q2 = touched.select(*QUAD_COLS).unionByName(untouched.select(*QUAD_COLS))

    o_map = comp.select(F.col("term").alias("o_lex"), F.col("canon").alias("__c"))
    iris = q2.filter(F.col("o_dt").isNull())
    lits = q2.filter(F.col("o_dt").isNotNull())
    o_touched = (iris.join(o_map, "o_lex").join(mem, "__c")
                 .withColumn("o_lex", F.col("__m")).drop("__c", "__m"))
    o_untouched = iris.join(o_map.select("o_lex"), "o_lex", "left_anti")
    out = (o_touched.select(*QUAD_COLS)
           .unionByName(o_untouched.select(*QUAD_COLS))
           .unionByName(lits.select(*QUAD_COLS)))
    return out.dropDuplicates(["g", "s", "p", "o_lex", "o_dt", "o_lang"])


#: iteration count of the last sameas_components run (observability for
#: the bounded-latency incremental-maintenance tests only: concurrent
#: callers overwrite it, so no path decision reads it)
LAST_CC_ITERS = 0


#: driver fast-path bound for sameAs connected components: below this many
#: (symmetrized) edges a union-find on the driver replaces the Pregel
#: fixpoint — same dictionary, ~20 Spark jobs fewer. Same pattern and
#: justification as paths.SMALL_GRAPH_EDGES: the collect is bounded by the
#: probe, and the distributed fixpoint remains the ONLY path above the
#: bound (100 TB sameAs sets never hit the driver). Added r10: the B42
#: commit gate runs consistency_violations per checked update, and the
#: fixpoint dominated its latency on small stores (~20 s -> ~5 s).
SMALL_CC_EDGES = 2000


def sameas_components(spark: SparkSession, quads: DataFrame,
                      seed: DataFrame | None = None,
                      small_path: bool = True) -> DataFrame:
    """owl:sameAs equivalence classes via iterative min-label propagation.

    Returns ``(term STRING, canon STRING)`` — the canonical-id dictionary
    (B41); expand-on-read joins against it. Classic Pregel connected
    components: each node adopts the min canonical id among itself and its
    neighbours until fixpoint.

    ``seed`` (incremental maintenance, VERDICT r4 item 7): the previous
    (term, canon) dictionary. Its classes are injected as STAR edges
    (member ↔ old canon) and its labels seed the propagation, so an
    append-only delta that merges existing classes converges in O(1)
    iterations (≈3: bridge endpoint → old canon → rest of the class via
    the star) instead of re-walking the component diameter per micro-batch.
    Only valid for append-only transitions — a sameAs DELETE can split a
    class, which seeding would keep merged (callers rebuild from scratch
    after destructive ops)."""
    global LAST_CC_ITERS
    comp, LAST_CC_ITERS = _sameas_labels(spark, quads, seed, small_path)
    return comp


def _min_label_classes(edges) -> dict:
    """Union-find over ``(a, b)`` edges: ``{canon: [members]}``, each
    class labelled by its least member — the label the distributed
    min-label fixpoint converges to."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp: dict = {}
    for x in parent:
        comp.setdefault(find(x), []).append(x)
    return {min(mem): mem for mem in comp.values()}


def _sameas_labels(spark: SparkSession, quads: DataFrame,
                   seed: DataFrame | None = None,
                   small_path: bool = True) -> tuple[DataFrame, int]:
    """:func:`sameas_components` plus its fixpoint iteration count, 0 when
    the driver union-find answered."""
    edges = (quads.filter((F.col("p") == SAMEAS) & F.col("o_dt").isNull())
             .select(F.col("s").alias("a"), F.col("o_lex").alias("b")))
    if seed is not None:
        star = seed.filter(F.col("term") != F.col("canon")) \
                   .select(F.col("term").alias("a"), F.col("canon").alias("b"))
        edges = edges.unionByName(star)
    edges = edges.unionByName(edges.select(F.col("b").alias("a"),
                                           F.col("a").alias("b"))) \
                 .dropDuplicates()
    if small_path:
        # probe + fetch in ONE bounded job: None means the graph is big —
        # fall through to the checkpointed fixpoint
        rows = driver_rows(edges, SMALL_CC_EDGES)
        if rows is not None:
            classes = _min_label_classes((r["a"], r["b"]) for r in rows)
            out = [(m, c) for c, mem in classes.items() for m in mem]
            return spark.createDataFrame(out, "term string, canon string"), 0
    edges = edges.localCheckpoint()   # pin: re-read every fixpoint iter
    labels = (edges.select(F.col("a").alias("term"))
              .dropDuplicates()
              .withColumn("canon", F.col("term")))
    if seed is not None:
        labels = (labels.drop("canon")
                  .join(seed.withColumnRenamed("canon", "__seed"),
                        "term", "left_outer")
                  .select("term", F.coalesce(F.col("__seed"), F.col("term"))
                          .alias("canon")))
    for i in range(MAX_ITERS):
        neigh = (edges.join(labels, edges["b"] == labels["term"])
                 .groupBy(F.col("a").alias("term"))
                 .agg(F.min("canon").alias("ncanon")))
        merged = (labels.join(neigh, "term", "left_outer")
                  .select("term", F.least(F.col("canon"), F.coalesce(F.col("ncanon"), F.col("canon")))
                          .alias("canon")))
        merged = merged.localCheckpoint()
        changed = (merged.alias("m").join(labels.alias("l"), "term")
                   .filter(F.col("m.canon") != F.col("l.canon")))
        if changed.isEmpty():
            return merged, i + 1
        labels = merged
    raise RuntimeError("sameAs components did not converge")


# --------------------------------------------------------------------------
# B42 — consistency checking
# --------------------------------------------------------------------------

DIFFERENT = OWL + "differentFrom"
DISJOINT = OWL + "disjointWith"
COMPLEMENT = OWL + "complementOf"
NOTHING = OWL + "Nothing"
DISTINCT_MEMBERS = OWL + "distinctMembers"
_RDF = RDF_TYPE.rsplit("#", 1)[0] + "#"
RDF_FIRST = _RDF + "first"
RDF_REST = _RDF + "rest"
RDF_NIL = _RDF + "nil"


#: sameAs canon dictionaries of at most this many rows are broadcast into
#: the consistency checks' canonize joins; larger ones shuffle-join.
CANON_BROADCAST_BOUND = 100_000


def _canon_fn(spark: SparkSession, quads: DataFrame):
    """sameAs canon dictionary + a column canonizer over it (shared by the
    full and delta consistency checks). The dictionary is pinned and, when
    bounded, BROADCAST into every canonize join — the frames being
    canonized (the full type slice) are the scale-bearing side; shuffling
    them to meet a dictionary of a few thousand sameAs members would
    invert the join. An over-bound dictionary falls back to a shuffle
    join, which is then the right plan."""
    canon, iters = _sameas_labels(spark, quads)
    if iters == 0:
        # driver union-find path: the dictionary is driver data —
        # provably bounded (SMALL_CC_EDGES), broadcastable, and pinning
        # it would only ADD a checkpoint job (r11 opt)
        small_dict = True
    else:
        canon = canon.localCheckpoint()
        small_dict = driver_rows(canon, CANON_BROADCAST_BOUND) is not None

    def canonize(df: DataFrame, col: str) -> DataFrame:
        tag = "__c_" + col
        d = canon.select(F.col("term").alias(col),
                         F.col("canon").alias(tag))
        if small_dict:
            d = F.broadcast(d)
        return (df.join(d, col, "left")
                .withColumn(col, F.coalesce(F.col(tag), F.col(col)))
                .drop(tag))

    return canonize


#: inserted predicates that force the commit gate onto the FULL check:
#: sameAs rewrites the canon dictionary (OLD triples can newly clash),
#: a new disjointWith/complementOf pair can clash two OLD type
#: assertions (no delta leg at all), and the rdf:list predicates change
#: the AllDifferent expansion. Schema changes are rare commit traffic;
#: keeping them on the full path keeps the delta path trivially sound.
GATE_SCHEMA_PREDS = frozenset({SAMEAS, DISJOINT, COMPLEMENT,
                               DISTINCT_MEMBERS, RDF_FIRST, RDF_REST})

#: bounded-collect limits for the driver-evaluated delta gate (r11 opt):
#: the sameAs/disjointWith/complementOf state and the inserted
#: individuals' type probe must fit these row counts or the check falls
#: back to the distributed delta plan. Sized like the other driver fast
#: paths (rows are 2-3 short strings; ~10 MB at the bound).
GATE_STATE_BOUND = 50_000
GATE_TYPE_PROBE_BOUND = 50_000


def collect_gate_state(spark: SparkSession, quads: DataFrame):
    """ONE bounded scan collecting the commit gate's TBox-ish state: the
    owl:sameAs canon dictionary (union-find, min-label — identical to
    sameas_components' small path) plus the normalized disjointWith /
    complementOf pair sets (r11 opt, guide §1.2: the distributed delta
    check re-derived all three from full-store scans on EVERY checked
    commit). Returns ``None`` when the state overflows GATE_STATE_BOUND
    — the caller falls back to the distributed check.

    The state is a pure function of the store's sameAs/disjointWith/
    complementOf triples, so the engine may cache it across insert-only
    delta-branch commits (those insert none of GATE_SCHEMA_PREDS)."""
    rows = driver_rows(
        quads.filter(F.col("p").isin(SAMEAS, DISJOINT, COMPLEMENT)
                     & F.col("o_dt").isNull())
        .select("p", "s", "o_lex"), GATE_STATE_BOUND)
    if rows is None:
        return None
    pairs = {DISJOINT: set(), COMPLEMENT: set()}
    for r in rows:
        if r["p"] != SAMEAS:
            a, b = r["s"], r["o_lex"]
            pairs[r["p"]].add((a, b) if a <= b else (b, a))
    members = _min_label_classes((r["s"], r["o_lex"]) for r in rows
                                 if r["p"] == SAMEAS)
    canon = {m: c for c, mem in members.items() for m in mem}
    return {"canon": canon, "members": members, "pairs": pairs}


def consistency_violations_delta_local(spark: SparkSession, quads: DataFrame,
                                       inserted_rows: list, state: dict):
    """Driver-evaluated equivalent of :func:`consistency_violations_delta`
    (r11 opt): same soundness precondition (consistent pre-state, no
    closure, no GATE_SCHEMA_PREDS in the delta, ``quads`` = post-update
    store), same rules, same canonization — but the only Spark job is ONE
    type probe restricted to the inserted individuals' sameAs classes
    (an InSet predicate next to the scan, O(delta) at any store size)
    instead of the multi-scan distributed plan. Returns a deduplicated
    ``[{"rule","x","y"}, ...]`` list, or ``None`` when the type probe
    overflows GATE_TYPE_PROBE_BOUND (caller falls back)."""
    canon = state["canon"]
    members = state["members"]
    pairs = state["pairs"]

    def cz(t):
        return canon.get(t, t)

    new_types = [(r[1], r[3]) for r in inserted_rows
                 if r[2] == RDF_TYPE and r[4] is None]
    new_difs = [(r[1], r[3]) for r in inserted_rows
                if r[2] == DIFFERENT and r[4] is None]
    out: list = []
    for (x, y) in new_difs:
        if cz(x) == cz(y):
            out.append(("owl-dif", x, y))
    if new_types:
        for (i, c) in new_types:
            if c == NOTHING:
                out.append(("owl-nothing", cz(i), NOTHING))
        if pairs[DISJOINT] or pairs[COMPLEMENT]:
            probe = sorted({m for (i, _c) in new_types
                            for m in members.get(cz(i), (i,))}
                           | {i for (i, _c) in new_types})
            trows = driver_rows(
                quads.filter((F.col("p") == RDF_TYPE)
                             & F.col("o_dt").isNull()
                             & F.col("s").isin(probe))
                .select("s", "o_lex"), GATE_TYPE_PROBE_BOUND)
            if trows is None:
                return None
            types_by_canon: dict = {}
            for r in trows:
                types_by_canon.setdefault(cz(r["s"]), set()).add(r["o_lex"])
            for (i, c) in new_types:
                for c2 in types_by_canon.get(cz(i), ()):
                    key = (c, c2) if c <= c2 else (c2, c)
                    if key in pairs[DISJOINT]:
                        out.append(("cax-dw", cz(i),
                                    f"{key[0]} | {key[1]}"))
                    if key in pairs[COMPLEMENT]:
                        out.append(("owl-comp", cz(i),
                                    f"{key[0]} | {key[1]}"))
    seen = set()
    dedup = []
    for v in out:
        if v not in seen:
            seen.add(v)
            dedup.append({"rule": v[0], "x": v[1], "y": v[2]})
    return dedup


def consistency_violations_delta(spark: SparkSession, quads: DataFrame,
                                 inserted_rows: list) -> DataFrame:
    """Delta-restricted consistency conditions for the commit gate (r10).

    SOUNDNESS. Violations are MONOTONE in the triple set (no negated
    premises), so a violation NEW to this commit must use at least one
    inserted triple in a premise slot — classic semi-naive restriction.
    With no materialized closure, the conditions consume only
    {rdf:type, sameAs, differentFrom, disjointWith, complementOf,
    distinctMembers/first/rest}. The caller guarantees (a) inference is
    OFF for this store (a closure could derive type/sameAs premises from
    arbitrary facts) and (b) the delta contains none of
    GATE_SCHEMA_PREDS (those rewrite the canon dictionary / pair tables
    / list expansion and fall back to the full check). That leaves two
    delta-able premise slots — rdf:type legs and differentFrom pairs —
    and every other inserted triple cannot feed any premise at all.

    Each rule evaluates with one leg restricted to the (broadcast-small)
    delta and the other over the full post-update store, BOTH
    orientations, so the per-commit cost is O(delta x join partners) —
    never the full type-slice self-join. At 100 TB that is the
    difference between a commit gate and a nightly batch job. ``quads``
    must be the POST-update store (the delta's own rows included), so
    Δ x Δ clashes fall out of the Δ x full joins.
    """
    new_types = [(r[1], r[3]) for r in inserted_rows
                 if r[2] == RDF_TYPE and r[4] is None]
    new_difs = [(r[1], r[3]) for r in inserted_rows
                if r[2] == DIFFERENT and r[4] is None]
    empty = spark.createDataFrame([], "rule string, x string, y string")
    if not new_types and not new_difs:
        # plain facts: no premise slot can consume them (no closure)
        return empty
    iris = quads.filter(F.col("o_dt").isNull())
    canonize = _canon_fn(spark, quads)
    parts = [empty]

    if new_difs:
        ddif = spark.createDataFrame(new_difs, "x string, y string")
        parts.append(
            canonize(canonize(ddif.withColumn("x0", F.col("x"))
                              .withColumn("y0", F.col("y")), "x"), "y")
            .filter(F.col("x") == F.col("y"))
            .select(F.lit("owl-dif").alias("rule"),
                    F.col("x0").alias("x"), F.col("y0").alias("y")))

    if new_types:
        dtypes = canonize(
            spark.createDataFrame(new_types, "i string, c string"), "i")
        types_all = canonize(
            iris.filter(F.col("p") == RDF_TYPE)
            .select(F.col("s").alias("i"), F.col("o_lex").alias("c")), "i")

        def clash(pred: str, rule: str) -> DataFrame:
            pairs = iris.filter(F.col("p") == pred).select(
                F.col("s").alias("c1"), F.col("o_lex").alias("c2"))
            pairs = (pairs.unionByName(
                pairs.select(F.col("c2").alias("c1"),
                             F.col("c1").alias("c2")))
                .filter(F.col("c1") <= F.col("c2")).dropDuplicates())

            def leg(t1: DataFrame, t2: DataFrame,
                    delta_side: str) -> DataFrame:
                # the delta side of the i-join is broadcast EXPLICITLY so
                # the full type slice is only ever scanned map-side —
                # never shuffled — independent of the broadcast threshold
                t2r = t2.select(F.col("i").alias("i2"),
                                F.col("c").alias("cc2"))
                if delta_side == "right":
                    t2r = F.broadcast(t2r)
                left = t1.join(F.broadcast(pairs), t1["c"] == pairs["c1"])
                if delta_side == "left":
                    left = F.broadcast(left)
                return (left.join(t2r, (F.col("i") == F.col("i2"))
                                  & (F.col("cc2") == F.col("c2")))
                        .select(F.lit(rule).alias("rule"),
                                F.col("i").alias("x"),
                                F.concat(F.col("c1"), F.lit(" | "),
                                         F.col("c2")).alias("y")))

            # Δ as the c1-leg against the full store, and the full store
            # as the c1-leg against broadcast Δ — covers both pair
            # orientations without a types x types self-join
            return (leg(dtypes, types_all, "left")
                    .unionByName(leg(types_all, dtypes, "right"))
                    .dropDuplicates())

        parts.append(clash(DISJOINT, "cax-dw"))
        parts.append(clash(COMPLEMENT, "owl-comp"))
        parts.append(dtypes.filter(F.col("c") == NOTHING)
                     .select(F.lit("owl-nothing").alias("rule"),
                             F.col("i").alias("x"),
                             F.lit(NOTHING).alias("y"))
                     .dropDuplicates())

    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def consistency_violations(spark: SparkSession, quads: DataFrame) -> DataFrame:
    """pD*/OWL-Horst consistency conditions over the materialized closure
    (B42 — the reference ships this off by default,
    ``owlim:check-for-inconsistencies "false"``, repo-config.ttl:44; GraphDB
    runs the ruleset's consistency rules at commit and aborts the
    transaction when one fires).

    Returns ``(rule STRING, x STRING, y STRING)``, one row per violating
    instance pair, covering the pD* inconsistency conditions expressible in
    the engine's rule subset:

    * ``owl-dif``    — x owl:sameAs* y ∧ x owl:differentFrom y (sameAs taken
      through the B41 connected components, so this also catches
      FunctionalProperty-derived sameAs clashing with an explicit
      differentFrom — rdfp1/2 derive the sameAs, this rule detects it);
      owl:AllDifferent/owl:distinctMembers lists are expanded to pairwise
      differentFrom first (bounded rdf:rest frontier walk).
    * ``cax-dw``     — x type c1 ∧ x type c2 ∧ c1 owl:disjointWith c2
      (type membership canonicalized through sameAs).
    * ``owl-comp``   — as cax-dw for c1 owl:complementOf c2.
    * ``owl-nothing``— x type owl:Nothing.

    Scale shape: the only big-side operations are hash equi-joins of the
    type slice against itself keyed on the individual, with the (tiny)
    schema pair tables broadcast; differentFrom pairs flow through two
    broadcast-able canon joins. No cartesian, no row-wise Python.
    """
    iris = quads.filter(F.col("o_dt").isNull())
    canonize = _canon_fn(spark, quads)

    # -- differentFrom pairs (explicit + AllDifferent lists) -------------
    diff = iris.filter(F.col("p") == DIFFERENT).select(
        F.col("s").alias("x"), F.col("o_lex").alias("y"))
    heads = iris.filter(F.col("p") == DISTINCT_MEMBERS).select(
        F.col("o_lex").alias("cell"), F.col("s").alias("grp"))
    # bounded driver probe replaces isEmpty + (for small stores) the whole
    # per-hop join/checkpoint walk — the common case is FEW AllDifferent
    # lists; the distributed walk remains the only path when the probe
    # overflows (r10: the B42 commit gate runs this per checked update)
    heads_rows = driver_rows(heads, AD_LIST_BOUND)
    pairs_local = None
    if heads_rows:
        fr = driver_rows(iris.filter(F.col("p").isin(RDF_FIRST, RDF_REST))
                         .select("s", "p", "o_lex"), AD_LIST_BOUND * 8)
        if fr is not None:
            firsts: dict = {}
            nexts: dict = {}
            for r in fr:
                # dedupe per cell: the same logical triple asserted in two
                # graphs is one list edge, not a convergent DAG
                lst = (firsts if r["p"] == RDF_FIRST else nexts) \
                    .setdefault(r["s"], [])
                if r["o_lex"] not in lst:
                    lst.append(r["o_lex"])
            pairs_local = []
            for h in heads_rows:
                walk = [(h["cell"], m) for m in firsts.get(h["cell"], [])]
                frontier_cells = [h["cell"]]
                # each cell visits ONCE per list (r11 advisor fix: a
                # convergent rdf:rest DAG multiplied duplicate paths every
                # hop — walk grew exponentially inside the probe bound,
                # exhausting driver memory before the iteration guard).
                # Same-HOP convergence (equal-length branches sharing a
                # tail) merges to one list position; a cross-hop revisit
                # is a cycle or skewed convergence — malformed, raise
                # rather than pick a semantics. The distributed walk
                # below implements the identical rule (dropDuplicates per
                # hop + visited-set guard).
                seen_cells = {h["cell"]}
                for _ in range(MAX_ITERS * 20):
                    nxt_cells: list = []
                    for c in frontier_cells:
                        for n in nexts.get(c, []):
                            if n == RDF_NIL or n in nxt_cells:
                                continue
                            if n in seen_cells:
                                raise RuntimeError(
                                    "owl:distinctMembers rdf:rest revisits "
                                    f"cell {n!r} (cyclic or convergent "
                                    "list structure)")
                            nxt_cells.append(n)
                    seen_cells.update(nxt_cells)
                    if not nxt_cells:
                        break
                    walk += [(c, m) for c in nxt_cells
                             for m in firsts.get(c, [])]
                    frontier_cells = nxt_cells
                else:
                    raise RuntimeError(
                        "owl:distinctMembers list walk did not terminate "
                        "(cyclic rdf:rest?)")
                # pairs on CELL position (duplicate members must pair too)
                for i, (c1, m1) in enumerate(walk):
                    for c2, m2 in walk[i + 1:]:
                        if c1 < c2:
                            pairs_local.append((m1, m2))
                        elif c2 < c1:
                            pairs_local.append((m2, m1))
            if pairs_local:
                diff = diff.unionByName(spark.createDataFrame(
                    pairs_local, "x string, y string"))
            heads_rows = []            # handled; skip the distributed walk
    if heads_rows is None or heads_rows:   # overflow, or lists left to walk
        first = iris.filter(F.col("p") == RDF_FIRST).select(
            F.col("s").alias("cell"), F.col("o_lex").alias("member")) \
            .dropDuplicates()
        rest = iris.filter(F.col("p") == RDF_REST).select(
            F.col("s").alias("cell"), F.col("o_lex").alias("nxt")) \
            .dropDuplicates()
        members = None
        frontier = heads.dropDuplicates().localCheckpoint()
        visited = frontier.select("grp", "cell")
        for _ in range(MAX_ITERS * 20):   # bound = longest list length
            # keep the CELL (unique per list position): pairs are formed
            # on position, not member value, so a list naming the same
            # individual twice still yields its (a, a) pair — owl:
            # AllDifferent (a a) asserts a != a, which is inconsistent
            # (r10 fuzzer find: the old member<member2 value join
            # silently dropped duplicate members)
            got = frontier.join(first, "cell").select("grp", "cell",
                                                      "member")
            members = got if members is None else members.unionByName(got)
            # per-hop dedup + revisit guard (r11 advisor fix, mirroring
            # the local walk): a convergent rdf:rest DAG would otherwise
            # multiply duplicate frontier paths every hop — exponential
            # frontier growth; a revisited (grp, cell) is a cyclic or
            # convergent (malformed) list, raise rather than guess
            frontier = (frontier.join(rest, "cell")
                        .filter(F.col("nxt") != RDF_NIL)
                        .select(F.col("nxt").alias("cell"), "grp")
                        .dropDuplicates()
                        .localCheckpoint())
            if frontier.isEmpty():
                break
            if not frontier.join(visited, ["grp", "cell"]).isEmpty():
                raise RuntimeError(
                    "owl:distinctMembers rdf:rest revisits a cell "
                    "(cyclic or convergent list structure)")
            visited = visited.unionByName(frontier)
        else:
            raise RuntimeError("owl:distinctMembers list walk did not "
                               "terminate (cyclic rdf:rest?)")
        if members is not None:
            m2 = members.select(F.col("grp").alias("g2"),
                                F.col("cell").alias("cell2"),
                                F.col("member").alias("member2"))
            pairs = (members.join(m2, (F.col("grp") == F.col("g2"))
                                  & (F.col("cell") < F.col("cell2")))
                     .select(F.col("member").alias("x"),
                             F.col("member2").alias("y")))
            diff = diff.unionByName(pairs)
    dif_v = (canonize(canonize(diff.withColumn("x0", F.col("x"))
                               .withColumn("y0", F.col("y")), "x"), "y")
             .filter(F.col("x") == F.col("y"))
             .select(F.lit("owl-dif").alias("rule"),
                     F.col("x0").alias("x"), F.col("y0").alias("y")))

    # -- disjointWith / complementOf type clashes -------------------------
    types = canonize(
        iris.filter(F.col("p") == RDF_TYPE)
        .select(F.col("s").alias("i"), F.col("o_lex").alias("c")), "i")

    # ONE aggregation of the type slice shared by both clash rules (r11):
    # per-individual type sets replace the former type-slice SELF-JOIN —
    # one shuffle with map-side partial collect_set instead of shuffling
    # the slice on both join sides (the self-join was also AQE-bimodal at
    # 10x: broadcast 2.4 s vs SMJ 16 s run-to-run; the aggregate plan has
    # no join to mis-plan). Per-individual sets are bounded by the class
    # vocabulary, so no skew hazard.
    type_sets = (types.groupBy("i").agg(F.collect_set("c").alias("ts"))
                 .localCheckpoint(eager=False))

    def class_clash(pred: str, rule: str) -> DataFrame:
        pairs = iris.filter(F.col("p") == pred).select(
            F.col("s").alias("c1"), F.col("o_lex").alias("c2"))
        # symmetric predicates: normalize so each clash reports once.
        # <= keeps the diagonal: a SELF-disjoint class (C disjointWith C)
        # makes every member inconsistent in pD*, so (C, C) must survive
        # (r10 advisor fix: < silently dropped it)
        pairs = (pairs.unionByName(pairs.select(F.col("c2").alias("c1"),
                                                F.col("c1").alias("c2")))
                 .filter(F.col("c1") <= F.col("c2")).dropDuplicates())
        return (type_sets.select("i", F.explode("ts").alias("c"), "ts")
                .join(F.broadcast(pairs), F.col("c") == F.col("c1"))
                .filter(F.array_contains(F.col("ts"), F.col("c2")))
                .select(F.lit(rule).alias("rule"),
                        F.col("i").alias("x"),
                        F.concat(F.col("c1"), F.lit(" | "), F.col("c2"))
                        .alias("y"))
                .dropDuplicates())

    dw_v = class_clash(DISJOINT, "cax-dw")
    comp_v = class_clash(COMPLEMENT, "owl-comp")
    nothing_v = (types.filter(F.col("c") == NOTHING)
                 .select(F.lit("owl-nothing").alias("rule"),
                         F.col("i").alias("x"), F.lit(NOTHING).alias("y"))
                 .dropDuplicates())
    return (dif_v.unionByName(dw_v).unionByName(comp_v)
            .unionByName(nothing_v))
