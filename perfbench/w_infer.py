"""inference_maintain: OWL-Horst materialization and its maintenance on
in-memory ``QuadStore``s, called directly (no HTTP).

The store holds a seed-generated TBox (a 10-deep subClassOf chain,
subPropertyOf, domain/range, a transitive and an inverse property, two
disjointWith pairs) and an ABox of typed individuals. One client first
materializes the closure, then runs whole cycles of a fixed sequence until
the time is up:

1. the commit gate: a consistent checked insert, then one that violates a
   disjointWith pair and must be rejected;
2. the delete of the C7 subClassOf C8 edge (a TBox change: the store
   re-materializes), a read of the types of a probe individual below C7,
   which must stop at C7, and the edge's re-insert (``owl_horst_increment``
   sees the TBox change and the store re-materializes);
3. a single-instance delete of an asserted type (DRed), and one read of
   the types of that individual, which must be gone, and of the probe,
   which must climb the whole chain again.

The DRed delete is the costliest step, so it comes last and every cycle
runs the others before it. An insert of a fresh individual, which takes
the incremental closure, is left out: at this commit it runs 30 Spark jobs
(about 10 s on 4 cores), more than the run budget holds. Reads are checked
against the closed-form closure of the generator's facts and recorded as
``type_read``, apart from the workload's other reads.

Two engines share the generated base: the maintenance engine runs with
inference on, the gate engine with ``check_inconsistencies`` on and
inference off. With both switches on one engine every checked commit runs
the full consistency check over the closure (several seconds per insert
at this scale on 4 cores), which would leave one operation per run.
"""

from __future__ import annotations

import time

import gen

C, SC = "urn:C", gen.RDFS + "subClassOf"
CHAIN = 10
INSTANCES, INSTANCES_TINY = 5_000, 1_000
#: the chain edge the cycle deletes and re-inserts (C7 < C8)
EDGE = (f"{C}7", f"{C}8")


def setup(ctx):
    from graphdb_free_mocha_sa_spark import Engine, QuadStore
    from graphdb_free_mocha_sa_spark.model import local_quads_df
    n = INSTANCES_TINY if ctx.tiny else INSTANCES
    tbox, abox, cls = gen.ontology(ctx.seed, n, CHAIN)
    rows = [(g, s, p, o, None, None, None, None) for g, s, p, o in tbox + abox]
    base = local_quads_df(ctx.spark, rows).repartition(ctx.cores) \
        .localCheckpoint()
    store = QuadStore(ctx.spark, base)
    eng = Engine(ctx.spark, store, use_inference=True)
    gate = Engine(ctx.spark, QuadStore(ctx.spark, base),
                  check_inconsistencies=True)
    leads = {s for _g, s, p, _o in abox if p == "urn:p:leads"}
    return {"eng": eng, "gate": gate, "store": store, "cls": cls, "n": n,
            "leads": leads, "deleted": set(), "edge_cut": False}


def _expected_types(st, i: int) -> set:
    """Closed-form rdf:type closure of individual ``urn:i{i}``."""
    if i in st["deleted"]:
        out = set()
    else:
        c = st["cls"][i]
        top = CHAIN - 1
        if st["edge_cut"] and c <= 7:
            top = 7
        out = {f"{C}{k}" for k in range(c, top + 1)}
    if f"urn:i{i}" in st["leads"]:
        out.add("urn:Agent")
    return out


def _read(ctx, st, want: dict) -> None:
    """One SELECT of the rdf:type closure of the IRIs in ``want``, checked
    against ``want`` (IRI -> expected classes)."""
    from graphdb_free_mocha_sa_spark.sparql.results import SENTINEL
    import json
    iris = " ".join(f"<{iri}>" for iri in want)
    q = (f"SELECT ?x ?c WHERE {{ VALUES ?x {{ {iris} }} "
         f"?x <{gen.RDF_TYPE}> ?c }}")
    t0 = time.perf_counter()
    with ctx.tracer.op("read"):
        body = st["eng"].query_json(q)
    dt = time.perf_counter() - t0
    if body == SENTINEL:
        ctx.record("type_read", dt, False, f"types of {iris}: sentinel")
        return
    got = {iri: set() for iri in want}
    for b in json.loads(body)["results"]["bindings"]:
        got.setdefault(b["x"]["value"], set()).add(b["c"]["value"])
    if ctx.tamper and not st.get("tampered"):
        first = next(iter(want))
        want = dict(want, **{first: want[first] | {"urn:tampered"}})
        st["tampered"] = True
    ctx.record("type_read", dt, got == want, f"types {got} != {want}")


def _update(ctx, st, kind: str, body: str, must_fail: bool = False,
            engine: str = "eng") -> bool:
    """One INSERT/DELETE DATA of ``body`` into the ABox graph."""
    from graphdb_free_mocha_sa_spark.engine import InconsistencyError
    text = (f"{'INSERT' if kind == 'insert' else 'DELETE'} DATA "
            f"{{ GRAPH <{gen.ABOX_GRAPH}> {{ {body} }} }}")
    t0 = time.perf_counter()
    rejected, err = False, ""
    with ctx.tracer.op(kind):
        try:
            st[engine].update(text)
        except InconsistencyError:
            rejected = True
        except Exception as e:  # noqa: BLE001 — counted as a failure
            err = repr(e)[:200]
    dt = time.perf_counter() - t0
    ok = not err and rejected == must_fail
    ctx.record(kind, dt, ok, err or f"rejected={rejected} for {text[:80]}")
    return ok


def _cycle(ctx, st, rng, k: int) -> list:
    """The steps of maintenance cycle ``k``, in order."""
    def pick(below: int = CHAIN) -> int:
        while True:
            i = int(rng.integers(0, st["n"]))
            if i not in st["deleted"] and st["cls"][i] < below \
                    and i != st.get("probe"):
                return i

    def gate_ok():
        _update(ctx, st, "insert",
                f"<urn:ok{k}> <{gen.RDF_TYPE}> <urn:D0>", engine="gate")

    def gate_bad():
        _update(ctx, st, "insert", f"<urn:bad{k}> <{gen.RDF_TYPE}> <urn:D0> . "
                f"<urn:bad{k}> <{gen.RDF_TYPE}> <urn:D1>",
                must_fail=True, engine="gate")

    def cut(on: bool):
        def op():
            if _update(ctx, st, "delete" if on else "insert",
                       f"<{EDGE[0]}> <{SC}> <{EDGE[1]}>"):
                st["edge_cut"] = on
        return op

    def expect(*idx: int) -> dict:
        return {f"urn:i{i}": _expected_types(st, i) for i in idx}

    def read_probe():
        st["probe"] = pick(below=8)
        _read(ctx, st, expect(st["probe"]))

    def delete():
        i = st["victim"] = pick()
        if _update(ctx, st, "delete",
                   f"<urn:i{i}> <{gen.RDF_TYPE}> <{C}{st['cls'][i]}>"):
            st["deleted"].add(i)

    def read_victim():
        _read(ctx, st, expect(st["victim"], st["probe"]))

    return [gate_ok, gate_bad, cut(True), read_probe, cut(False), delete,
            read_victim]


def run(ctx, st, between) -> int:
    """Materialize, then whole cycles until the time is up (at least one);
    ``between()`` runs after every step."""
    import numpy as np
    store = st["store"]
    t0 = time.perf_counter()
    with ctx.tracer.op("materialize"):
        store.materialize_inference()
        n_inf = store._inferred.count()
    ctx.record("materialize", time.perf_counter() - t0)
    ctx.metric("materialize_s", time.perf_counter() - t0, "s")
    ctx.metric("inferred_quads", n_inf, "count")
    between()
    rng = np.random.default_rng([ctx.seed, 30])
    deadline = time.perf_counter() + ctx.seconds
    ops, k = 1, 0
    while k == 0 or time.perf_counter() < deadline:
        k += 1
        for op in _cycle(ctx, st, rng, k):
            op()
            ops += 1
            between()
    ctx.metric("cycles", k, "count")
    return ops


def finish(ctx, st) -> None:
    """Reads were checked as they ran; report the per-kind medians."""
    from harness import median
    for kind in ("type_read", "insert", "delete"):
        ctx.metric(f"{kind}_p50_s", median(ctx.lat.get(kind, [])), "s")
