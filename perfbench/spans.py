"""Outside-in tracing for the traced run (``--trace 1``).

The engine carries no tracing code of its own, so this module wraps the
public entry points of each module from outside, each one where its caller
looks it up (``engine.py`` binds ``parse_query`` at import, ``store.py``
imports the inference functions at call time, the server's handler calls
``handle_request_stream`` through its module globals).

Every benchmark operation opens a root span (:meth:`Tracer.op`) with an
operation id. Spans opened by wrapped functions on the same thread nest
under it; the endpoint's handler threads find their operation through the
``X-Bench-Op`` request header, and streaming callback threads fall back to
the one in-process operation that is open. The thread doing an operation's
work gets the operation id as its Spark job group, and the job, stage and
task counts are read from ``statusTracker`` when the operation ends.

A span's self time is its duration minus the part its children cover.
Spans stay in memory; :meth:`Tracer.report` folds them into the per-layer
metrics and :meth:`Tracer.dump` writes them to a side file.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import threading
import time

OP_KINDS = ("read", "insert", "delete", "materialize", "operator", "bulk")
#: curation operator modules, each timed as its own operations
CURATION = ("fts", "dedup", "similarity", "pipeline")
CURATION_LAYERS = tuple(f"operators.{m}" for m in CURATION)

#: per-layer metrics the traced run prints, as (name, unit, better).
#: Counts and times are per operation (see :meth:`Tracer.report`), so a
#: program that completes more operations in the same time reads the same.
LAYER_METRICS = [
    ("server.requests", "count/op", "lower"),
    ("server.self_s", "s/op", "lower"),
    ("server.failed", "count/op", "lower"),
    ("sparql.parser.calls", "count/op", "lower"),
    ("sparql.parser.self_s", "s/op", "lower"),
    ("engine.queries", "count/op", "lower"),
    ("engine.plan_cache_hit_ratio", "ratio", "higher"),
    ("engine.self_s", "s/op", "lower"),
    ("sparql.translator.calls", "count/op", "lower"),
    ("sparql.translator.self_s", "s/op", "lower"),
    ("dictionary.builds", "count/op", "lower"),
    ("dictionary.build_s", "s/op", "lower"),
    ("dictionary.builds_per_read", "ratio", "lower"),
    ("dictionary.self_s", "s/op", "lower"),
    ("sparql.results.ttfb_s", "s/op", "lower"),
    ("sparql.results.self_s", "s/op", "lower"),
    ("sparql.results.bytes", "bytes/op", "lower"),
    ("update.calls", "count/op", "lower"),
    ("update.self_s", "s/op", "lower"),
    ("store.append_s", "s/op", "lower"),
    ("store.delete_s", "s/op", "lower"),
    ("store.self_s", "s/op", "lower"),
    ("store.live_segments", "count", "lower"),
    ("store.compactions", "count/op", "lower"),
    ("store.write_amp", "ratio", "lower"),
    ("sources.parse_s", "s/op", "lower"),
    ("streaming.ingest.batches", "count/op", "lower"),
    ("streaming.ingest.self_s", "s/op", "lower"),
    ("operators.inference.closure_s", "s/op", "lower"),
    ("operators.inference.increment_s", "s/op", "lower"),
    ("operators.inference.decrement_s", "s/op", "lower"),
    ("operators.inference.gate_s", "s/op", "lower"),
    ("operators.inference.gate_local_ratio", "ratio", "higher"),
    ("operators.inference.self_s", "s/op", "lower"),
] + [(f"operators.{m}.{k}", u, "lower")
     for m in CURATION for k, u in (("self_s", "s/op"), ("jobs", "count/op"))
     ] + [
    (f"spark.{k}.{op}", "count/op", "lower")
    for op in OP_KINDS for k in ("jobs", "stages", "tasks")] + [
    (f"untraced.{op}_s", "s/op", "lower") for op in OP_KINDS] + [
    ("spark.session_s", "s", "lower"),
    ("process.peak_rss_mb", "MB", "lower"),
]

#: layers whose self time is reported as ``<layer>.self_s``
SELF_LAYERS = ["server", "sparql.parser", "engine", "sparql.translator",
               "dictionary", "sparql.results", "update", "store", "sources",
               "streaming.ingest", "operators.inference", *CURATION_LAYERS]


class Span:
    __slots__ = ("name", "layer", "start", "end", "children", "op", "info")

    def __init__(self, name: str, layer: str | None, op: "Span | None"):
        self.name, self.layer, self.op = name, layer, op
        self.start = time.perf_counter()
        self.end = None
        self.children: list[Span] = []
        self.info: dict = {}


class Tracer:
    """Span recorder. ``enabled=False`` makes every method a cheap no-op
    so the workloads run the same code in timed and traced runs."""

    def __init__(self, enabled: bool, spark=None) -> None:
        self.enabled = enabled
        self.spark = spark
        self.roots: list[Span] = []
        self._local = threading.local()
        self._ops: dict[str, Span] = {}
        self._direct: list[Span] = []
        self._lock = threading.Lock()
        self._ids = itertools.count(1)

    # ---------------------------------------------------------- spans

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def count(self, key: str, n: float = 1) -> None:
        """Add ``n`` to ``key`` of the operation open on this thread."""
        parent = self._parent() if self.enabled else None
        if parent is not None:
            with self._lock:
                parent.op.info[key] = parent.op.info.get(key, 0) + n

    def new_op_id(self) -> str:
        return f"op{next(self._ids)}" if self.enabled else ""

    @contextlib.contextmanager
    def op(self, kind: str, layer: str | None = None, op_id: str = "",
           direct: bool = True):
        """Root span of one benchmark operation. ``direct`` operations do
        their work on this thread (it gets the job group); HTTP operations
        pass ``direct=False`` and the handler thread takes the group."""
        if not self.enabled:
            yield None
            return
        op_id = op_id or self.new_op_id()
        span = Span(kind, layer, None)
        span.op = span
        span.info["id"] = op_id
        st = self._stack()
        span.info["stack"] = st          # callback threads nest under its top
        with self._lock:
            self._ops[op_id] = span
            if direct:
                self._direct.append(span)
        st.append(span)
        if direct:
            self._set_group(op_id)
        try:
            yield span
        finally:
            span.end = time.perf_counter()
            st.pop()
            with self._lock:
                if direct:
                    self._direct.remove(span)
                self.roots.append(span)
            if direct:
                self._clear_group()
            span.info["spark"] = self._spark_counts(op_id)

    def _parent(self) -> Span | None:
        st = self._stack()
        if st:
            return st[-1]
        hdr = getattr(self._local, "op_hdr", None)
        if hdr:
            return self._ops.get(hdr)
        with self._lock:
            if not self._direct:
                return None
            owner = self._direct[-1].info["stack"]
        return owner[-1] if owner else None

    @contextlib.contextmanager
    def span(self, name: str, layer: str | None):
        parent = self._parent() if self.enabled else None
        if parent is None:
            yield None
            return
        sp = Span(name, layer, parent.op)
        with self._lock:
            parent.children.append(sp)
        st = self._stack()
        st.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            st.pop()

    # ---------------------------------------------------- Spark counts

    def _set_group(self, op_id: str) -> None:
        if self.spark is not None:
            self.spark.sparkContext.setJobGroup(op_id, op_id)

    def _clear_group(self) -> None:
        if self.spark is not None:
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)

    def _spark_counts(self, op_id: str) -> dict:
        if self.spark is None:
            return {"jobs": 0, "stages": 0, "tasks": 0}
        st = self.spark.sparkContext.statusTracker()
        jobs = st.getJobIdsForGroup(op_id)
        stages = tasks = 0
        for jid in jobs:
            info = st.getJobInfo(jid)
            for sid in (info.stageIds if info else []):
                si = st.getStageInfo(sid)
                if si is not None and si.numCompletedTasks > 0:
                    stages += 1
                    tasks += si.numCompletedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks}

    # ------------------------------------------------------- patching

    def patch(self, owner, attr: str, name: str, layer: str | None,
              after=None) -> None:
        """Replace function ``owner.attr`` (a module function or a plain
        method) by a wrapper that records a span; ``after(result)`` may
        add counts."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name, layer):
                res = fn(*args, **kwargs)
            if after is not None:
                after(res)
            return res

        setattr(owner, attr, wrapper)

    def install(self) -> None:
        """Wrap the engine's public entry points (see module docstring)."""
        if not self.enabled:
            return
        import http.server

        from graphdb_free_mocha_sa_spark import dictionary, engine, server
        from graphdb_free_mocha_sa_spark import store as store_mod
        from graphdb_free_mocha_sa_spark import update
        from graphdb_free_mocha_sa_spark.operators import inference
        from graphdb_free_mocha_sa_spark.sparql import results, translator
        from graphdb_free_mocha_sa_spark.streaming import ingest

        tracer = self
        # the handler thread learns its operation from the request header
        orig_parse = http.server.BaseHTTPRequestHandler.parse_request

        def parse_request(handler):
            ok = orig_parse(handler)
            tracer._local.op_hdr = (handler.headers.get("X-Bench-Op", "")
                                    if ok and handler.headers else "")
            return ok

        http.server.BaseHTTPRequestHandler.parse_request = parse_request

        orig_hrs = server.handle_request_stream

        @functools.wraps(orig_hrs)
        def handle_request_stream(*args, **kwargs):
            op_id = getattr(tracer._local, "op_hdr", "")
            if op_id:
                tracer._set_group(op_id)
            tracer.count("server.requests")
            try:
                with tracer.span("server.handle_request_stream", None):
                    code = orig_hrs(*args, **kwargs)
                if code != 200:
                    tracer.count("server.failed")
                return code
            finally:
                if op_id:
                    tracer._clear_group()

        server.handle_request_stream = handle_request_stream

        E = engine.Engine
        self.patch(E, "query", "engine.query", "engine")
        self.patch(E, "query_to", "engine.query_to", "engine")
        self.patch(E, "update", "engine.update", "engine")
        self.patch(E, "_encoded_state", "dictionary.encoded_state",
                   "dictionary")
        self.patch(E, "_gate_check", "inference.gate", "operators.inference")
        self.patch(engine, "parse_query", "sparql.parser", "sparql.parser")
        T = translator.Translator
        # (Translator.ask also executes the query, so it is left to the
        # engine span rather than counted as translation)
        self.patch(T, "translate_select", "sparql.translator",
                   "sparql.translator")
        self.patch(dictionary, "build_term_dict_full", "dictionary.build",
                   "dictionary")
        self.patch(dictionary, "encode_quads", "dictionary.encode",
                   "dictionary")
        self.patch(update.UpdateExecutor, "execute", "update", "update")
        Q = store_mod.QuadStore
        for m in ("add_quads", "load_version"):
            self.patch(Q, m, "store.append", "store")
        self.patch(Q, "delete_quads", "store.delete", "store")
        self.patch(Q, "materialize_inference", "store.materialize", "store")

        D = store_mod.DurableQuadStore
        orig_ca = D.__dict__["_commit_append"]

        @functools.wraps(orig_ca)
        def commit_append(st, delta):
            if len(st._segments) >= st.SEGMENT_COMPACT_THRESHOLD:
                tracer.count("store.compactions")
            return orig_ca(st, delta)

        D._commit_append = commit_append

        for fn, key in (("owl_horst_closure", "closure"),
                        ("owl_horst_increment", "increment"),
                        ("owl_horst_decrement", "decrement")):
            self.patch(inference, fn, f"inference.{key}",
                       "operators.inference")

        def local_gate(res):
            if res is not None:
                tracer.count("gate.local")

        self.patch(inference, "consistency_violations_delta_local",
                   "inference.gate_local", "operators.inference",
                   after=local_gate)

        formats = results.RESULT_FORMATS
        for fmt, (it, ask, sentinel) in list(formats.items()):
            formats[fmt] = (self._wrap_iter(it), ask, sentinel)

        orig_mab = ingest._make_apply_batch

        @functools.wraps(orig_mab)
        def make_apply_batch(*args, **kwargs):
            inner = orig_mab(*args, **kwargs)

            def apply_batch(batch_df, batch_id):
                tracer.count("streaming.ingest.batches")
                with tracer.span("streaming.batch", "streaming.ingest"):
                    return inner(batch_df, batch_id)
            return apply_batch

        ingest._make_apply_batch = make_apply_batch
        self.patch(ingest, "stream_inserts_from_files", "streaming.ingest",
                   "streaming.ingest")

    def _wrap_iter(self, it):
        tracer = self

        @functools.wraps(it)
        def wrapped(df, variables=None):
            gen = it(df, variables)
            with tracer.span("sparql.results", "sparql.results") as sp:
                t0 = time.perf_counter()
                n = nbytes = 0
                try:
                    for chunk in gen:
                        n += 1
                        nbytes += len(chunk)
                        if n == 2 and sp is not None:
                            sp.info["ttfb"] = time.perf_counter() - t0
                        yield chunk
                finally:
                    gen.close()
                    if sp is not None:
                        sp.info.setdefault("ttfb", time.perf_counter() - t0)
                        sp.info["bytes"] = nbytes
        return wrapped

    # ------------------------------------------------------- reporting

    @staticmethod
    def _self_times(span: Span, out: list) -> None:
        """Append (span, self seconds) for ``span`` and its subtree."""
        end = span.end if span.end is not None else time.perf_counter()
        ivs = []
        for c in span.children:
            c_end = c.end if c.end is not None else end
            lo, hi = max(c.start, span.start), min(c_end, end)
            if hi > lo:
                ivs.append((lo, hi))
        ivs.sort()
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in ivs:
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out.append((span, max(0.0, (end - span.start) - covered)))
        for c in span.children:
            Tracer._self_times(c, out)

    def report(self, extra: dict | None = None) -> tuple[dict, dict]:
        """(per-layer metrics, per-op-type breakdown).

        Counts and times are per operation: for each operation type, the
        total over the run divided by the number of operations of that
        type, summed over the types. Ratios are over the whole run. The
        breakdown keeps the totals, so there the layer self times plus
        ``untraced_s`` sum to ``wall_s``."""
        by_op: dict[str, dict] = {}
        tot: dict[tuple[str, str], float] = {}

        def add(kind: str, key: str, v: float) -> None:
            tot[(kind, key)] = tot.get((kind, key), 0.0) + v

        for root in self.roots:
            kind = root.name
            row = by_op.setdefault(kind, {"ops": 0, "wall_s": 0.0,
                                          "untraced_s": 0.0, "layers": {}})
            row["ops"] += 1
            row["wall_s"] += root.end - root.start
            for k, v in root.info.items():
                if k == "spark":
                    for sk, sv in v.items():
                        add(kind, f"spark.{sk}.{kind}", sv)
                        if sk == "jobs" and root.layer in CURATION_LAYERS:
                            add(kind, f"{root.layer}.jobs", sv)
                elif isinstance(v, (int, float)):
                    add(kind, k, v)         # Tracer.count keys
            pairs: list = []
            self._self_times(root, pairs)
            for sp, s in pairs:
                if sp.layer is None:
                    row["untraced_s"] += s
                else:
                    row["layers"][sp.layer] = row["layers"].get(sp.layer, 0.0) + s
                    add(kind, f"{sp.layer}.self_s", s)
                if sp is not root:
                    end = sp.end if sp.end is not None else root.end
                    add(kind, "incl:" + sp.name, end - sp.start)
                    add(kind, "calls:" + sp.name, 1)
                if sp.name == "sparql.results":
                    add(kind, "ttfb", sp.info.get("ttfb", 0.0))
                    add(kind, "bytes", sp.info.get("bytes", 0))
        for kind, row in by_op.items():
            add(kind, "untraced", row["untraced_s"])

        def per_op(key: str) -> float:
            return sum(v / by_op[kind]["ops"]
                       for (kind, k), v in tot.items() if k == key)

        def total(key: str) -> float:
            return sum(v for (_kind, k), v in tot.items() if k == key)

        def ratio(num: float, den: float) -> float:
            return num / den if den else 0.0

        queries = total("calls:engine.query")
        m = {
            "server.requests": per_op("server.requests"),
            "server.failed": per_op("server.failed"),
            "sparql.parser.calls": per_op("calls:sparql.parser"),
            "engine.queries": per_op("calls:engine.query"),
            "engine.plan_cache_hit_ratio":
                ratio(queries - total("calls:sparql.parser"), queries),
            "sparql.translator.calls": per_op("calls:sparql.translator"),
            "dictionary.builds": per_op("calls:dictionary.build"),
            "dictionary.build_s": per_op("incl:dictionary.encoded_state"),
            "dictionary.builds_per_read": ratio(
                tot.get(("read", "calls:dictionary.build"), 0),
                by_op.get("read", {}).get("ops", 0)),
            "sparql.results.ttfb_s": per_op("ttfb"),
            "sparql.results.bytes": per_op("bytes"),
            "update.calls": per_op("calls:update"),
            "store.append_s": per_op("incl:store.append"),
            "store.delete_s": per_op("incl:store.delete"),
            "store.compactions": per_op("store.compactions"),
            "sources.parse_s": per_op("incl:sources.read_ntriples"),
            "streaming.ingest.batches": per_op("streaming.ingest.batches"),
            "operators.inference.closure_s": per_op("incl:inference.closure"),
            "operators.inference.increment_s":
                per_op("incl:inference.increment"),
            "operators.inference.decrement_s":
                per_op("incl:inference.decrement"),
            "operators.inference.gate_s": per_op("incl:inference.gate"),
            "operators.inference.gate_local_ratio": ratio(
                total("gate.local"), total("calls:inference.gate")),
        }
        for lay in SELF_LAYERS:
            m[f"{lay}.self_s"] = per_op(f"{lay}.self_s")
        for mod in CURATION:
            m[f"operators.{mod}.jobs"] = per_op(f"operators.{mod}.jobs")
        for op in OP_KINDS:
            for k in ("jobs", "stages", "tasks"):
                m[f"spark.{k}.{op}"] = per_op(f"spark.{k}.{op}")
            m[f"untraced.{op}_s"] = ratio(
                tot.get((op, "untraced"), 0.0),
                by_op.get(op, {}).get("ops", 0))
        m.update(extra or {})
        return m, by_op

    def dump(self, path: str, metrics: dict, by_op: dict) -> None:
        def tree(sp: Span) -> dict:
            return {"name": sp.name, "layer": sp.layer,
                    "start": sp.start, "end": sp.end,
                    "info": {k: v for k, v in sp.info.items()
                             if k != "stack"},
                    "children": [tree(c) for c in sp.children]}
        with open(path, "w") as fh:
            json.dump({"metrics": metrics, "by_op": by_op,
                       "spans": [tree(r) for r in self.roots]}, fh)
