"""SPARQL 1.1 property-path evaluation (SURVEY B13/B44).

Fixed-length paths (`/`, `^`, `|`, negated sets) compose as DataFrame
joins/unions — pure Catalyst territory. The recursive modifiers (`+`, `*`)
are the one core operator Spark lacks: implemented as a **semi-naive
transitive-closure fixpoint** (Pregel-style frontier expansion):

    delta_{i+1} = project(delta_i ⋈ edges) − acc_i ;  acc_{i+1} = acc_i ∪ delta_{i+1}

Per-iteration `localCheckpoint()` truncates lineage so plans stay O(1) deep;
on a production cluster swap for `checkpoint()` to reliable storage. All data
stays distributed — the driver only sees per-iteration emptiness checks.

Pair DataFrames carry the two endpoint families named ``s`` and ``o``.
In **string mode** that is the full flat family layout the translator uses,
deduplicated on canonical keys. In **encoded mode** (quads carry
``s_id/p_id/o_id`` and a ``lookup_id`` callback is supplied) pairs are
key-only — every fixpoint iteration joins and shuffles 8-byte BIGINTs, the
scale path for deep closures.
"""

from __future__ import annotations

from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphdb_free_mocha_sa_spark.model import VAR_SUFFIXES
from graphdb_free_mocha_sa_spark.session import driver_rows
from graphdb_free_mocha_sa_spark.sparql import algebra as A

MAX_ITERS = 64
CHECKPOINT_EVERY = 4

#: pair-frame column carrying the graph of each edge when a path is
#: evaluated under GRAPH ?var (r6c): closures and sequence joins are then
#: keyed per graph, so paths NEVER chain across named graphs (§18.4
#: evaluates the pattern once per named graph).
GROUP_COL = "__pg"


def _grp(quads: DataFrame) -> list:
    """Leading group column for pair selections (empty when ungrouped)."""
    return [(F.col("g_id") if _is_enc(quads) else F.col("g"))
            .alias(GROUP_COL)]


def _sufs(df: DataFrame) -> list[str]:
    """Family suffixes actually present on a pair DataFrame ([''] in
    encoded key-only mode, the full family in string mode)."""
    return [suf for suf in VAR_SUFFIXES if ("o" + suf) in df.columns]


def _s_family(enc: bool):
    if enc:
        return [F.col("s_id").alias("s")]
    c = F.col("s")
    return [c.alias("s"), c.alias("s__lex"),
            F.lit(None).cast("string").alias("s__dt"),
            F.lit(None).cast("string").alias("s__lang"),
            F.lit(None).cast("double").alias("s__num"),
            F.lit(None).cast("timestamp").alias("s__ts")]


def _o_family(enc: bool):
    if enc:
        return [F.col("o_id").alias("o")]
    from graphdb_free_mocha_sa_spark.model import canonical_object_key
    return [canonical_object_key().alias("o"),
            F.col("o_lex").alias("o__lex"), F.col("o_dt").alias("o__dt"),
            F.col("o_lang").alias("o__lang"), F.col("o_num").alias("o__num"),
            F.col("o_ts").alias("o__ts")]


def _is_enc(quads: DataFrame) -> bool:
    return "s_id" in quads.columns


def _swap(df: DataFrame) -> DataFrame:
    sel = [F.col(GROUP_COL)] if GROUP_COL in df.columns else []
    for suf in _sufs(df):
        sel.append(F.col("o" + suf).alias("s" + suf))
        sel.append(F.col("s" + suf).alias("o" + suf))
    return df.select(*sel)


def _link(quads: DataFrame, iri: str,
          lookup_id: Optional[Callable[[str], Optional[int]]],
          group: bool = False) -> DataFrame:
    enc = _is_enc(quads)
    pre = _grp(quads) if group else []
    if enc:
        pid = lookup_id(iri) if lookup_id else None
        flt = (F.col("p_id") == pid) if pid is not None else F.lit(False)
        return quads.filter(flt).select(*pre, *_s_family(True),
                                        *_o_family(True))
    return quads.filter(F.col("p") == iri).select(
        *pre, *_s_family(False), *_o_family(False))


def _nodes(quads: DataFrame, group: bool = False) -> DataFrame:
    """All graph nodes (subjects ∪ objects) as an identity-pair DataFrame
    (per graph when ``group``: a term occurring only in graph g1 yields
    its zero-length pair only under g1)."""
    enc = _is_enc(quads)
    pre = _grp(quads) if group else []
    subs = quads.select(*pre, *_s_family(enc))
    objs = quads.select(*pre, *_o_family(enc))
    sufs = _sufs(objs)
    keep = ([GROUP_COL] if group else [])
    objs = objs.select(*[F.col(c) for c in keep],
                       *[F.col("o" + suf).alias("s" + suf) for suf in sufs])
    nodes = subs.unionByName(objs).dropDuplicates(keep + ["s"])
    sel = [F.col(c) for c in keep] + \
          [F.col("s" + suf) for suf in sufs] + \
          [F.col("s" + suf).alias("o" + suf) for suf in sufs]
    return nodes.select(*sel)


#: below this edge count the closure is computed on the driver — a fixpoint
#: of Spark jobs over a few hundred rows is pure scheduling overhead, and the
#: result is bounded by (2·edges)² rows. Same adaptive philosophy as the
#: engine's ENCODE_MIN_QUADS: the distributed path is for data that needs it.
SMALL_GRAPH_EDGES = 500
#: below this many rows a distributed fixpoint narrows to 4 partitions (task
#: launches outweigh wide shuffles); the OWL-Horst closure shares it
SMALL_PARTS_ROWS = 100_000


def _closure_small(edges: DataFrame, sufs: list[str],
                   grouped: bool = False) -> DataFrame:
    """Driver-side reachability for graphs under SMALL_GRAPH_EDGES edges.
    Memory is bounded: ≤ 1000 nodes → ≤ 10⁶ result pairs. When grouped,
    adjacency is keyed (graph, node) so closure stays within one graph."""
    rows = edges.collect()
    adj: dict = {}
    fam_s: dict = {}
    fam_o: dict = {}
    for r in rows:
        g = r[GROUP_COL] if grouped else None
        a, b = (g, r["s"]), (g, r["o"])
        adj.setdefault(a, set()).add(b)
        fam_s[a] = {suf: r["s" + suf] for suf in sufs}
        fam_o[b] = {suf: r["o" + suf] for suf in sufs}
    # emit values in the INPUT frame's field order — a _swap()ed (inverse)
    # or PSeq-joined frame interleaves s/o family columns, so positional
    # (s-family, o-family) tuples would land in the wrong fields (r7 fuzz
    # fix: (^p)+ returned all-null families)
    schema = edges.schema
    def mk_row(g, s_fam, o_fam):
        vals = []
        for f in schema.fields:
            if f.name == GROUP_COL:
                vals.append(g)
            elif f.name.startswith("s"):
                vals.append(s_fam[f.name[1:]])
            else:
                vals.append(o_fam[f.name[1:]])
        return tuple(vals)
    out = []
    for start in adj:
        seen: set = set()
        stack = list(adj[start])
        while stack:
            nxt = stack.pop()
            if nxt in seen:
                continue
            seen.add(nxt)
            stack.extend(adj.get(nxt, ()))
        out.extend(mk_row(start[0], fam_s[start], fam_o[t]) for t in seen)
    return edges.sparkSession.createDataFrame(out, schema) if out \
        else edges.sparkSession.createDataFrame([], schema)


def transitive_closure(pairs: DataFrame) -> DataFrame:
    """Semi-naive reachability over distinct (s,o) pairs. When the frame
    carries GROUP_COL (path under GRAPH ?var), reachability is computed
    independently PER GRAPH — every join below adds the group key, so a
    g1 edge can never extend a g2 path (r6c)."""
    grouped = GROUP_COL in pairs.columns
    keys = ([GROUP_COL] if grouped else []) + ["s", "o"]
    sufs = _sufs(pairs)
    edges = pairs.dropDuplicates(keys).localCheckpoint()
    sized = driver_rows(edges.select(), SMALL_PARTS_ROWS)
    n_edges = len(sized) if sized is not None else SMALL_PARTS_ROWS + 1
    if n_edges < SMALL_GRAPH_EDGES:
        return _closure_small(edges, sufs, grouped)
    # Mid-size graphs don't need 32-way shuffles per iteration — task-launch
    # overhead dominates; big graphs keep full parallelism.
    if n_edges < SMALL_PARTS_ROWS:
        edges = edges.repartition(4).localCheckpoint()
    # joined frontier: delta.o == edges.s (within one graph when grouped)
    e2 = edges.select(
        *([F.col(GROUP_COL).alias("__mg")] if grouped else []),
        F.col("s").alias("__m"),
        *[F.col("o" + suf).alias("__e_o" + suf) for suf in sufs])
    acc = edges
    delta = edges
    for i in range(MAX_ITERS):
        step_on = delta["o"] == e2["__m"]
        if grouped:
            step_on = step_on & (delta[GROUP_COL] == e2["__mg"])
        stepped = (delta.join(e2, step_on)
                   .select(*([delta[GROUP_COL]] if grouped else []),
                           *[F.col("s" + suf) for suf in sufs],
                           *[F.col("__e_o" + suf).alias("o" + suf) for suf in sufs])
                   .dropDuplicates(keys))
        seen = acc.select(
            *([F.col(GROUP_COL).alias("__ag")] if grouped else []),
            F.col("s").alias("__as"), F.col("o").alias("__ao"))
        anti_on = (stepped["s"] == F.col("__as")) & (stepped["o"] == F.col("__ao"))
        if grouped:
            anti_on = anti_on & (stepped[GROUP_COL] == F.col("__ag"))
        new = stepped.join(seen, anti_on, "left_anti")
        new = new.localCheckpoint() if (i % CHECKPOINT_EVERY == 0) else new
        if new.isEmpty():
            return acc
        acc = acc.unionByName(new)
        if i % CHECKPOINT_EVERY == CHECKPOINT_EVERY - 1:
            acc = acc.localCheckpoint()
        delta = new
    raise RuntimeError(f"path closure did not converge in {MAX_ITERS} iterations")


def eval_path(spark: SparkSession, quads: DataFrame, path,
              lookup_id: Optional[Callable[[str], Optional[int]]] = None,
              group: bool = False) -> DataFrame:
    """Evaluate a property path to an (s-family, o-family) pair DataFrame.
    With ``group=True`` every pair additionally carries GROUP_COL (the
    graph it was derived in) and sequence joins / closures / zero-length
    identities are keyed per graph — the GRAPH ?var evaluation (r6c)."""
    keys = ([GROUP_COL] if group else []) + ["s", "o"]
    if isinstance(path, A.PLink):
        return _link(quads, path.iri, lookup_id, group)
    if isinstance(path, A.PInv):
        return _swap(eval_path(spark, quads, path.path, lookup_id, group))
    if isinstance(path, A.PSeq):
        l = eval_path(spark, quads, path.left, lookup_id, group)
        r = eval_path(spark, quads, path.right, lookup_id, group)
        sufs = _sufs(l)
        r2 = r.select(*([F.col(GROUP_COL).alias("__mg")] if group else []),
                      F.col("s").alias("__m"),
                      *[F.col("o" + suf).alias("__r_o" + suf) for suf in sufs])
        on = l["o"] == r2["__m"]
        if group:
            on = on & (l[GROUP_COL] == r2["__mg"])
        return (l.join(r2, on)
                .select(*([l[GROUP_COL]] if group else []),
                        *[F.col("s" + suf) for suf in sufs],
                        *[F.col("__r_o" + suf).alias("o" + suf) for suf in sufs]))
    if isinstance(path, A.PAlt):
        return (eval_path(spark, quads, path.left, lookup_id, group)
                .unionByName(eval_path(spark, quads, path.right, lookup_id,
                                       group)))
    if isinstance(path, A.PMod):
        inner = eval_path(spark, quads, path.path, lookup_id, group)
        if path.mod == "+":
            return transitive_closure(inner)
        if path.mod == "*":
            return (transitive_closure(inner)
                    .unionByName(_nodes(quads, group)).dropDuplicates(keys))
        if path.mod == "?":
            return inner.unionByName(_nodes(quads, group)).dropDuplicates(keys)
        raise ValueError(path.mod)
    if isinstance(path, A.PNeg):
        enc = _is_enc(quads)

        def neg_filter(df: DataFrame, iris) -> DataFrame:
            if not iris:
                return df
            if enc:
                # terms absent from the dictionary cannot occur as predicates,
                # so they impose no constraint
                ids = [i for i in ((lookup_id(x) if lookup_id else None)
                                   for x in iris) if i is not None]
                return df.filter(~F.col("p_id").isin(ids)) if ids else df
            return df.filter(~F.col("p").isin(*iris))

        pre = _grp(quads) if group else []
        pieces = []
        if path.forward or not path.inverse:
            fwd = neg_filter(quads, path.forward)
            pieces.append(fwd.select(*pre, *_s_family(enc), *_o_family(enc)))
        if path.inverse:
            inv = neg_filter(quads, path.inverse)
            pieces.append(_swap(inv.select(*pre, *_s_family(enc),
                                           *_o_family(enc))))
        out = pieces[0]
        for piece in pieces[1:]:
            out = out.unionByName(piece)
        return out
    raise TypeError(f"unknown path node {path!r}")
