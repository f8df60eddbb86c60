"""SPARQL algebra → Spark DataFrame translator.

The translator is deliberately *declarative*: every algebra node becomes plain
DataFrame operations (filter/join/union/groupBy/window) so Catalyst + AQE own
the physical strategy — join reordering, broadcast-vs-shuffle selection,
partial aggregation, predicate pushdown into the quads scan (SURVEY §4).
The only imperative pieces are the recursive property-path operators, which
delegate to operators/paths.py (semi-naive DataFrame fixpoint).

Variable representation: SPARQL variable ``?v`` is the flat column family
``v`` (canonical term key), ``v__lex``, ``v__dt``, ``v__lang``, ``v__num``,
``v__ts`` (model.py). Joins/DISTINCT/GROUP BY operate on the key column only —
the key uniquely determines the family, so family columns ride along and are
pruned by Catalyst when unused.

Semantics parity target: W3C SPARQL 1.1 as accepted by the reference
(GraphDBSystemAdapter.java:246). Join compatibility of unbound shared
variables follows the spec (§18.3 compatible-mappings: an UNBOUND shared
variable is compatible with anything). That relation lives in one place,
the boundness-mask fan-out ``Translator._mask_pieces``; the compatibility
join, MINUS and EXISTS each only join its pieces (pinned by
tests/test_round11_fixes.py::test_values_undef_shared_variable_join).
Remaining documented deviation: numeric object constants in patterns match
by value (our encoder stores xsd:long for fixture integers).
"""

from __future__ import annotations

import dataclasses
import itertools
import re
from typing import Callable, Optional

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from graphdb_free_mocha_sa_spark.model import (NUMERIC_DTS, VAR_SUFFIXES,
                                               XSD_BOOLEAN, XSD_DATE,
                                               XSD_DATETIME,
                                               canonical_key_from_parts,
                                               canonical_object_key,
                                               date_shadow_py, var_cols,
                                               valid_num_lex)
from graphdb_free_mocha_sa_spark.sparql import algebra as A
from graphdb_free_mocha_sa_spark.store import DEFAULT_GRAPH
from graphdb_free_mocha_sa_spark.sparql.functions import (BNODE_SALT, DBL_DTS,
                                                          INT_DTS, TCol,
                                                          _num_tcol, binary,
                                                          builtin,
                                                          expr_has_bnode,
                                                          unary)

_FAM_RE = re.compile(r"__(lex|dt|lang|num|ts)$")


def var_names(df: DataFrame) -> list[str]:
    return [c for c in df.columns if not _FAM_RE.search(c)]


def term_parts_py(term) -> tuple:
    """(key, lex, dt, lang, num, ts) as Python values for a constant term."""
    if isinstance(term, A.IRI):
        return (term.value, term.value, None, None, None, None)
    if isinstance(term, A.BNode):
        v = "_:" + term.label
        return (v, v, None, None, None, None)
    if isinstance(term, A.Literal):
        import datetime
        dt = term.dt or "http://www.w3.org/2001/XMLSchema#string"
        num = None
        if dt in NUMERIC_DTS:
            # per-datatype lexical validation (r8 ADVICE fix): float()
            # alone admits "1e5"^^xsd:integer into the value space
            num = valid_num_lex(dt, term.lex)
        ts = None
        if dt == XSD_DATETIME:
            try:
                ts = datetime.datetime.fromisoformat(term.lex)
            except ValueError:
                ts = None
        elif dt == XSD_DATE:
            ts = date_shadow_py(term.lex)
        if term.lang:
            key = f'"{term.lex}"@{term.lang}'
        else:
            key = f'"{term.lex}"^^{dt}'
        return (key, term.lex, dt, term.lang, num, ts)
    raise TypeError(term)


def _path_nullable(p) -> bool:
    """Whether a property-path expression can match the empty word."""
    if isinstance(p, A.PMod):
        return p.mod in ("*", "?") or _path_nullable(p.path)
    if isinstance(p, A.PAlt):
        return _path_nullable(p.left) or _path_nullable(p.right)
    if isinstance(p, A.PSeq):
        return _path_nullable(p.left) and _path_nullable(p.right)
    if isinstance(p, A.PInv):
        return _path_nullable(p.path)
    return False


class Translator:
    """Algebra → DataFrame. Two quad representations:

    * **string mode** (default): ``quads(g,s,p,o_lex,...)`` — var keys are
      canonical term strings.
    * **encoded mode** (``term_dict`` given): ``quads(g_id,s_id,p_id,o_id,
      o_lex,...)`` — var keys are BIGINT dictionary ids (the reference's
      entity-id join design, repo-config.ttl:22-23). Scans bind s/p/g vars
      *lazily* (id key only, no term family); object vars keep the literal
      family inline. Every BGP/OPTIONAL/MINUS join, DISTINCT and GROUP BY
      then shuffles 8-byte longs. Term families are materialized only where
      an expression, ORDER BY, UNION alignment or the final projection needs
      them (``_ensure_family``/``_string_rep`` — a dictionary decode join on
      the post-join, usually tiny, solution set).
    """

    def __init__(self, spark: SparkSession, quads: DataFrame,
                 dataset_default: Optional[list[str]] = None,
                 dataset_named: Optional[list[str]] = None,
                 term_dict: Optional[DataFrame] = None,
                 lookup_id: Optional[Callable[[str], Optional[int]]] = None,
                 fts_registry: Optional[dict] = None):
        self.spark = spark
        self.quads = quads
        #: B43 full-text search: index-name IRI → operators.fts.FtsIndex,
        #: consulted by the luc: magic-predicate branch of BGP translation
        self.fts_registry = fts_registry
        self.dataset_default = dataset_default or []
        self.dataset_named = dataset_named or []
        self.term_dict = term_dict
        self.encoded = term_dict is not None
        self._lookup = lookup_id
        self._n = 0
        #: prologue BASE of the query being translated (engine sets it);
        #: consumed by the IRI()/URI() builtin for relative references
        self.query_base: Optional[str] = None
        #: vars currently injected by correlated-EXISTS decorrelation
        #: (§8.1.4 substitute semantics). Under substitution these become
        #: CONSTANTS inside the pattern — they restrict compatibility but
        #: are NOT part of any sub-pattern's domain, so MINUS must exclude
        #: them from its domain-overlap test (r8 ADVICE fix: an injected
        #: MINUS right side otherwise gains artificial domain overlap and
        #: removes solutions a disjoint-domain MINUS must keep).
        self._active_corr: frozenset[str] = frozenset()

    # ---------------------------------------------------- encoded-mode utils

    def lookup_id(self, term_key: str) -> Optional[int]:
        """Dictionary id for a constant term's canonical key (None = the term
        does not occur in the data, i.e. the pattern cannot match)."""
        return self._lookup(term_key) if self._lookup else None

    def _ensure_family(self, df: DataFrame, names) -> DataFrame:
        """Decode term families for lazy (id-keyed, family-less) vars via a
        dictionary join; the BIGINT key column is left untouched."""
        if not self.encoded:
            return df
        for v in names:
            if v not in df.columns or v + "__lex" in df.columns:
                continue
            if dict(df.dtypes).get(v) != "bigint":
                continue
            tag = self._uniq("__dec")
            d = self.term_dict.select(
                F.col("id").alias(tag),
                F.col("lex").alias(v + "__lex"), F.col("dt").alias(v + "__dt"),
                F.col("lang").alias(v + "__lang"), F.col("num").alias(v + "__num"),
                F.col("ts").alias(v + "__ts"))
            df = df.join(d, df[v] == F.col(tag), "left").drop(tag)
        return df

    def _string_rep(self, df: DataFrame, names) -> DataFrame:
        """Normalize vars to the string representation: term family present
        AND the key re-computed as the canonical term string. Required before
        expression evaluation / ORDER BY (both compare canonical keys) and
        when an id-keyed var meets a computed (string-keyed) var."""
        if not self.encoded:
            return df
        df = self._ensure_family(df, names)
        dtypes = dict(df.dtypes)
        rekey = {}
        for v in names:
            if v in df.columns and dtypes.get(v) == "bigint":
                rekey[v] = canonical_key_from_parts(
                    F.col(v + "__lex"), F.col(v + "__dt"), F.col(v + "__lang"))
        return df.withColumns(rekey) if rekey else df

    def _normalize_shared(self, left: DataFrame, right: DataFrame,
                          shared) -> tuple[DataFrame, DataFrame]:
        """Where a shared var is id-keyed on one side and string-keyed on the
        other (scan var meets BIND/VALUES var), fall back to string keys on
        both sides so the join compares canonical terms."""
        if not self.encoded or not shared:
            return left, right
        lt, rt = dict(left.dtypes), dict(right.dtypes)
        mismatch = [v for v in shared if lt.get(v) != rt.get(v)]
        if mismatch:
            left = self._string_rep(left, mismatch)
            right = self._string_rep(right, mismatch)
        return left, right

    # ------------------------------------------------------------ utils

    def _uniq(self, base: str) -> str:
        self._n += 1
        return f"{base}{self._n}"

    def _unit(self) -> DataFrame:
        return self.spark.range(1).drop("id")

    def _graph_scan(self, gctx) -> DataFrame:
        """quads restricted by graph context + dataset clause."""
        df = self.quads
        if self.encoded:
            def g_in(names):
                ids = [i for i in (self.lookup_id(n) for n in names)
                       if i is not None]
                return F.col("g_id").isin(ids) if ids else F.lit(False)
            # a dataset clause REPLACES the dataset: FROM alone empties
            # the named set, FROM NAMED alone empties the default graph
            # (SPARQL §13.2; r6 probe + review fixes)
            has_ds = bool(self.dataset_default or self.dataset_named)
            if gctx is None:
                return df.filter(g_in(self.dataset_default or [])) \
                    if has_ds else df
            if isinstance(gctx, str) and not gctx.startswith("?"):
                if has_ds and gctx not in self.dataset_named:
                    return df.filter(F.lit(False))
                return df.filter(g_in([gctx]))
            if has_ds:
                return df.filter(g_in(self.dataset_named or []))
            # GRAPH ?var ranges over NAMED graphs only — default-graph
            # rows must not leak a sentinel binding (r6c probe fix)
            did = self.lookup_id(DEFAULT_GRAPH)
            return df.filter(F.col("g_id") != did) if did is not None else df
        has_ds = bool(self.dataset_default or self.dataset_named)
        if gctx is None:
            if has_ds:
                df = (df.filter(F.col("g").isin(self.dataset_default))
                      if self.dataset_default else df.filter(F.lit(False)))
            return df
        if isinstance(gctx, str) and not gctx.startswith("?"):
            if has_ds and gctx not in self.dataset_named:
                return df.filter(F.lit(False))
            return df.filter(F.col("g") == gctx)
        # variable context: the named set (empty when a dataset clause
        # provided only FROM); without a dataset clause, NAMED graphs only —
        # the default-graph sentinel must not leak a binding (r6c probe fix)
        if has_ds:
            return (df.filter(F.col("g").isin(self.dataset_named))
                    if self.dataset_named else df.filter(F.lit(False)))
        return df.filter(F.col("g") != DEFAULT_GRAPH)

    # ------------------------------------------------------------ joins

    def _join(self, left: DataFrame, right: DataFrame, how: str = "inner",
              extra: Optional[Callable[[Callable[[str], TCol]], Column]] = None
              ) -> DataFrame:
        """Join two solution DataFrames on shared variable keys.

        ``extra`` builds an additional join condition (for OPTIONAL's embedded
        FILTER) given a var resolver that sees merged bindings.
        """
        lvars, rvars = set(var_names(left)), set(var_names(right))
        shared = sorted(lvars & rvars)
        left, right = self._normalize_shared(left, right, shared)

        # vars that may be UNBOUND on either side join under SPARQL
        # compatibility semantics (unbound matches anything, values merge)
        compat = {v for v in shared
                  if _maybe_unbound(left, v) or _maybe_unbound(right, v)}
        if self.encoded:
            # the compat merge coalesces FAMILY columns across sides — both
            # sides must agree on family presence for those vars
            for v in compat:
                if (v + "__lex" in left.columns) != (v + "__lex" in right.columns):
                    left = self._ensure_family(left, [v])
                    right = self._ensure_family(right, [v])

        suffix = self._uniq("__RJ")
        ren = {}
        for v in shared:
            for c in var_cols(v):
                ren[c] = c + suffix
        r2 = right
        for old, new in ren.items():
            r2 = r2.withColumnRenamed(old, new)

        if not shared and extra is None and how == "inner":
            return left.crossJoin(right)
        if not shared and how == "left_anti":
            # no shared vars: MINUS keeps everything (SPARQL compat edge case)
            return left

        if how == "inner" and extra is None and compat:
            # Compatibility semantics via a UNION of EQUI-joins instead of a
            # non-equi OR-condition (which Catalyst can only execute as a
            # BroadcastNestedLoopJoin — O(n·m) at scale). Partition both
            # sides on the boundness bitmask of the compat vars: the
            # all-bound⋈all-bound piece is a hash equi-join (the bulk of
            # the data); the unbound slivers — rows where OPTIONAL/UNION/
            # UNDEF left vars unbound, typically tiny — join on whatever
            # keys ARE bound on both sides.
            joined = self._compat_union_join(left, r2, sorted(compat),
                                             [u for u in shared
                                              if u not in compat], suffix)
        else:
            # OPTIONAL over maybe-unbound vars: unbound or equal; the
            # always-bound keys stay equi-join keys
            loose = sorted(compat)
            cond = _key_eq(left, r2, [v for v in shared if v not in loose],
                           suffix, null_safe=how == "left_anti")
            for v in loose:
                cond = cond & (left[v].isNull() | r2[v + suffix].isNull()
                               | (left[v] == r2[v + suffix]))
            if extra is not None:
                def resolver(name: str) -> TCol:
                    if name in shared or name in lvars:
                        return _fam_tcol(left, name)
                    if name not in r2.columns:
                        # bound on NEITHER side: row-level error term (r6
                        # review fix — BOUND(?never) must answer false)
                        return TCol()
                    return _fam_tcol(r2, name, suffix if name in shared else "")
                cond = cond & extra(resolver)
            joined = left.join(r2, cond, how)
        if how == "left_anti":
            return joined
        if compat:
            # merge each compat var's families: bound side wins
            merged = []
            for c in joined.columns:
                root = c.split("__", 1)[0]
                if c.startswith("__mu_"):
                    merged.append(F.col(c))
                elif root in compat and not c.endswith(suffix):
                    merged.append(F.coalesce(joined[c], joined[c + suffix])
                                  .alias(c))
                elif c.endswith(suffix):
                    continue
                else:
                    merged.append(F.col(c))
            return joined.select(*merged)
        # drop duplicated shared families from the right
        return joined.drop(*[c + suffix for v in shared for c in var_cols(v)])

    #: above this many compat vars, enumerate only the boundness masks that
    #: actually occur (two tiny distinct jobs) instead of all 4^k pieces
    COMPAT_STATIC_MAX_VARS = 2

    def _bound_mask(self, df: DataFrame, names: list[str]) -> Column:
        """Bitmask column: bit i set ⇔ names[i] is bound on this row."""
        m = F.lit(0)
        for i, c in enumerate(names):
            m = m + F.when(df[c].isNotNull(), F.lit(1 << i)).otherwise(F.lit(0))
        return m

    def _side_masks(self, df: DataFrame, col: str, k: int) -> list[int]:
        if k <= self.COMPAT_STATIC_MAX_VARS:
            return list(range(1 << k))
        return sorted(r[0] for r in df.select(col).distinct().collect())

    def _mask_pieces(self, left: DataFrame, r2: DataFrame,
                     compat: list[str], strict: list[str], suffix: str):
        """§18.3 compatible mappings as hash-joinable pieces, shared by the
        compatibility join, MINUS and EXISTS.

        Partition each side by the boundness bitmask of the maybe-unbound
        shared vars ``compat`` (``r2`` carries them renamed with
        ``suffix``). An unbound var is compatible with anything, so a
        (left-mask, right-mask) pair needs equality exactly on the
        ``strict`` always-bound keys plus the compat vars bound on BOTH
        sides. The pairs partition the row-pair space. Yields each left
        piece with its ``(right piece, keys)`` pairs. For k ≤
        ``COMPAT_STATIC_MAX_VARS`` all 2^k masks per side are enumerated
        statically (AQE prunes empty pieces at runtime); beyond that only
        the masks present (one tiny distinct collect per side, ≤ 2^k rows),
        so an empty side yields no pieces."""
        k = len(compat)
        lm_col, rm_col = self._uniq("__bml"), self._uniq("__bmr")
        # Materialize both inputs ONCE before fanning out into mask pieces:
        # without this every piece re-executes its input subtree, and
        # CHAINED compat operators (OPTIONAL after OPTIONAL) multiply —
        # 4^depth re-executions. Lazy localCheckpoint = one computation,
        # all pieces scan the pinned partitions.
        lt = left.withColumn(lm_col, self._bound_mask(left, compat)) \
                 .localCheckpoint(eager=False)
        rt = r2.withColumn(
            rm_col, self._bound_mask(r2, [v + suffix for v in compat])) \
            .localCheckpoint(eager=False)
        r_masks = self._side_masks(rt, rm_col, k)
        for lm in self._side_masks(lt, lm_col, k):
            yield (lt.filter(F.col(lm_col) == lm).drop(lm_col),
                   [(rt.filter(F.col(rm_col) == rm).drop(rm_col),
                     strict + [v for i, v in enumerate(compat)
                               if (lm >> i) & 1 and (rm >> i) & 1])
                    for rm in r_masks])

    def _compat_union_join(self, left: DataFrame, r2: DataFrame,
                           compat: list[str], strict: list[str],
                           suffix: str) -> DataFrame:
        """Compatibility join as a UNION of hash EQUI-joins over the
        :meth:`_mask_pieces` fan-out, any number of maybe-unbound shared
        vars; a pair with no key bound on both sides is a cross join."""
        pieces = [lp.join(rp, _key_eq(lp, rp, keys, suffix), "inner")
                  if keys else lp.crossJoin(rp)
                  for lp, rights in self._mask_pieces(left, r2, compat,
                                                      strict, suffix)
                  for rp, keys in rights]
        if not pieces:
            # dynamic masks over an EMPTY side: the join is empty
            return left.crossJoin(r2).filter(F.lit(False))
        out = pieces[0]
        for piece in pieces[1:]:
            out = out.unionByName(piece)
        if len(pieces) <= 4:
            # the common single-maybe-unbound-var shape: 4 pieces, no
            # collapse shuffle needed (AQE coalesces at runtime)
            return out
        # pin the piece union once (lazy) AND collapse its partitioning:
        # a union of N shuffled pieces carries N x shuffle.partitions
        # output partitions, and every piece of the NEXT fan-out scans
        # all of them — chained compat operators otherwise multiply map
        # tasks (an r8 soak case stacked to a 73k-task stage). One cheap
        # repartition bounds every downstream scan to the session's
        # shuffle width.
        return self._collapse_union(out)

    def _collapse_union(self, df: DataFrame) -> DataFrame:
        """Repartition a piece union to the session shuffle width and pin
        it lazily — bounds both the partition count every downstream
        operator scans and the number of times the union is re-planned."""
        n = int(self.spark.conf.get("spark.sql.shuffle.partitions", "32"))
        return df.repartition(n).localCheckpoint(eager=False)

    def _minus_mask_anti(self, left: DataFrame, right: DataFrame,
                         shared: list[str],
                         corr: set[str] = frozenset()) -> DataFrame:
        """Spec-exact MINUS (§8.3) with maybe-unbound shared vars as HASH
        equi anti-joins only — no non-equi ``compat & overlap`` condition
        (which Catalyst executes as a BroadcastNestedLoopJoin at scale).

        Over the :meth:`_mask_pieces` fan-out, a pair whose key set is
        empty has no domain overlap and removes nothing. Each left piece
        anti-joins every overlapping right piece in a chain (survive =
        compatible with NO μ′ = survive every anti-join), then the pieces
        union back."""
        left, right = self._normalize_shared(left, right, shared)
        suffix = self._uniq("__MN")
        compat = sorted(v for v in shared
                        if _maybe_unbound(left, v) or _maybe_unbound(right, v))
        always = [v for v in shared if v not in compat]
        r2 = right.select(*[F.col(v).alias(v + suffix) for v in shared]) \
                  .dropDuplicates()
        out: Optional[DataFrame] = None
        for lp, rights in self._mask_pieces(left, r2, compat, always, suffix):
            for rp, keys in rights:
                if all(v in corr for v in keys):
                    # no NON-injected var bound on both ⇒ no domain
                    # overlap (corr vars are §8.1.4 constants) ⇒ this
                    # piece removes nothing
                    continue
                rp = rp.select(*[F.col(v + suffix) for v in keys]) \
                       .dropDuplicates()
                lp = lp.join(rp, _key_eq(lp, rp, keys, suffix), "left_anti")
            out = lp if out is None else out.unionByName(lp)
        if out is None:
            # dynamic mask enumeration (k > COMPAT_STATIC_MAX_VARS) over
            # an EMPTY left side yields no pieces at all — the MINUS of
            # an empty multiset is empty, not a None frame (r7 fuzz-soak
            # fix: returned None and crashed the projection)
            return left.filter(F.lit(False))
        # same piece-union collapse rationale as _compat_union_join (r8)
        return out if len(compat) <= 1 else self._collapse_union(out)

    # ------------------------------------------------------------ scans

    def _scan_triple(self, tp: A.TriplePattern, gctx) -> DataFrame:
        # property paths that aren't plain links go through the path engine
        p = tp.p
        if isinstance(p, A.PLink):
            pred: Optional[str] = p.iri
        elif isinstance(p, A.Var):
            pred = None
        elif isinstance(p, (A.PInv, A.PSeq, A.PAlt, A.PMod, A.PNeg)):
            return self._scan_path(tp, gctx)
        else:
            pred = None

        df = self._graph_scan(gctx)
        sel: list[Column] = []
        bound: dict[str, str] = {}   # var -> position (first occurrence)

        def bind(term, pos):
            nonlocal df
            if isinstance(term, A.BNode):
                term = A.Var("__bnp_" + term.label)
            if isinstance(term, A.Var):
                if term.name in bound:
                    # repeated var in one pattern: equality filter
                    first = bound[term.name]
                    df = df.filter(_pos_key(first) == _pos_key(pos))
                else:
                    bound[term.name] = pos
            elif pos == "o":
                # literal family columns are inline in BOTH representations,
                # so object constants always filter on the value columns
                # (pushdown-able to the parquet scan)
                if isinstance(term, A.Literal) and (term.dt in NUMERIC_DTS) \
                        and (v := valid_num_lex(term.dt, term.lex)) is not None \
                        and v == v:
                    # v == v excludes NaN (never equal to the stored shadow);
                    # invalid lexicals fall through to exact lex/dt matching
                    df = df.filter(F.col("o_num") == v)
                elif isinstance(term, A.Literal):
                    cond = ((F.col("o_lex") == term.lex)
                            & (F.col("o_dt") == (term.dt or "http://www.w3.org/2001/XMLSchema#string")))
                    # "chat"@fr must not match "chat"@en: both carry
                    # rdf:langString as o_dt, so the tag itself must be compared
                    if term.lang:
                        cond = cond & (F.lower(F.col("o_lang")) == term.lang.lower())
                    else:
                        cond = cond & F.col("o_lang").isNull()
                    df = df.filter(cond)
                else:
                    df = df.filter(F.col("o_dt").isNull() & (F.col("o_lex") == term.value))
            elif isinstance(term, A.Literal):
                # a literal in subject/graph position is VALID SPARQL but
                # can never match an RDF graph (r7 probe fix: used to
                # crash on .value and sentinel the query)
                df = df.filter(F.lit(False))
            elif self.encoded:
                i = self.lookup_id(term.value)
                df = df.filter(F.col(pos + "_id") == i) if i is not None \
                    else df.filter(F.lit(False))
            else:
                df = df.filter(F.col(pos) == term.value)

        def _pos_key(pos: str) -> Column:
            if self.encoded:
                return F.col(pos + "_id")
            return canonical_object_key() if pos == "o" else F.col(pos)

        bind(tp.s, "s")
        if pred is not None:
            if self.encoded:
                i = self.lookup_id(pred)
                df = df.filter(F.col("p_id") == i) if i is not None \
                    else df.filter(F.lit(False))
            else:
                df = df.filter(F.col("p") == pred)
        elif isinstance(p, A.Var):
            bind(p, "p")
        bind(tp.o, "o")
        if isinstance(gctx, str) and gctx.startswith("?"):
            gv = gctx[1:]
            if gv not in bound:
                bound[gv] = "g"
            else:
                # GRAPH ?g { ?g ?p ?o }: the graph name must equal the value
                # already bound at the triple position — keep the constraint
                df = df.filter(_pos_key("g") == _pos_key(bound[gv]))

        for v, pos in bound.items():
            sel.extend(_pos_family_enc(pos, v) if self.encoded
                       else _pos_family(pos, v))
        if not sel:
            sel = [F.lit(1).alias(self._uniq("__one"))]
        return df.select(*sel)

    def _named_graphs_df(self, gctx, gvar: str) -> DataFrame:
        """One row per named graph visible in ``gctx``, bound to ``gvar``
        (id-keyed in encoded mode, full family otherwise)."""
        scan = self._graph_scan(gctx)
        if self.encoded:
            return scan.select(F.col("g_id").alias(gvar)).dropDuplicates()
        return scan.select(*_pos_family("g", gvar)).dropDuplicates([gvar])

    def _scan_path(self, tp: A.TriplePattern, gctx) -> DataFrame:
        from graphdb_free_mocha_sa_spark.operators.paths import (GROUP_COL,
                                                                 eval_path)
        grouped = isinstance(gctx, str) and gctx.startswith("?")
        gvar = gctx[1:] if grouped else None
        nullable = _path_nullable(tp.p)
        s_const = not isinstance(tp.s, (A.Var, A.BNode))
        o_const = not isinstance(tp.o, (A.Var, A.BNode))
        # SPARQL zero-length path: a NULLABLE path (one that can match
        # the empty word — */?, an alternation with a nullable branch, a
        # sequence of nullables) between identical CONSTANT endpoints
        # matches unconditionally, including terms absent from the graph
        # (r6 probe + review fixes; matches Jena/rdf4j). Under GRAPH ?g it
        # matches once PER NAMED GRAPH (§18.4 per-graph evaluation).
        if nullable and s_const and o_const \
                and term_parts_py(tp.s)[0] == term_parts_py(tp.o)[0]:
            if grouped:
                return self._named_graphs_df(gctx, gvar)
            if isinstance(gctx, str):
                # GRAPH <g> { <x> p* <x> }: the unit solution exists only if
                # <g> is actually a named graph of the dataset — same
                # membership check the GRAPH ?g branch performs via
                # _named_graphs_df (r7 advisor fix).
                return (self._graph_scan(gctx).limit(1)
                        .select(F.lit(1).alias(self._uniq("__one"))))
            return self._unit()
        # under a graph VARIABLE the evaluation is per named graph: pairs
        # carry GROUP_COL and closures/joins are graph-keyed (no
        # cross-graph chaining — r6c fix; this used to drop ?g and crash)
        pairs = eval_path(self.spark, self._graph_scan(gctx), tp.p,
                          lookup_id=self.lookup_id if self.encoded else None,
                          group=grouped)
        # pairs carries endpoint families "s"/"o" (key-only in encoded mode —
        # the whole fixpoint then shuffles 8-byte ids)
        sufs = [suf for suf in VAR_SUFFIXES if ("o" + suf) in pairs.columns]
        df = pairs
        out_cols: list[Column] = []
        bound: dict[str, str] = {}
        for term, pos in ((tp.s, "s"), (tp.o, "o")):
            if isinstance(term, A.BNode):
                term = A.Var("__bnp_" + term.label)
            if isinstance(term, A.Var):
                bound.setdefault(term.name, pos)
                for suf in sufs:
                    out_cols.append(F.col(pos + suf).alias(term.name + suf))
            else:
                key = term_parts_py(term)[0]
                if self.encoded:
                    i = self.lookup_id(key)
                    df = df.filter(F.col(pos) == i) if i is not None \
                        else df.filter(F.lit(False))
                else:
                    df = df.filter(F.col(pos) == key)
        if isinstance(tp.s, A.Var) and isinstance(tp.o, A.Var) and tp.s.name == tp.o.name:
            df = df.filter(F.col("s") == F.col("o"))
            out_cols = [F.col("s" + suf).alias(tp.s.name + suf) for suf in sufs]
        if grouped:
            if gvar in bound:
                # GRAPH ?g { ?g <p>* ?o }: graph name = endpoint value
                df = df.filter(F.col(GROUP_COL) == F.col(bound[gvar]))
            elif self.encoded:
                out_cols.append(F.col(GROUP_COL).alias(gvar))
            else:
                c = F.col(GROUP_COL)
                out_cols.extend([
                    c.alias(gvar), c.alias(gvar + "__lex"),
                    F.lit(None).cast("string").alias(gvar + "__dt"),
                    F.lit(None).cast("string").alias(gvar + "__lang"),
                    F.lit(None).cast("double").alias(gvar + "__num"),
                    F.lit(None).cast("timestamp").alias(gvar + "__ts")])
        if not out_cols:
            out_cols = [F.lit(1).alias(self._uniq("__one"))]
        out = df.select(*out_cols)
        if nullable and (s_const != o_const):
            out = self._zero_length_supplement(out, tp, gctx, gvar)
        return out

    def _zero_length_supplement(self, out: DataFrame, tp: A.TriplePattern,
                                gctx, gvar) -> DataFrame:
        """§18.4 ZeroOrOne/ZeroOrMorePath with a constant endpoint X and a
        variable V: the result INCLUDES V ← X even when X occurs nowhere
        in the graph (r6c probe fix — the identity-pair union only covers
        terms present in the graph). Under GRAPH ?g the row repeats per
        named graph. The supplement is string-keyed (the term may be
        absent from the dictionary), so in encoded mode the main result is
        re-keyed first; anti-join keeps the row out when already present."""
        from pyspark.sql.types import (DoubleType, StringType, StructField,
                                       StructType, TimestampType)
        s_const = not isinstance(tp.s, (A.Var, A.BNode))
        const, var = (tp.s, tp.o) if s_const else (tp.o, tp.s)
        vname = ("__bnp_" + var.label) if isinstance(var, A.BNode) \
            else var.name
        fields = [StructField(vname, StringType()),
                  StructField(vname + "__lex", StringType()),
                  StructField(vname + "__dt", StringType()),
                  StructField(vname + "__lang", StringType()),
                  StructField(vname + "__num", DoubleType()),
                  StructField(vname + "__ts", TimestampType())]
        if gvar is not None and gvar == vname:
            # GRAPH ?g { ?g <p>? <const> }: the zero-length row binds the
            # graph var to the constant, so it exists only if the
            # constant IS a named graph (review fix: the crossJoin path
            # duplicated the gvar columns and crashed)
            gdf = self._named_graphs_df(gctx, gvar)
            if self.encoded:
                gdf = self._string_rep(gdf, [gvar])
                out = self._string_rep(out, [vname])
            zr = gdf.filter(F.col(gvar) == F.lit(term_parts_py(const)[0]))
            zr = zr.select(*out.columns)
            zr = zr.join(out.select(gvar).dropDuplicates(),
                         on=[gvar], how="left_anti")
            return out.unionByName(zr)
        zr = self.spark.createDataFrame([term_parts_py(const)],
                                        StructType(fields))
        keys = [vname]
        if gvar is not None:
            gdf = self._named_graphs_df(gctx, gvar)
            if self.encoded:
                gdf = self._string_rep(gdf, [gvar])
            zr = zr.crossJoin(gdf)
            keys.append(gvar)
        if self.encoded:
            out = self._string_rep(out, [vname] + ([gvar] if gvar else []))
        zr = zr.select(*out.columns)
        zr = zr.join(out.select(*keys).dropDuplicates(),
                     on=keys, how="left_anti")
        return out.unionByName(zr)

    # ------------------------------------------------------------ patterns

    def translate(self, node, gctx=None) -> DataFrame:
        if isinstance(node, _DFLeaf):
            # prepared solution frame injected by the correlated-EXISTS
            # decorrelation (§8.1.4 substitute semantics)
            return node.df
        if isinstance(node, A.BGP):
            if not node.triples:
                return self._unit()
            from graphdb_free_mocha_sa_spark.operators.fts import (LUC_NS,
                                                                   LUC_SCORE)
            fts_m, fts_s, plain = [], [], []
            for tp in node.triples:
                if isinstance(tp.p, A.PLink) and tp.p.iri.startswith(LUC_NS):
                    (fts_s if tp.p.iri == LUC_SCORE else fts_m).append(tp)
                else:
                    plain.append(tp)
            df = None
            if plain:
                ordered = _order_bgp(plain)
                df = self._scan_triple(ordered[0], gctx)
                for tp in ordered[1:]:
                    df = self._join(df, self._scan_triple(tp, gctx))
            if not (fts_m or fts_s):
                return df
            # B43 luc: magic predicates — match frames are (usually tiny)
            # pre-scored entity sets, hash-joined into the group on the
            # entity var; luc:score binds the hidden score of the LAST
            # match on the same entity var within this group
            score_cols: dict[str, str] = {}
            for tp in fts_m:
                mf, v, hidden = self._fts_match_frame(tp)
                if v is not None:
                    score_cols[v] = hidden
                df = mf if df is None else self._join(df, mf)
            if df is None:
                df = self._unit()
            for tp in fts_s:
                df = self._fts_attach_score(df, tp, score_cols)
            return df
        if isinstance(node, A.Join):
            # SERVICE with a variable endpoint binds against the OTHER side
            # of the join (per-distinct-endpoint execution)
            if isinstance(node.right, A.Service) \
                    and isinstance(node.right.endpoint, A.Var):
                return self._service_var_join(
                    self.translate(node.left, gctx), node.right)
            if isinstance(node.left, A.Service) \
                    and isinstance(node.left.endpoint, A.Var):
                return self._service_var_join(
                    self.translate(node.right, gctx), node.left)
            return self._join(self.translate(node.left, gctx),
                              self.translate(node.right, gctx))
        if isinstance(node, A.LeftJoin):
            left = self.translate(node.left, gctx)
            right = self.translate(node.right, gctx)
            extra = None
            if node.expr is not None:
                expr = node.expr
                if _expr_has_exists(expr):
                    # (NOT) EXISTS needs flag columns materialized on a
                    # concrete merged frame — impossible inside a join
                    # condition. Use the §18.2.2.2 algebra directly:
                    # LeftJoin(L,R,F) = Filter(F, Join(L,R)) ∪ Diff(L,R,F)
                    # (r7 fix: used to error the whole query → sentinel)
                    return self._leftjoin_with_exists(left, right, expr,
                                                      gctx)
                if self.encoded:
                    ev = _expr_vars(expr)
                    left = self._string_rep(left, ev & set(var_names(left)))
                    right = self._string_rep(right, ev & set(var_names(right)))
                extra = lambda resolver: self._eval(expr, resolver, {}).ebv()
            out = self._join(left, right, "left_outer", extra)
            # right-only vars are unbound wherever the OPTIONAL didn't match
            return _mark_maybe_unbound(
                out, sorted(set(var_names(right)) - set(var_names(left))))
        if isinstance(node, A.Union):
            l = self.translate(node.left, gctx)
            r = self.translate(node.right, gctx)
            if self.encoded:
                l, r = self._align_union(l, r)
            return _union_pad(l, r)
        if isinstance(node, A.Minus):
            left = self.translate(node.left, gctx)
            right = self.translate(node.right, gctx)
            shared = sorted(set(var_names(left)) & set(var_names(right)))
            # vars injected by correlated-EXISTS decorrelation are
            # CONSTANTS under §8.1.4 substitution — they restrict which
            # μ′ a μ may meet (equality below) but create NO domain
            # overlap (r8 ADVICE fix: a right side domain-disjoint from
            # the left must leave the left untouched even though both
            # sides carry the injected outer vars)
            corr = set(self._active_corr) & set(shared)
            if all(v in corr for v in shared):
                return left
            if not any(_maybe_unbound(left, v) or _maybe_unbound(right, v)
                       for v in shared):
                # all shared vars always bound: removal condition reduces to
                # plain equality — fast equi anti-join
                return self._join(left, right, "left_anti")
            # SPARQL 1.1 §8.3 spec-exact MINUS: μ is removed iff some μ′ is
            # compatible AND dom(μ)∩dom(μ′)≠∅ — i.e. every shared var is
            # unbound-on-a-side or equal, AND at least one is bound on BOTH.
            # (A both-unbound var does NOT create domain overlap.)
            return self._minus_mask_anti(left, right, shared, corr)
        if isinstance(node, A.Filter):
            df = self.translate(node.pattern, gctx)
            expr = node.expr
            df, exists_map, flags = self._materialize_exists(expr, df, gctx)
            if self.encoded:
                df = self._string_rep(df, _expr_vars(expr))
            df, flags = self._salt_bnode(df, expr, flags)
            cond = self._eval(expr, _df_resolver(df), exists_map).ebv()
            return df.filter(cond).drop(*flags)
        if isinstance(node, A.Extend):
            # Consecutive BINDs evaluate as ONE chain over the shared
            # base pattern so a single __bnode_salt spans them — §17.4.2.9
            # requires BNODE("k") to return the SAME blank node for the
            # same argument across expressions of one solution mapping
            # (r11 conformance find: per-BIND salting made two
            # BIND(BNODE("k")) calls mint different nodes).
            chain = [node]
            base = node.pattern
            while isinstance(base, A.Extend):
                chain.append(base)
                base = base.pattern
            chain.reverse()                       # innermost BIND first
            df = self.translate(base, gctx)
            all_flags: list[str] = []
            for ext in chain:
                if ext.var in var_names(df):
                    # §10.1: the BIND target must not be in-scope in the
                    # preceding pattern (r6c probe fix: silent overwrite)
                    from graphdb_free_mocha_sa_spark.sparql.parser import \
                        SparqlSyntaxError
                    raise SparqlSyntaxError(
                        f"BIND: variable ?{ext.var} is already bound in "
                        "the group")
                df, exists_map, flags = self._materialize_exists(
                    ext.expr, df, gctx)
                if self.encoded:
                    df = self._string_rep(df, _expr_vars(ext.expr))
                df, flags = self._salt_bnode(df, ext.expr, flags)
                all_flags.extend(flags)
                t = self._eval(ext.expr, _df_resolver(df), exists_map)
                df = _with_family(df, ext.var, t)
            return df.drop(*dict.fromkeys(all_flags))
        if isinstance(node, A.ValuesTable):
            return self._values_df(node)
        if isinstance(node, A.GraphPat):
            if isinstance(node.graph, A.Var):
                gv = node.graph.name
                inner = self.translate(node.pattern, "?" + gv)
                # §18.5 Graph(var, P) iterates the dataset's NAMED graphs
                # and binds var for EACH — even when (part of) P contains
                # no triple scan to carry the graph column (pure VALUES/
                # BIND/subselect, or a branch overridden by a nested
                # GRAPH <iri>). Fan those rows out across the named-graph
                # list (r7 fuzz-soak fix: ?var stayed unbound).
                if gv not in var_names(inner):
                    ng = self._named_graphs_df("?" + gv, gv)
                    return inner.crossJoin(F.broadcast(ng))
                if _maybe_unbound(inner, gv):
                    ng = self._named_graphs_df("?" + gv, gv)
                    # the fan-out binds ?g on EVERY row — drop the stale
                    # __mu_<g>_* markers from both branches so downstream
                    # joins on ?g keep the fast strict path; _union_pad
                    # re-marks only what is genuinely still optional
                    # (r8 ADVICE fix)
                    mu = [c for c in inner.columns
                          if c.startswith(f"__mu_{gv}_")]
                    boundp = inner.filter(F.col(gv).isNotNull()).drop(*mu)
                    nullp = inner.filter(F.col(gv).isNull()).drop(
                        *mu, *[c for c in var_cols(gv) if c in inner.columns])
                    nullp = nullp.crossJoin(F.broadcast(ng))
                    return _union_pad(boundp, nullp)
                return inner
            return self.translate(node.pattern, node.graph.value)
        if isinstance(node, A.SubSelect):
            return self.translate_select(node.query)
        if isinstance(node, A.Service):
            return self._service(node)
        raise TypeError(f"unknown pattern node {node!r}")

    # ------------------------------------------------------------ SERVICE

    def _service(self, node: A.Service) -> DataFrame:
        """SERVICE federation (B20): POST the captured group to the remote
        SPARQL endpoint, decode the SPARQL-Results-JSON bindings into a
        solution DataFrame (term families, maybe-unbound marks), and let the
        normal join machinery combine it with the local pattern. One driver-
        side HTTP round trip per SERVICE clause — the remote result set is
        assumed endpoint-sized, exactly as in the reference's federation
        (RDF4J SERVICE). SILENT failures yield the unit solution.

        A VARIABLE endpoint reaching this method was not bound by any
        upstream pattern (the bound case is routed through
        :meth:`_service_var_join` by the Join translation): per SPARQL 1.1
        Federated Query that evaluation is an error."""
        if isinstance(node.endpoint, A.Var):
            if node.silent:
                return self._unit()
            raise ValueError(
                f"SERVICE ?{node.endpoint.name}: endpoint variable is not "
                "bound by the upstream pattern")
        try:
            return self._service_fetch(
                node.endpoint.value, node.query,
                sorted(_pattern_scope_vars(node.pattern)))
        except Exception:
            if node.silent:
                return self._unit()
            raise

    def _service_var_join(self, left: DataFrame, node: A.Service) -> DataFrame:
        """``<upstream> SERVICE ?ep { G }`` — execute the captured group
        once per distinct upstream value of ?ep (the reference's jena-arq
        behaviour for bound service variables), joining each endpoint's
        bindings with the upstream rows that carried that endpoint.

        The distinct-endpoint collect is driver-side by design: endpoint
        values name physical SPARQL services, so their cardinality is small
        regardless of data scale. The upstream side is lazily checkpointed
        so the per-endpoint pieces share one computation."""
        ep = node.endpoint.name
        if ep not in var_names(left):
            if node.silent:
                return left
            raise ValueError(
                f"SERVICE ?{ep}: endpoint variable is not bound by the "
                "upstream pattern")
        left = self._string_rep(left, [ep]).localCheckpoint(eager=False)
        eps = [r[0] for r in left.select(ep).dropDuplicates().collect()]
        out: Optional[DataFrame] = None
        for e in sorted(eps, key=lambda x: (x is None, x)):
            lp = left.filter(F.col(ep).isNull() if e is None
                             else F.col(ep) == e)
            if e is None:
                # rows where ?ep itself is unbound cannot name a service
                if not node.silent:
                    raise ValueError(
                        f"SERVICE ?{ep}: endpoint variable unbound on some "
                        "solutions")
                piece = lp                      # SILENT: unit solution
            else:
                try:
                    piece = self._join(lp, self._service_fetch(
                        e, node.query,
                        sorted(_pattern_scope_vars(node.pattern))))
                except Exception:
                    if not node.silent:
                        raise
                    piece = lp
            out = piece if out is None else _union_pad(out, piece)
        return out if out is not None else left.limit(0)

    def _service_fetch(self, endpoint: str, query: str,
                       expect_vars=()) -> DataFrame:
        """One HTTP round trip: POST ``query``, decode the
        SPARQL-Results-JSON bindings into a solution DataFrame.

        ``expect_vars`` = the captured group's in-scope variables; any the
        endpoint's head omits (legal for an all-empty result column, and
        some endpoints send ``"vars": []`` with zero bindings) are padded
        as unbound columns so downstream projection still resolves (r9
        protocol-matrix find: an empty remote result crashed the plan with
        UNRESOLVED_COLUMN instead of joining to zero solutions)."""
        import json as _json
        import urllib.error
        import urllib.parse
        import urllib.request

        data = urllib.parse.urlencode({"query": query}).encode()
        req = urllib.request.Request(
            endpoint, data=data,
            headers={"Content-Type": "application/x-www-form-urlencoded",
                     "Accept": "application/sparql-results+json"})
        with urllib.request.urlopen(req, timeout=60) as resp:
            payload = _json.loads(resp.read().decode("utf-8"))
        variables = list(payload["head"]["vars"])
        bindings = payload["results"]["bindings"]
        variables += [v for v in expect_vars if v not in variables]

        from pyspark.sql.types import (DoubleType, StringType, StructField,
                                       StructType, TimestampType)
        fields = []
        for v in variables:
            fields += [StructField(v, StringType()),
                       StructField(v + "__lex", StringType()),
                       StructField(v + "__dt", StringType()),
                       StructField(v + "__lang", StringType()),
                       StructField(v + "__num", DoubleType()),
                       StructField(v + "__ts", TimestampType())]
        rows, sometimes_unbound = [], set()
        for b in bindings:
            vals: list = []
            for v in variables:
                cell = b.get(v)
                if cell is None:
                    sometimes_unbound.add(v)
                    vals.extend((None,) * 6)
                    continue
                kind, lex = cell.get("type"), cell.get("value", "")
                if kind == "uri":
                    vals.extend((lex, lex, None, None, None, None))
                elif kind == "bnode":
                    # remote bnode labels are scoped to the endpoint
                    bl = "_:svc_" + lex
                    vals.extend((bl, bl, None, None, None, None))
                else:
                    lang = cell.get("xml:lang")
                    dt = cell.get("datatype") or (
                        "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"
                        if lang else "http://www.w3.org/2001/XMLSchema#string")
                    num = ts = None
                    if dt in NUMERIC_DTS:
                        num = valid_num_lex(dt, lex)
                    elif dt == XSD_DATETIME:
                        import datetime as _dt
                        try:
                            ts = _dt.datetime.fromisoformat(lex.replace("Z", "+00:00"))
                        except ValueError:
                            ts = None
                    elif dt == XSD_DATE:
                        ts = date_shadow_py(lex)
                    key = f'"{lex}"@{lang}' if lang else f'"{lex}"^^{dt}'
                    vals.extend((key, lex, dt, lang, num, ts))
            rows.append(tuple(vals))
        df = self.spark.createDataFrame(rows, StructType(fields))
        return _mark_maybe_unbound(df, sorted(sometimes_unbound))

    def _align_union(self, l: DataFrame, r: DataFrame) -> tuple[DataFrame, DataFrame]:
        """UNION branches must agree per shared var on key dtype AND family
        presence (NULL-padding a lazy var's family would fake unboundness)."""
        shared = sorted(set(var_names(l)) & set(var_names(r)))
        l, r = self._normalize_shared(l, r, shared)
        for v in shared:
            if (v + "__lex" in l.columns) != (v + "__lex" in r.columns):
                l = self._ensure_family(l, [v])
                r = self._ensure_family(r, [v])
        return l, r

    def _leftjoin_with_exists(self, left: DataFrame, right: DataFrame,
                              expr, gctx) -> DataFrame:
        """LeftJoin whose embedded FILTER contains (NOT) EXISTS.

        §18.2.2.2: LeftJoin(Ω1, Ω2, F) = Filter(F, Join(Ω1, Ω2)) ∪
        Diff(Ω1, Ω2, F). The EXISTS flags materialize on the concrete
        joined frame (the standard shared-var semi-join machinery), which
        a join *condition* cannot host. Cost: one inner join + one
        id-keyed anti-join instead of a single left join — only paid when
        the OPTIONAL filter actually contains EXISTS."""
        lid = self._uniq("__lj")
        # stable row ids across the two uses of `left` (the lazy
        # localCheckpoint guarantees one evaluation of the nondeterministic
        # id — same pattern as the compat-join mask fan-out)
        left = left.withColumn(lid, F.monotonically_increasing_id()) \
                   .localCheckpoint(eager=False)
        joined = self._join(left, right, "inner")
        joined, exists_map, flags = self._materialize_exists(expr, joined,
                                                             gctx)
        if self.encoded:
            joined = self._string_rep(joined, _expr_vars(expr))
        joined, flags = self._salt_bnode(joined, expr, flags)
        cond = self._eval(expr, _df_resolver(joined), exists_map).ebv()
        matched = joined.filter(cond).drop(*flags)
        # Diff: keep μ1 with NO compatible-and-satisfying μ2
        anti = left.join(matched.select(lid), on=lid, how="left_anti")
        out = _union_pad(anti, matched).drop(lid)
        return _mark_maybe_unbound(
            out, sorted(set(var_names(right)) - set(var_names(left))))

    def _values_df(self, node: A.ValuesTable) -> DataFrame:
        from pyspark.sql.types import (DoubleType, StringType, StructField,
                                       StructType, TimestampType)
        fields, rows = [], []
        for v in node.variables:
            fields += [StructField(v, StringType()),
                       StructField(v + "__lex", StringType()),
                       StructField(v + "__dt", StringType()),
                       StructField(v + "__lang", StringType()),
                       StructField(v + "__num", DoubleType()),
                       StructField(v + "__ts", TimestampType())]
        undef_vars = set()
        for row in node.rows:
            vals: list = []
            for v, term in zip(node.variables, row):
                if term is None:
                    undef_vars.add(v)
                vals.extend((None,) * 6 if term is None else term_parts_py(term))
            rows.append(tuple(vals))
        df = self.spark.createDataFrame(rows, StructType(fields))
        return _mark_maybe_unbound(df, sorted(undef_vars))

    # ------------------------------------------------------- FTS (B43 luc:)

    def _fts_match_frame(self, tp: A.TriplePattern):
        """Translate ``?node luc:<index> "query"`` into a scored entity
        frame: string-keyed var family for the subject plus a hidden
        ``__lucscore_*`` column (picked up by a later luc:score pattern).
        Returns ``(frame, subject_var_or_None, hidden_score_col)``."""
        from graphdb_free_mocha_sa_spark.operators.fts import (FtsError,
                                                               fts_match)
        iri = tp.p.iri
        reg = self.fts_registry or {}
        if iri not in reg:
            raise FtsError(
                f"no such FTS index <{iri}> — build it first with "
                f'INSERT DATA {{ <{iri}> luc:createIndex "true" }}')
        o = tp.o
        if not (isinstance(o, A.Literal) and not o.lang
                and o.dt in (None, "http://www.w3.org/2001/XMLSchema#string")):
            raise FtsError("the object of an FTS match pattern must be a "
                           "constant plain-string query")
        m = fts_match(self.spark, reg[iri], o.lex)
        if isinstance(tp.s, A.Var):
            v = tp.s.name
            hidden = self._uniq(f"__lucscore_{v}_")
            out = m.select(
                F.col("node").alias(v), F.col("node").alias(v + "__lex"),
                F.lit(None).cast("string").alias(v + "__dt"),
                F.lit(None).cast("string").alias(v + "__lang"),
                F.lit(None).cast("double").alias(v + "__num"),
                F.lit(None).cast("timestamp").alias(v + "__ts"),
                F.col("score").alias(hidden))
            return out, v, hidden
        # constant subject: the pattern is a boolean gate (unit-or-empty)
        const = term_parts_py(tp.s)[0]
        hidden = self._uniq("__lucscore_const_")
        out = (m.filter(F.col("node") == const)
               .select(F.col("score").alias(hidden)).limit(1))
        return out, None, hidden

    def _fts_attach_score(self, df: DataFrame, tp: A.TriplePattern,
                          score_cols: dict[str, str]) -> DataFrame:
        """Translate ``?node luc:score ?sc`` — binds the hidden score of the
        match on the same entity var earlier in this group as an xsd:double
        literal family."""
        from graphdb_free_mocha_sa_spark.operators.fts import FtsError
        if not (isinstance(tp.s, A.Var) and isinstance(tp.o, A.Var)):
            raise FtsError("luc:score needs a matched entity VARIABLE as "
                           "subject and a fresh variable as object")
        hidden = score_cols.get(tp.s.name)
        if hidden is None:
            raise FtsError(f"luc:score: ?{tp.s.name} was not matched by an "
                           "FTS index pattern in the same group")
        v = tp.o.name
        dbl = "http://www.w3.org/2001/XMLSchema#double"
        score = F.col(hidden)
        lex = score.cast("string")
        return df.select(
            "*",
            F.concat(F.lit('"'), lex, F.lit('"^^' + dbl)).alias(v),
            lex.alias(v + "__lex"),
            F.lit(dbl).alias(v + "__dt"),
            F.lit(None).cast("string").alias(v + "__lang"),
            score.alias(v + "__num"),
            F.lit(None).cast("timestamp").alias(v + "__ts"))

    # ------------------------------------------------------------ EXISTS

    def _salt_bnode(self, df: DataFrame, expr, flags):
        """If ``expr`` contains a BNODE() call, materialize the per-row
        salt column it hashes (§17.4.2.9: BNODE(str) must be stable within
        one solution, and a bnode's key must equal its lex — two separate
        nondeterministic uuid() expressions guarantee neither). The single
        uuid() lives in its OWN projection; CollapseProject never inlines a
        multiply-referenced nondeterministic producer, so it evaluates
        exactly once per row. Returns (df, flags + [salt]) for the caller's
        trailing drop."""
        if not expr_has_bnode(expr):
            return df, flags
        if BNODE_SALT in df.columns:
            return df, flags
        return (df.withColumn(BNODE_SALT, F.expr("uuid()")),
                list(flags) + [BNODE_SALT])

    def _materialize_exists(self, expr, df: DataFrame, gctx):
        """Compute a boolean flag column per EXISTS node inside ``expr``."""
        exists_map: dict[int, Column] = {}
        flags: list[str] = []
        nodes: list[A.EExists] = []
        _walk_expr(expr, lambda e: nodes.append(e) if isinstance(e, A.EExists) else None)
        for node in nodes:
            pat = node.pattern
            # §8.1.4 substitute semantics: outer vars referenced from
            # EXPRESSION position inside the pattern (or anywhere in a
            # nested EXISTS) are visible even though the pattern never
            # binds them — decorrelate by joining the distinct outer
            # bindings into every group scope (r7 fix: a FILTER(?w = ?x)
            # inside EXISTS used to see ?x unbound and drop every row).
            # Vars the pattern binds positionally don't need injection —
            # the shared-var semi-join below already correlates them.
            corr = sorted(v for v in
                          (_pattern_expr_vars_deep(pat)
                           | _pattern_minus_right_vars(pat))
                          & set(var_names(df)) if not v.startswith("__"))
            if corr:
                cols = [c for v in corr for c in var_cols(v)
                        if c in df.columns]
                # carry the maybe-unbound markers of the corr vars into the
                # leaf: an outer var that is null in some solutions must
                # correlate under COMPATIBILITY semantics inside the
                # pattern (unbound leaves the var free — r8 ADVICE fix),
                # and the mu marker is what routes the leaf joins onto the
                # compat machinery
                mu = [c for c in df.columns
                      if any(c.startswith(f"__mu_{v}_") for v in corr)]
                cdf = (df.select(*cols, *mu).dropDuplicates(corr)
                       .localCheckpoint(eager=False))
                pat = _inject_correlation(pat, _DFLeaf(cdf))
            # §8.1.4: inside the pattern the injected vars act as
            # CONSTANTS — record them so MINUS excludes them from its
            # domain-overlap test (they restrict compatibility only)
            prev_corr = self._active_corr
            self._active_corr = prev_corr | frozenset(corr)
            try:
                right = self.translate(pat, gctx)
            finally:
                self._active_corr = prev_corr
            shared = sorted(set(var_names(df)) & set(var_names(right)))
            df, right = self._normalize_shared(df, right, shared)
            flag = self._uniq("__ex")
            compat = [v for v in shared
                      if _maybe_unbound(df, v) or _maybe_unbound(right, v)]
            if compat:
                df = self._exists_flag_compat(df, right, shared, compat, flag)
            elif shared:
                rightd = (right.select([F.col(v).alias(v + flag) for v in shared])
                          .dropDuplicates().withColumn(flag, F.lit(True)))
                df = df.join(rightd, _key_eq(df, rightd, shared, flag),
                             "left_outer").drop(*[v + flag for v in shared])
            else:
                rightd = right.limit(1).select(F.lit(True).alias(flag))
                df = df.join(F.broadcast(rightd), F.lit(True), "left_outer")
            col = F.coalesce(F.col(flag), F.lit(False))
            exists_map[id(node)] = ~col if node.negated else col
            flags.append(flag)
        return df, exists_map, flags

    def _exists_flag_compat(self, df: DataFrame, right: DataFrame,
                            shared: list[str], compat: list[str],
                            flag: str) -> DataFrame:
        """EXISTS flag when a shared var may be UNBOUND on a side: μ has a
        compatible μ′ iff they agree on every shared var bound in BOTH
        (§8.1.1 — unbound matches anything). Strict equality made the flag
        always-false for rows with an unbound shared var (r8 ADVICE fix).

        Over the :meth:`_mask_pieces` fan-out, as a SEMI join per
        (left-mask, right-mask) piece over a row id so every piece stays a
        hash join; the matched ids re-attach the flag with one equi join."""
        strict = [v for v in shared if v not in compat]
        rid = self._uniq("__exid")
        suffix = self._uniq("__EX")
        df = df.withColumn(rid, F.monotonically_increasing_id()) \
               .localCheckpoint(eager=False)
        keyed = df.select(rid, *shared)
        r2 = right.select(*[F.col(v).alias(v + suffix) for v in shared]) \
                  .dropDuplicates()
        matched: Optional[DataFrame] = None
        for lp, rights in self._mask_pieces(keyed, r2, compat, strict, suffix):
            for rp, keys in rights:
                if keys:
                    rp = (rp.select(*[F.col(v + suffix) for v in keys])
                          .dropDuplicates())
                    piece = lp.join(rp, _key_eq(lp, rp, keys, suffix),
                                    "left_semi")
                else:
                    # nothing bound on both sides in this piece: every μ′
                    # is compatible — flag true iff the piece is non-empty
                    piece = lp.join(
                        F.broadcast(rp.limit(1)
                                    .select(F.lit(True).alias("__any"))),
                        F.lit(True), "left_semi")
                piece = piece.select(rid)
                matched = piece if matched is None else matched.unionByName(piece)
        if matched is None:
            return df.drop(rid).withColumn(flag, F.lit(False))
        # pin the matched-id union ONCE: downstream operators (LeftJoin-
        # with-EXISTS expands into a union that references this frame
        # twice; further mask fan-outs multiply) would otherwise re-plan
        # the whole piece union per reference — r8 soak found a case
        # whose task count exploded 48x through exactly this stacking
        md = self._collapse_union(
            matched.dropDuplicates().withColumn(flag, F.lit(True)))
        return df.join(md, rid, "left_outer").drop(rid)

    # ------------------------------------------------------------ expressions

    def _eval(self, expr, resolver: Callable[[str], TCol],
              exists_map: dict[int, Column]) -> TCol:
        if isinstance(expr, A.EVar):
            return resolver(expr.name)
        if isinstance(expr, A.ELit):
            return TCol.from_term(expr.term)
        if isinstance(expr, A.EBinary):
            return binary(expr.op,
                          self._eval(expr.left, resolver, exists_map),
                          self._eval(expr.right, resolver, exists_map))
        if isinstance(expr, A.EUnary):
            return unary(expr.op, self._eval(expr.expr, resolver, exists_map))
        if isinstance(expr, A.EFunc):
            args = [self._eval(e, resolver, exists_map) for e in expr.args]
            return builtin(expr.name, args, base=self.query_base)
        if isinstance(expr, A.EIn):
            x = self._eval(expr.expr, resolver, exists_map)
            conds = [binary("=", x, self._eval(it, resolver, exists_map)).ebv()
                     for it in expr.items]
            acc = F.lit(False)
            for c in conds:
                acc = acc | c
            return TCol.from_bool(~acc if expr.negated else acc)
        if isinstance(expr, A.EExists):
            if id(expr) not in exists_map:
                raise ValueError("EXISTS not materialized for this context")
            return TCol.from_bool(exists_map[id(expr)])
        if isinstance(expr, A.EAgg):
            raise ValueError("aggregate used outside GROUP BY context")
        raise TypeError(f"unknown expr {expr!r}")

    # ------------------------------------------------------------ SELECT

    def translate_select(self, q: A.SelectQuery) -> DataFrame:
        aggs: list[A.EAgg] = []
        for _, e in q.projections:
            if e is not None:
                _walk_expr(e, lambda x: aggs.append(x) if isinstance(x, A.EAgg) else None)
        for e in q.having:
            _walk_expr(e, lambda x: aggs.append(x) if isinstance(x, A.EAgg) else None)
        for e, _ in q.order_by:
            _walk_expr(e, lambda x: aggs.append(x) if isinstance(x, A.EAgg) else None)

        # query-level trailing VALUES (algebra 18.2.4.2): joined AFTER
        # grouping/HAVING. Without an aggregation stage the pattern-level
        # join is algebraically identical, and lets the normal join
        # machinery (incl. the encoded path) handle it.
        pattern = q.pattern
        post_values = None
        if getattr(q, "values_clause", None) is not None:
            if q.group_by or aggs:
                post_values = q.values_clause
            else:
                pattern = A.Join(q.pattern, q.values_clause)

        df = self.translate(pattern, None)

        agg_ids: dict[int, str] = {}
        if q.group_by or aggs:
            # BNODE() inside an aggregate argument or a computed GROUP BY
            # key evaluates before projection salts the frame — materialize
            # __bnode_salt first or F.col(BNODE_SALT) is unresolved (r7
            # advisor fix).
            pre_exprs = [e for _, e in q.group_by] \
                + [a.expr for a in aggs if a.expr is not None]
            if any(expr_has_bnode(e) for e in pre_exprs):
                df, _ = self._salt_bnode(df, next(
                    e for e in pre_exprs if expr_has_bnode(e)), [])
            # EXISTS inside aggregate arguments / computed GROUP BY keys:
            # materialize the flags on the pre-aggregation frame (the
            # group-by projection drops them afterwards)
            pre_emap: dict[int, Column] = {}
            for e in pre_exprs:
                if _expr_has_exists(e):
                    df, m, _fl = self._materialize_exists(e, df, None)
                    pre_emap.update(m)
            df, agg_ids = self._group_aggregate(df, q, aggs, pre_emap)
            # §18.2.4.1: outside aggregates, only GROUP BY keys (and
            # earlier AS projections) may be referenced (r6c probe fix:
            # Spark's unresolved-column error now becomes a clean
            # SparqlSyntaxError before any plan is built)
            from graphdb_free_mocha_sa_spark.sparql.parser import \
                SparqlSyntaxError
            allowed = set(var_names(df))
            if post_values is not None:
                # trailing VALUES joins after grouping (18.2.4.2) — its
                # variables ARE in scope for select expressions (review)
                allowed |= set(post_values.variables)
            for name, e in q.projections:
                refs = {name} if e is None else _expr_vars(e)
                stray = refs - allowed
                if stray:
                    raise SparqlSyntaxError(
                        "SELECT with GROUP BY: variable ?"
                        + sorted(stray)[0]
                        + " is neither grouped nor aggregated")
                allowed.add(name)

        if self.encoded:
            # vars referenced by post-aggregation expressions (HAVING,
            # projection exprs) need term families; aggregate outputs are
            # already string-rep (built by _group_aggregate)
            post_vars: set[str] = set()
            for h in q.having:
                post_vars |= _expr_vars(h)
            for name, e in q.projections:
                if e is not None and not (isinstance(e, A.EVar) and e.name == name):
                    post_vars |= _expr_vars(e)
            df = self._string_rep(df, post_vars)

        post_exprs = list(q.having) \
            + [e for _, e in q.projections if e is not None] \
            + [e for e, _ in q.order_by]
        if any(expr_has_bnode(e) for e in post_exprs):
            df, _ = self._salt_bnode(df, next(
                e for e in post_exprs if expr_has_bnode(e)), [])

        # HAVING (EXISTS flags materialize per condition on the grouped
        # frame and are dropped right after the filter consumes them)
        for h in q.having:
            df, h_emap, h_flags = self._materialize_exists(h, df, None)
            df = df.filter(
                self._eval_with_aggs(h, df, agg_ids, h_emap).ebv())
            if h_flags:
                df = df.drop(*h_flags)

        # post-aggregation trailing VALUES join (spec order: after
        # grouping and HAVING, before select expressions)
        if post_values is not None:
            df = self._join(df, self._values_df(post_values))

        # non-aggregate BIND-style projections
        proj_vars: list[str] = []
        for name, e in q.projections:
            proj_vars.append(name)
            if e is None:
                continue
            if isinstance(e, A.EVar) and e.name == name:
                continue
            df, p_emap, p_flags = self._materialize_exists(e, df, None)
            t = self._eval_with_aggs(e, df, agg_ids, p_emap)
            df = _with_family(df, name, t)
            if p_flags:
                df = df.drop(*p_flags)

        if not proj_vars:           # SELECT *
            proj_vars = [v for v in var_names(df) if not v.startswith("__")]
        keep = [c for v in proj_vars for c in var_cols(v)]

        def apply_order(d: DataFrame) -> DataFrame:
            sort_cols: list[Column] = []
            o_flags: list[str] = []
            for e, asc in q.order_by:
                d, o_emap, fl = self._materialize_exists(e, d, None)
                o_flags += fl
                t = self._eval_with_aggs(e, d, agg_ids, o_emap)
                sort_cols.extend(t.order_keys(asc))
            d = d.orderBy(*sort_cols)
            return d.drop(*o_flags) if o_flags else d

        if self.encoded:
            order_vars: set[str] = set()
            for e, _ in q.order_by:
                order_vars |= _expr_vars(e)
            if q.distinct or q.reduced:
                # dedup FIRST on the compact id keys, decode the (smaller)
                # distinct set, then order/project
                avail = [c for v in proj_vars for c in var_cols(v)
                         if c in df.columns]
                df = df.select(*avail).dropDuplicates(proj_vars)
                df = self._string_rep(df, set(proj_vars) | order_vars)
                if q.order_by:
                    df = apply_order(df)
            else:
                df = self._string_rep(df, set(proj_vars) | order_vars)
                if q.order_by:
                    df = apply_order(df)
            df = df.select(*[F.col(c) for c in keep])
        elif q.distinct or q.reduced:
            # project → dedup → order (ORDER BY may only use projected vars here)
            df = df.select(*[F.col(c) for c in keep]).dropDuplicates(proj_vars)
            if q.order_by:
                df = apply_order(df)
        else:
            # order on the full binding set (may reference non-projected vars)
            if q.order_by:
                df = apply_order(df)
            df = df.select(*[F.col(c) for c in keep])

        if q.offset:
            df = df.offset(q.offset)
        if q.limit is not None:
            df = df.limit(q.limit)
        return df

    def _eval_with_aggs(self, e, df: DataFrame, agg_ids: dict[int, str],
                        exists_map: dict[int, Column] | None = None) -> TCol:
        if isinstance(e, A.EAgg):
            return _fam_tcol(df, agg_ids[id(e)])
        if isinstance(e, A.EVar):
            if e.name not in df.columns:
                # never-bound variable: a ROW-level error (all-null term),
                # not a translation failure — COALESCE/BOUND/IF must be
                # able to observe and recover from it (r6 probe fix)
                return TCol()
            return _fam_tcol(df, e.name)
        if isinstance(e, A.ELit):
            return TCol.from_term(e.term)
        if isinstance(e, A.EBinary):
            return binary(e.op,
                          self._eval_with_aggs(e.left, df, agg_ids, exists_map),
                          self._eval_with_aggs(e.right, df, agg_ids, exists_map))
        if isinstance(e, A.EUnary):
            return unary(e.op,
                         self._eval_with_aggs(e.expr, df, agg_ids, exists_map))
        if isinstance(e, A.EFunc):
            return builtin(e.name,
                           [self._eval_with_aggs(x, df, agg_ids, exists_map)
                            for x in e.args], base=self.query_base)
        if isinstance(e, A.EIn):
            x = self._eval_with_aggs(e.expr, df, agg_ids, exists_map)
            acc = F.lit(False)
            for it in e.items:
                acc = acc | binary(
                    "=", x,
                    self._eval_with_aggs(it, df, agg_ids, exists_map)).ebv()
            return TCol.from_bool(~acc if e.negated else acc)
        if isinstance(e, A.EExists):
            # flags are materialized by the caller phase (HAVING /
            # projection / ORDER BY / aggregate inputs — r7 fix: every
            # host used to raise and sentinel the query)
            if exists_map and id(e) in exists_map:
                return TCol.from_bool(exists_map[id(e)])
            raise ValueError("EXISTS not materialized for this context")
        raise TypeError(f"unsupported expression in aggregate context: {e!r}")

    def _group_aggregate(self, df: DataFrame, q: A.SelectQuery,
                         aggs: list[A.EAgg],
                         exists_map: dict[int, Column] | None = None
                         ) -> tuple[DataFrame, dict[int, str]]:
        if self.encoded:
            # aggregate inputs and computed group keys evaluate expressions →
            # they need string-rep families; plain-var group keys stay on ids
            pre: set[str] = set()
            for name, e in q.group_by:
                if not (isinstance(e, A.EVar) and (name is None or name == e.name)):
                    pre |= _expr_vars(e)
            for node in aggs:
                if node.expr is not None:
                    pre |= _expr_vars(node.expr)
            df = self._string_rep(df, pre)
        # computed group keys become bound vars first
        group_vars: list[str] = []
        for i, (name, e) in enumerate(q.group_by):
            if isinstance(e, A.EVar) and (name is None or name == e.name):
                group_vars.append(e.name)
            else:
                gname = name or f"__gk{i}"
                t = self._eval(e, _df_resolver(df), exists_map or {})
                df = _with_family(df, gname, t)
                group_vars.append(gname)

        agg_ids: dict[int, str] = {}
        agg_cols: list[Column] = []
        post: list[tuple[str, str]] = []   # (aggname, kind)
        for i, node in enumerate(aggs):
            if id(node) in agg_ids:
                continue
            aname = f"__agg{i}"
            agg_ids[id(node)] = aname
            inp = (self._eval(node.expr, _df_resolver(df), exists_map or {})
                   if node.expr is not None else None)
            func = node.func
            if func == "COUNT":
                if inp is None:
                    col = (F.count_distinct(*[F.col(v) for v in var_names(df)])
                           if node.distinct and var_names(df) else F.count(F.lit(1)))
                else:
                    col = F.count_distinct(inp.key) if node.distinct else F.count(inp.key)
                agg_cols.append(col.cast("double").alias(aname + "__rawnum"))
                post.append((aname, "int"))
            elif func in ("SUM", "AVG"):
                src = inp.num
                from graphdb_free_mocha_sa_spark.model import XSD_DECIMAL
                # per-row numeric tier drives the §17.3 promotion of the
                # RESULT datatype (r7 fuzz-cluster fix: SUM/AVG over
                # decimals used to collapse to xsd:double; AVG over
                # integers is xsd:decimal — op:numeric-divide)
                row_tier = (F.when(inp.dt.isin(*DBL_DTS), 2)
                            .when(inp.dt == XSD_DECIMAL, 1)
                            .when(inp.dt.isin(*INT_DTS), 0))
                if node.distinct:
                    # DISTINCT is TERM-distinct: 5, 5.0 and 5e0 are three
                    # values even though their doubles collide (plain
                    # sum_distinct dedups on the number). collect_set
                    # merges partial sets map-side; per-group state is
                    # O(distinct terms), same class as any distinct agg.
                    terms = F.collect_set(
                        F.when(src.isNotNull(),
                               F.struct(inp.key.alias("k"),
                                        src.alias("v"))))
                    sumv = F.aggregate(terms, F.lit(0.0),
                                       lambda a, x: a + x["v"])
                    cnt = F.size(terms)
                else:
                    sumv = F.sum(src)
                    cnt = F.count(src)
                col = sumv if func == "SUM" else sumv / cnt
                # SPARQL §18.5.1.5/.6: Sum AND Avg over an EMPTY group
                # are 0 (the single no-GROUP-BY group over zero
                # solutions). A BOUND but non-numeric value in the group
                # is a type error that poisons the whole aggregate
                # (op:numeric-add folding — r6c probe fix); unbound rows
                # keep the lenient skip, so an all-unbound group sums to
                # 0 like the empty group.
                bad = F.max(F.when(inp.key.isNotNull() & src.isNull(),
                                   1).otherwise(0))
                col = (F.when(F.coalesce(bad, F.lit(0)) == 1,
                              F.lit(None).cast("double"))
                       .when(cnt == 0, F.lit(0.0))
                       .otherwise(col))
                tier = F.coalesce(F.max(row_tier), F.lit(0))
                if func == "AVG":
                    # integer ÷ count promotes to decimal; empty = 0 int
                    tier = F.when(cnt == 0, F.lit(0)) \
                            .otherwise(F.greatest(tier, F.lit(1)))
                agg_cols.append(tier.alias(aname + "__tier"))
                agg_cols.append(col.cast("double")
                                .alias(aname + "__rawnum"))
                post.append((aname, "sum"))
            elif func in ("MIN", "MAX"):
                # min_by/max_by over a value-order key so the ORIGINAL
                # TERM survives (plain min(num) re-serialized integers as
                # doubles). Key field 1 makes numerics win over
                # non-numerics in both directions (the previous
                # behaviour); unbound rows yield a NULL key and are
                # ignored by the aggregate.
                term_st = F.struct(inp.lex.alias("lex"), inp.dt.alias("dt"),
                                   inp.lang.alias("lang"),
                                   inp.num.alias("num"), inp.ts.alias("ts"))
                if func == "MIN":
                    key = F.struct(inp.num.isNull(), inp.num,
                                   inp.ts.isNull(), inp.ts, inp.lex)
                    col = F.min_by(term_st,
                                   F.when(inp.lex.isNotNull(), key))
                else:
                    key = F.struct(inp.num.isNotNull(), inp.num,
                                   inp.ts.isNotNull(), inp.ts, inp.lex)
                    col = F.max_by(term_st,
                                   F.when(inp.lex.isNotNull(), key))
                agg_cols.append(col.alias(aname + "__rawst"))
                post.append((aname, "sample"))
            elif func == "SAMPLE":
                agg_cols.append(F.min_by(
                    F.struct(inp.lex.alias("lex"), inp.dt.alias("dt"),
                             inp.lang.alias("lang"), inp.num.alias("num"),
                             inp.ts.alias("ts")), inp.key).alias(aname + "__rawst"))
                post.append((aname, "sample"))
            elif func == "GROUP_CONCAT":
                if node.distinct:
                    # TERM-distinct: "5"^^xsd:integer and "5" share a lex
                    # but are two values (r7 fix: collect_set(lex) merged
                    # them); dedup on the canonical key, then project lex
                    coll = F.transform(
                        F.collect_set(
                            F.when(inp.key.isNotNull(),
                                   F.struct(inp.key.alias("k"),
                                            inp.lex.alias("lex")))),
                        lambda x: x["lex"])
                else:
                    coll = F.collect_list(inp.lex)
                agg_cols.append(F.array_join(F.array_sort(coll), node.separator)
                                .alias(aname + "__rawlex"))
                post.append((aname, "str"))
            else:
                raise ValueError(f"unknown aggregate {func}")

        gcols = [F.col(c) for v in group_vars for c in var_cols(v)
                 if c in df.columns]
        if gcols:
            out = df.groupBy(*gcols).agg(*agg_cols) if agg_cols else df.select(*gcols).dropDuplicates(group_vars)
        else:
            out = df.agg(*agg_cols)

        # rebuild term families for aggregate results
        from graphdb_free_mocha_sa_spark.model import XSD_DOUBLE, XSD_INTEGER
        for aname, kind in post:
            if kind == "sum":
                from graphdb_free_mocha_sa_spark.model import XSD_DECIMAL
                num = F.col(aname + "__rawnum")
                tier = F.col(aname + "__tier")
                dt_col = (F.when(tier == 2, F.lit(XSD_DOUBLE))
                          .when(tier == 1, F.lit(XSD_DECIMAL))
                          .otherwise(F.lit(XSD_INTEGER)))
                out = _with_family(out, aname, _num_tcol(num, dt_col))
                out = out.drop(aname + "__rawnum", aname + "__tier")
            elif kind in ("int", "num"):
                t = TCol.from_num(F.col(aname + "__rawnum"),
                                  XSD_INTEGER if kind == "int" else XSD_DOUBLE)
                out = _with_family(out, aname, t)
                out = out.drop(aname + "__rawnum")
            elif kind == "str":
                out = _with_family(out, aname, TCol.from_str(F.col(aname + "__rawlex")))
                out = out.drop(aname + "__rawlex")
            elif kind == "minmax":
                num, lex, ts = (F.col(aname + "__rawnum"), F.col(aname + "__rawlex"),
                                F.col(aname + "__rawts"))
                t = TCol(lex=F.when(num.isNotNull(), num.cast("string")).otherwise(lex),
                         dt=F.when(num.isNotNull(), F.lit(XSD_DOUBLE))
                            .when(ts.isNotNull(), F.lit(XSD_DATETIME))
                            .when(lex.isNotNull(), F.lit("http://www.w3.org/2001/XMLSchema#string")),
                         num=num, ts=ts)
                out = _with_family(out, aname, t)
                out = out.drop(aname + "__rawnum", aname + "__rawlex", aname + "__rawts")
            elif kind == "sample":
                st = F.col(aname + "__rawst")
                t = TCol(lex=st["lex"], dt=st["dt"], lang=st["lang"],
                         num=st["num"], ts=st["ts"])
                out = _with_family(out, aname, t)
                out = out.drop(aname + "__rawst")
        return out, agg_ids

    # ------------------------------------------------------------ query forms

    def ask(self, q: A.AskQuery) -> bool:
        df = self.translate(q.pattern, None)
        return bool(df.limit(1).count() > 0)

    def construct(self, q: A.ConstructQuery) -> DataFrame:
        df = self.translate(q.pattern, None)
        if q.order_by or q.limit is not None or q.offset:
            shim = A.SelectQuery([], q.pattern, order_by=q.order_by,
                                 limit=q.limit, offset=q.offset)
            df = self.translate_select(shim)
        if self.encoded:
            tvars = {t.name for tp in q.template for t in (tp.s, tp.p, tp.o)
                     if isinstance(t, A.Var)}
            df = self._string_rep(df, tvars)
        # template bnodes are FRESH per solution (SPARQL 1.1 §16.2.1): scope
        # each label to a per-row id shared across the template's triples
        df = df.withColumn("__cid", F.monotonically_increasing_id())
        pieces = []
        for tp in q.template:
            cols = []
            for term, name in ((tp.s, "s"), (tp.p, "p"), (tp.o, "o")):
                if isinstance(term, A.PLink):
                    term = A.IRI(term.iri)
                if isinstance(term, A.BNode):
                    fresh = F.concat(F.lit(f"_:{term.label}_"),
                                     F.col("__cid").cast("string"))
                    fam = TCol(lex=fresh)
                elif isinstance(term, A.Var):
                    fam = _fam_tcol(df, term.name)
                else:
                    fam = TCol.from_term(term)
                if name == "s":
                    # §16.2: an instantiation that puts a LITERAL in
                    # subject position produces no triple (NULL here feeds
                    # the isNotNull filter below). IRIs and bnodes carry a
                    # null dt; literals always carry one (r9 fuzzer find:
                    # a literal-bound var in the template emitted its lex
                    # as if it were an IRI)
                    cols.append(F.when(fam.dt.isNull(), fam.lex).alias(name))
                elif name == "p":
                    # predicate must be an IRI: no literals, no bnodes
                    cols.append(F.when(fam.dt.isNull()
                                       & ~fam.lex.startswith("_:"),
                                       fam.lex).alias(name))
                else:
                    cols.extend([fam.lex.alias("o_lex"), fam.dt.alias("o_dt"),
                                 fam.lang.alias("o_lang"), fam.num.alias("o_num"),
                                 fam.ts.alias("o_ts")])
            pieces.append(df.select(*cols).where(F.col("s").isNotNull()
                                                 & F.col("p").isNotNull()
                                                 & F.col("o_lex").isNotNull()))
        out = pieces[0]
        for piece in pieces[1:]:
            out = out.unionByName(piece)
        if len(pieces) <= 4:
            # small template fan-out: skip the collapse SHUFFLE, but an RDF
            # graph is a SET of triples so the dedup is unconditional (r8
            # ADVICE high: the early return skipped it and a <=4-triple
            # template emitted one triple per solution)
            return out.dropDuplicates()
        # pin the piece union once (lazy) AND collapse its partitioning:
        # a union of N shuffled pieces carries N x shuffle.partitions
        # output partitions, and every piece of the NEXT fan-out scans
        # all of them — chained compat operators otherwise multiply map
        # tasks (an r8 soak case stacked to a 73k-task stage). One cheap
        # repartition bounds every downstream scan to the session's
        # shuffle width.
        return self._collapse_union(out).dropDuplicates()


# ---------------------------------------------------------------- helpers


def _tp_vars(tp: A.TriplePattern) -> set[str]:
    out = set()
    for t in (tp.s, tp.p, tp.o):
        if isinstance(t, A.Var):
            out.add(t.name)
    return out


def _order_bgp(triples: list[A.TriplePattern]) -> list[A.TriplePattern]:
    """Greedy selectivity ordering: start from the most-constant pattern, then
    repeatedly pick the most-constant pattern that shares a variable with what
    has been joined so far (avoids cross products; gives Catalyst a sane
    left-deep join tree — it will not reorder the joins itself)."""
    def selectivity(tp: A.TriplePattern) -> int:
        score = 0
        for t, w in ((tp.s, 4), (tp.p, 1), (tp.o, 2)):
            if not isinstance(t, (A.Var, A.BNode)):
                score += w
        return score

    remaining = list(triples)
    remaining.sort(key=selectivity, reverse=True)
    ordered = [remaining.pop(0)]
    seen = _tp_vars(ordered[0])
    while remaining:
        pick = None
        for tp in remaining:
            if _tp_vars(tp) & seen:
                pick = tp
                break
        if pick is None:           # disconnected BGP: accept the cross product
            pick = remaining[0]
        remaining.remove(pick)
        ordered.append(pick)
        seen |= _tp_vars(pick)
    return ordered


def _pos_family(pos: str, v: str) -> list[Column]:
    if pos == "o":
        return [canonical_object_key().alias(v),
                F.col("o_lex").alias(v + "__lex"), F.col("o_dt").alias(v + "__dt"),
                F.col("o_lang").alias(v + "__lang"), F.col("o_num").alias(v + "__num"),
                F.col("o_ts").alias(v + "__ts")]
    c = F.col(pos)
    return [c.alias(v), c.alias(v + "__lex"),
            F.lit(None).cast("string").alias(v + "__dt"),
            F.lit(None).cast("string").alias(v + "__lang"),
            F.lit(None).cast("double").alias(v + "__num"),
            F.lit(None).cast("timestamp").alias(v + "__ts")]


def _pos_family_enc(pos: str, v: str) -> list[Column]:
    """Encoded-mode scan emission: s/p/g vars are id-key-only (lazy — the
    family is decoded on demand); object vars keep the inline literal family
    (prunable by Catalyst when unused) under the id key."""
    if pos == "o":
        return [F.col("o_id").alias(v),
                F.col("o_lex").alias(v + "__lex"), F.col("o_dt").alias(v + "__dt"),
                F.col("o_lang").alias(v + "__lang"), F.col("o_num").alias(v + "__num"),
                F.col("o_ts").alias(v + "__ts")]
    return [F.col(pos + "_id").alias(v)]


def _expr_vars(e, include_agg: bool = False) -> set[str]:
    """Variable names whose term families an expression will access.
    EExists patterns are excluded (resolved via flag joins); EAgg bodies are
    excluded by default (aggregate outputs are built pre-materialized)."""
    out: set[str] = set()
    _walk_expr(e, lambda x: out.add(x.name) if isinstance(x, A.EVar)
               else None, include_agg)
    return out


def collect_const_terms(q) -> set[str]:
    """Canonical keys of every constant term a query can push into a scan —
    subjects/predicates/objects/graphs in triple patterns, path links and
    negated sets, GRAPH IRIs, FROM/FROM NAMED. Used by encoded mode to batch
    the term→id dictionary lookups into ONE driver round-trip per query."""
    keys: set[str] = set()

    def add_term(t):
        if isinstance(t, (A.IRI, A.Literal)):
            keys.add(term_parts_py(t)[0])

    def walk_path(p):
        if isinstance(p, A.PLink):
            keys.add(p.iri)
        elif isinstance(p, A.PInv):
            walk_path(p.path)
        elif isinstance(p, (A.PSeq, A.PAlt)):
            walk_path(p.left)
            walk_path(p.right)
        elif isinstance(p, A.PMod):
            walk_path(p.path)
        elif isinstance(p, A.PNeg):
            keys.update(p.forward)
            keys.update(p.inverse)

    def walk_expr(e):
        _walk_expr(e, lambda x: walk(x.pattern) if isinstance(x, A.EExists) else None)

    def walk(node):
        if isinstance(node, A.BGP):
            for tp in node.triples:
                add_term(tp.s)
                if not isinstance(tp.p, A.Var):
                    walk_path(tp.p)
                add_term(tp.o)
        elif isinstance(node, A.GraphPat) and isinstance(node.graph, A.IRI):
            keys.add(node.graph.value)
        elif isinstance(node, A.SubSelect):
            walk_query(node.query)
        # ValuesTable: constants stay string-keyed (string-join fallback)
        for c in _sub_patterns(node).values():
            walk(c)
        for e in _own_exprs(node):
            walk_expr(e)

    def walk_query(qq):
        walk(getattr(qq, "pattern", None))
        for e in getattr(qq, "having", []) or []:
            walk_expr(e)
        for name, e in getattr(qq, "projections", []) or []:
            if e is not None:
                walk_expr(e)
        for e, _ in getattr(qq, "order_by", []) or []:
            walk_expr(e)
        keys.update(getattr(qq, "dataset_default", []) or [])
        keys.update(getattr(qq, "dataset_named", []) or [])

    walk_query(q)
    return keys


def _fam_tcol(df: DataFrame, name: str, suffix: str = "") -> TCol:
    return TCol(lex=df[name + "__lex" + suffix], dt=df[name + "__dt" + suffix],
                lang=df[name + "__lang" + suffix], num=df[name + "__num" + suffix],
                ts=df[name + "__ts" + suffix], key=df[name + suffix])


def _key_eq(left: DataFrame, right: DataFrame, keys, suffix: str,
            null_safe: bool = False) -> Column:
    """Equi-join condition: each key of ``left`` equals its
    ``suffix``-renamed counterpart in ``right``."""
    cond = F.lit(True)
    for v in keys:
        a, b = left[v], right[v + suffix]
        cond = cond & (a.eqNullSafe(b) if null_safe else a == b)
    return cond


def _df_resolver(df: DataFrame):
    def resolver(name: str) -> TCol:
        if name not in df.columns:
            # unbound variable: all-null term
            return TCol()
        return TCol.from_var(name)
    return resolver


def _with_family(df: DataFrame, name: str, t: TCol) -> DataFrame:
    return df.withColumns({
        name: t.key, name + "__lex": t.lex, name + "__dt": t.dt,
        name + "__lang": t.lang, name + "__num": t.num, name + "__ts": t.ts,
    })


_MU_SEQ = itertools.count()


def _mark_maybe_unbound(df: DataFrame, vs) -> DataFrame:
    """Tag vars that may be UNBOUND in some rows (from UNION padding,
    OPTIONAL right sides, or VALUES UNDEF). Later joins switch those vars
    to SPARQL *compatibility* semantics (unbound joins anything) instead of
    the fast strict equi-join — only where actually needed, so plain BGP
    joins keep their hash-join path."""
    for v in vs:
        df = df.withColumn(f"__mu_{v}_{next(_MU_SEQ)}", F.lit(True))
    return df


def _maybe_unbound(df: DataFrame, v: str) -> bool:
    return any(c.startswith(f"__mu_{v}_") for c in df.columns)


def _union_pad(l: DataFrame, r: DataFrame) -> DataFrame:
    lv, rv = set(var_names(l)), set(var_names(r))
    l = _mark_maybe_unbound(l, sorted(rv - lv))
    r = _mark_maybe_unbound(r, sorted(lv - rv))
    return l.unionByName(r, allowMissingColumns=True) if set(l.columns) != set(r.columns) \
        else l.unionByName(r)


class _DFLeaf:
    """Pseudo-pattern leaf wrapping a prepared solution DataFrame —
    injected by the correlated-EXISTS decorrelation so every group scope
    inside the pattern sees the outer bindings."""

    __slots__ = ("df",)

    def __init__(self, df: DataFrame):
        self.df = df


def _sub_patterns(n) -> dict:
    """A pattern node's child patterns by field name. SERVICE groups are
    opaque remote text; SubSelect, BGP, VALUES and _DFLeaf are leaves."""
    if isinstance(n, (A.Join, A.Union, A.Minus, A.LeftJoin)):
        return {"left": n.left, "right": n.right}
    if isinstance(n, (A.Filter, A.Extend, A.GraphPat)):
        return {"pattern": n.pattern}
    return {}


def _own_exprs(n) -> tuple:
    """A pattern node's own expressions: Filter / BIND / LeftJoin
    conditions."""
    if isinstance(n, (A.Filter, A.Extend)):
        return (n.expr,)
    if isinstance(n, A.LeftJoin) and n.expr is not None:
        return (n.expr,)
    return ()


def _pattern_scope_vars(p) -> set[str]:
    """Every variable a pattern can bind or reference — triple/path
    positions, VALUES columns, GRAPH vars, BIND targets, Filter/BIND/
    LeftJoin expressions, nested EXISTS patterns. SubSelect contributes
    only its projection (substitution does not descend into subqueries);
    SERVICE groups are opaque remote text."""
    out: set[str] = set()

    def walk(n):
        if isinstance(n, _DFLeaf):
            out.update(var_names(n.df))
        elif isinstance(n, A.BGP):
            out.update(v for tp in n.triples for v in _tp_vars(tp))
        elif isinstance(n, A.Extend):
            out.add(n.var)
        elif isinstance(n, A.ValuesTable):
            out.update(n.variables)
        elif isinstance(n, A.GraphPat) and isinstance(n.graph, A.Var):
            out.add(n.graph.name)
        elif isinstance(n, A.SubSelect):
            out.update(name for name, _ in n.query.projections)
        for e in _own_exprs(n):
            out.update(_expr_vars(e))
            _walk_expr(e, lambda x: walk(x.pattern)
                       if isinstance(x, A.EExists) else None)
        for c in _sub_patterns(n).values():
            walk(c)

    walk(p)
    return out


def _pattern_expr_vars_deep(p) -> set[str]:
    """Variables referenced from EXPRESSION position (Filter / BIND /
    LeftJoin conditions) anywhere in a pattern, plus every variable of a
    nested EXISTS pattern — exactly the references §8.1.4 substitution
    must make visible even when the pattern never binds them."""
    out: set[str] = set()

    def walk(n):
        for e in _own_exprs(n):
            out.update(_expr_vars(e))
            _walk_expr(e, lambda x: out.update(_pattern_scope_vars(x.pattern))
                       if isinstance(x, A.EExists) else None)
        for c in _sub_patterns(n).values():
            walk(c)

    walk(p)
    return out


def _pattern_minus_right_vars(p) -> set[str]:
    """Vars visible in some MINUS right side of the pattern. Their
    bindings never SURFACE to the pattern's result (Minus projects the
    left side), so an outer var among them cannot correlate through the
    top-level semi-join — §8.1.4 substitution requires injecting it
    (r8: EXISTS { ?y :p ?x MINUS { ?a :q ?x } } with outer ?a used to
    evaluate the MINUS against ALL ?a, removing too much)."""
    out: set[str] = set()

    def walk(n):
        if isinstance(n, A.Minus):
            out.update(_pattern_scope_vars(n.right))
        for c in _sub_patterns(n).values():
            walk(c)

    walk(p)
    return out


def _inject_correlation(p, leaf: "_DFLeaf"):
    """Join the outer-bindings leaf into every group of an EXISTS
    pattern (leaf-level cross/equi joins), so Filter/BIND scopes inside
    the pattern see the correlated variables — the distributed
    equivalent of per-solution substitution."""
    kids = _sub_patterns(p)
    if not kids:
        return A.Join(leaf, p)     # leaves: BGP, VALUES, SubSelect, Service
    return dataclasses.replace(p, **{f: _inject_correlation(c, leaf)
                                     for f, c in kids.items()})


def _expr_has_exists(e) -> bool:
    found = []
    _walk_expr(e, lambda x: found.append(x) if isinstance(x, A.EExists)
               else None)
    return bool(found)


def _walk_expr(e, fn, agg: bool = True):
    """Call ``fn`` on every node of an expression tree; ``agg`` descends
    into aggregate bodies. EExists patterns are not entered."""
    fn(e)
    if isinstance(e, A.EBinary):
        _walk_expr(e.left, fn, agg)
        _walk_expr(e.right, fn, agg)
    elif isinstance(e, A.EUnary):
        _walk_expr(e.expr, fn, agg)
    elif isinstance(e, A.EFunc):
        for a in e.args:
            _walk_expr(a, fn, agg)
    elif isinstance(e, A.EIn):
        _walk_expr(e.expr, fn, agg)
        for a in e.items:
            _walk_expr(a, fn, agg)
    elif isinstance(e, A.EAgg) and agg and e.expr is not None:
        _walk_expr(e.expr, fn, agg)


def finalize(df: DataFrame, spec: dict[str, str]) -> DataFrame:
    """Project SPARQL var families to plain relational columns for oracles.

    spec: var -> 'str'|'iri'|'num'|'int'|'ts'|'bool'|'auto'
    """
    cols = []
    for v, kind in spec.items():
        if kind in ("str", "iri", "auto"):
            cols.append(F.col(v + "__lex").alias(v))
        elif kind == "num":
            cols.append(F.col(v + "__num").alias(v))
        elif kind == "int":
            cols.append(F.col(v + "__num").cast("long").alias(v))
        elif kind == "ts":
            cols.append(F.col(v + "__ts").alias(v))
        elif kind == "bool":
            cols.append((F.col(v + "__lex") == "true").alias(v))
        else:
            raise ValueError(kind)
    return df.select(*cols)
