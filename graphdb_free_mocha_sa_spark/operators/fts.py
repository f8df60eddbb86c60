"""GraphDB-style full-text search via the ``luc:`` magic predicates (B43).

The reference repository CONFIG disables its FTS index
(``owlim:ftsIndexPolicy "never"``, repo-config.ttl:36-38), but FTS is a
first-class GraphDB Free capability a user can switch on, queried through
the publicly documented Lucene-plugin magic-predicate surface
(namespace ``http://www.ontotext.com/owlim/lucene#``):

* ``luc:<param> luc:setParam "value"``      — set an index parameter
  (INSERT DATA; consumed, never stored as data),
* ``luc:myIndex luc:createIndex "true"``    — build index "myIndex" from
  the CURRENT repository state with the current parameters,
* ``luc:myIndex luc:updateIndex "true"``    — rebuild (re-sync) it,
* ``?node luc:myIndex "query"``             — match entities against the
  index inside a BGP,
* ``?node luc:score ?sc``                   — bind the match's relevance
  score for an entity variable matched earlier in the same group.

Spark-first design: the "index" is a pair of pinned DataFrames — a
document table ``(node, ntext, dl)`` (one row per subject: the ANALYZED
text of its literal molecule + its token length) and a token table
``(node, term, tf)`` + corpus stats — exactly the layout the [EXT] BM25 operator shuffles once and
reuses, so a match is: broadcast the (tiny) parsed query-term table, hash
equi-join it against the token table, aggregate per node, BM25-score with
DECIMAL partial sums (addition order cannot perturb ranking). GraphDB
semantics preserved: the index is a SNAPSHOT — stale until re-created,
never implicitly refreshed by updates.

Supported query syntax (documented Lucene subset): whitespace-separated
terms (default operator OR, like Lucene), ``AND`` to require all plain
terms, ``+term`` required / ``-term`` prohibited prefixes, ``"a phrase"``
(position-exact token sequence, matched against the normalized text;
``-"a phrase"`` prohibits it), ``term*`` prefix wildcard, ``term~`` /
``term~N`` fuzzy match (N in 0..2, default 2 — Lucene's maxEdits cap;
distance = transposition-first Damerau-Levenshtein: adjacent swaps cost
1 and are applied to the query term first, classic Levenshtein pays the
rest, which sits between OSA and unrestricted DL and agrees with both on
the common cases), ``[lo TO hi]`` / ``{lo TO hi}`` term ranges
(lexicographic over the term dictionary, mixed/half-open brackets and
``*`` open bounds allowed), and ``^B`` boosts on any of the above
(multiplies that component's BM25 contribution). Anything else (fielded
``f:v``, grouping, phrase slop ``"a b"~2``, legacy float similarity
``term~0.8``, single-char ``?`` / non-trailing wildcards) raises —
honestly unsupported, not silently mis-ranked.

Supported parameters: ``include`` ("literals" only — matches
``owlim:ftsLiteralsOnly "true"``), ``includePredicates`` /
``excludePredicates`` (space-separated predicate IRIs restricting which
literals join a node's molecule), ``moleculeSize`` ("1" only: the node +
its own literals), ``analyzer`` — StandardAnalyzer (default: lowercase +
non-alphanumeric split, no stemming) or, since r11, EnglishAnalyzer
(the same tokenization + Lucene's English stop set + the Porter
stemmer, operators/porter.py; index text, document lengths, phrase
positions and query terms all read the analyzed form, while prefix
wildcards skip analysis exactly as Lucene wildcard terms do). Other
analyzer values and unknown parameter names raise AT setParam time
(store.fts_control; r11 — validation moved earlier as half of the
control-op atomicity fix).

At 100 TB: index build is one groupBy(s) over the literal slice of the
quad table (predicate-pruned when includePredicates is set) plus one
explode→groupBy token aggregation; a query touches only the broadcast
query terms joined against the token table — never the full text again.
"""

from __future__ import annotations

import math
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

LUC_NS = "http://www.ontotext.com/owlim/lucene#"
LUC_SCORE = LUC_NS + "score"
LUC_CREATE = LUC_NS + "createIndex"
LUC_UPDATE = LUC_NS + "updateIndex"
LUC_SET_PARAM = LUC_NS + "setParam"

#: control predicates — never index names, never stored as data
CONTROL_PREDS = {LUC_CREATE, LUC_UPDATE, LUC_SET_PARAM}

_KNOWN_PARAMS = {"include", "includePredicates", "excludePredicates",
                 "moleculeSize", "analyzer"}


class FtsError(ValueError):
    """Bad FTS query syntax / unknown index / unsupported parameter."""


def validate_analyzer(value: str) -> str:
    """Normalize a ``luc:analyzer`` value at setParam time (r11: raising
    HERE, not only at createIndex, is half of the control-op atomicity
    fix — a poisoned param can no longer be staged at all). Accepted:
    the default StandardAnalyzer (tokenize only) and EnglishAnalyzer
    (stop words + Porter stemming, operators/porter.py); anything else
    raises honestly."""
    name = (value or "").rsplit(".", 1)[-1]
    if name in ("", "StandardAnalyzer"):
        return "standard"
    if name == "EnglishAnalyzer":
        return "english"
    raise FtsError(
        f"unsupported luc:analyzer {value!r} (implemented: the default "
        "StandardAnalyzer tokenization — lowercase + non-alphanumeric "
        "split — and EnglishAnalyzer — the same tokenization + Lucene's "
        "English stop set + Porter stemming)")


class FtsIndex:
    """One built index: pinned document + token tables and corpus stats."""

    def __init__(self, docs: DataFrame, tokens: DataFrame,
                 n_docs: int, avgdl: float, analyzer: str = "standard"):
        self.docs = docs          # (node, ntext, dl) — analyzed text only
        self.tokens = tokens      # (node, term, tf)
        self.n_docs = n_docs
        self.avgdl = avgdl
        self.analyzer = analyzer  # query terms analyzed to match at search

    def write(self, path: str) -> None:
        """Persist to parquet (doc + token tables) + a stats sidecar,
        atomically (write to tmp, rename) — the durable store's index
        layout; at 100 TB the token table IS the scale-bearing artifact
        and lands as a real columnar table, not executor-memory blocks."""
        import json
        import os
        import shutil
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        self.docs.write.parquet(os.path.join(tmp, "docs"))
        self.tokens.write.parquet(os.path.join(tmp, "tokens"))
        with open(os.path.join(tmp, "stats.json"), "w") as fh:
            json.dump({"n_docs": self.n_docs, "avgdl": self.avgdl,
                       "analyzer": self.analyzer}, fh)
        shutil.rmtree(path, ignore_errors=True)
        os.rename(tmp, path)

    @classmethod
    def read(cls, spark: SparkSession, path: str) -> "FtsIndex":
        import json
        import os
        with open(os.path.join(path, "stats.json")) as fh:
            stats = json.load(fh)
        return cls(spark.read.parquet(os.path.join(path, "docs")),
                   spark.read.parquet(os.path.join(path, "tokens")),
                   int(stats["n_docs"]), float(stats["avgdl"]),
                   str(stats.get("analyzer", "standard")))


_TOKEN_SPLIT = r"[^a-z0-9]+"


def _norm_text(col):
    """Lower-cased, delimiter-normalized text: tokens joined by single
    spaces with leading/trailing sentinels, so a phrase match is one
    substring containment test."""
    return F.concat(F.lit(" "),
                    F.trim(F.regexp_replace(F.lower(col), _TOKEN_SPLIT, " ")),
                    F.lit(" "))


def _tokens(col):
    return F.filter(F.split(F.lower(col), _TOKEN_SPLIT), lambda t: t != "")


def build_fts_index(spark: SparkSession, quads: DataFrame,
                    params: dict[str, str] | None = None) -> FtsIndex:
    """Materialize an index snapshot from the quad table (literals only,
    molecule size 1 — the reference config's ``ftsLiteralsOnly`` shape)."""
    params = params or {}
    include = params.get("include", "literals")
    if include != "literals":
        raise FtsError(f"unsupported luc:include {include!r} "
                       "(this engine indexes literals only, matching "
                       "owlim:ftsLiteralsOnly; repo-config.ttl:38)")
    if params.get("moleculeSize", "1") not in ("0", "1"):
        raise FtsError("unsupported luc:moleculeSize "
                       f"{params['moleculeSize']!r} (only 0/1: the node "
                       "and its own literals)")
    # analyzer values validated at setParam time too (store.fts_control);
    # re-validated here because build_fts_index is also a public kernel
    analyzer = validate_analyzer(params.get("analyzer", ""))
    lits = quads.filter(F.col("o_dt").isNotNull())
    inc = [p for p in params.get("includePredicates", "").split() if p]
    exc = [p for p in params.get("excludePredicates", "").split() if p]
    if inc:
        lits = lits.filter(F.col("p").isin(inc))
    if exc:
        lits = lits.filter(~F.col("p").isin(exc))
    # deterministic molecule text: literals sorted, joined by single spaces
    docs = (lits.groupBy(F.col("s").alias("node"))
            .agg(F.array_join(F.array_sort(F.collect_list("o_lex")), " ")
                 .alias("text")))
    return index_from_docs(spark, docs, analyzer=analyzer)


def _english_ntext():
    """Arrow-batched EnglishAnalyzer text normalization: tokenize (same
    base splitter as the standard path), drop Lucene's English stop set,
    Porter-stem, rejoin with space sentinels. A pandas UDF because
    rule-based stemming is genuinely inexpressible in built-in SQL
    functions — and it runs ONCE per index build, never per query."""
    import re as _re

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from graphdb_free_mocha_sa_spark.operators.porter import english_analyze
    split = _re.compile(_TOKEN_SPLIT)

    def f(text):
        def one(t):
            toks = [x for x in split.split((t or "").lower()) if x]
            return " " + " ".join(english_analyze(toks)) + " "
        return text.map(one)

    # explicit annotation objects: this module uses `from __future__ import
    # annotations`, which stringifies inline hints and pandas_udf cannot
    # resolve the local 'pd' name from them
    f.__annotations__ = {"text": pd.Series, "return": pd.Series}
    return pandas_udf(f, "string")


def index_from_docs(spark: SparkSession, docs: DataFrame,
                    analyzer: str = "standard") -> FtsIndex:
    """Index a ``(node, text)`` frame directly — the kernel under
    :func:`build_fts_index`, also usable over a plain document corpus
    (the [EXT] ``documents`` table). ``ntext`` is the ANALYZED text
    (space-sentinel token join), so the token table, document lengths
    and phrase containment all read the one analyzed form."""
    ntext = (_english_ntext()(F.col("text")) if analyzer == "english"
             else _norm_text(F.col("text")))
    # pin (node, ntext, dl) ONLY — every reader (phrase containment, dl
    # join, corpus stats, the persisted index) consumes the ANALYZED text;
    # carrying the raw `text` through the checkpoint and the on-disk doc
    # table doubled the pinned/persisted bytes for no reader (r11 opt,
    # guide §2.3 narrow-the-payload)
    docs = (docs.select("node", "text")
            .withColumn("ntext", ntext)
            .withColumn("dl", F.size(_tokens(F.col("ntext"))))
            .select("node", "ntext", "dl")
            .localCheckpoint(eager=True))
    tokens = (docs.select("node", F.explode(_tokens(F.col("ntext")))
                          .alias("term"))
              .groupBy("node", "term").agg(F.count(F.lit(1)).alias("tf"))
              .localCheckpoint(eager=True))
    # ONE aggregation for both corpus stats (r11 opt: count + avg were two
    # separate jobs per index build, and the bench builds per query run)
    stats = docs.agg(F.count(F.lit(1)).alias("n"),
                     F.avg("dl").alias("avgdl")).first()
    n_docs = stats["n"]
    avgdl = (stats["avgdl"] or 1.0) if n_docs else 1.0
    return FtsIndex(docs, tokens, n_docs, float(avgdl), analyzer)


# ----------------------------------------------------------- query parsing

_QUERY_TOKEN = re.compile(
    r'([+-]?)"([^"]*)"(\S*)'                                 # phrase [+mods]
    r'|([+-]?)([\[{])([^\s\]}]+)\s+TO\s+([^\s\]}]+)([\]}])(\S*)'  # range
    r'|(\S+)')                                               # plain token
_UNSUPPORTED = re.compile(r'[~^:()\[\]{}"]|\*\S|\?')
_BOOST = re.compile(r"^(.*?)\^(\d+(?:\.\d+)?)$")
_FUZZY = re.compile(r"^(.*?)~(\d*)$")
_LEGACY_SIM = re.compile(r"~\d+\.\d+$")
#: Lucene's LevenshteinAutomata.MAXIMUM_SUPPORTED_DISTANCE
_FUZZY_MAX_EDITS = 2


def _fuzzy_variants(term: str, n: int) -> dict:
    """Transposition-first Damerau-Levenshtein as ``{variant: budget}``:
    an index term matches iff classic ``levenshtein(term_ix, variant) <=
    budget`` for some variant — the query term with 0..n adjacent swaps
    pre-applied, each swap costing one edit. Driver-side and tiny (at
    most ~len(term)^n forms for n <= 2)."""
    def swaps(s):
        return {s[:i] + s[i + 1] + s[i] + s[i + 2:]
                for i in range(len(s) - 1) if s[i] != s[i + 1]}

    out, frontier = {term: n}, {term}
    for spent in range(1, n + 1):
        frontier = set().union(*map(swaps, frontier)) if frontier else set()
        for v in frontier:
            if out.get(v, -1) < n - spent:
                out[v] = n - spent
    return out


def _boost_split(raw: str) -> tuple:
    m = _BOOST.match(raw)
    return (m.group(1), float(m.group(2))) if m else (raw, None)


def parse_fts_query(q: str) -> dict:
    """Parse the documented Lucene subset into term groups.

    Returns ``required / optional / prohibited`` term lists, ``phrases``
    / ``pro_phrases`` token-sequence lists, ``req/opt/pro_prefixes``
    (``term*`` forms, star stripped — ``-term*`` excludes every doc
    containing ANY token starting with the prefix; r10 advisor fix),
    ``req/opt/pro_fuzzy`` as ``(term, max_edits)`` pairs,
    ``req/opt/pro_ranges`` as ``(lo, hi, incl_lo, incl_hi)`` with ``"*"``
    for an open bound, and ``boosts`` mapping a component's qterm label
    (``term``, ``term*``, ``term~N``, ``"a phrase"``, ``[lo TO hi]``) to
    its ``^B`` multiplier (last occurrence wins).
    """
    required, optional, prohibited, phrases, pro_phrases = [], [], [], [], []
    req_pre, opt_pre, pro_pre = [], [], []
    req_fz, opt_fz, pro_fz = [], [], []
    req_rg, opt_rg, pro_rg = [], [], []
    boosts: dict = {}
    plain_slots = []     # retargeted to required under AND
    fuzzy_slots, range_slots = [], []
    saw_and = False

    def record_boost(label, b):
        if b is not None:
            boosts[label] = b

    for m in _QUERY_TOKEN.finditer(q):
        if m.group(2) is not None:                       # quoted phrase
            sign, body, suffix = m.group(1), m.group(2), m.group(3)
            _, b = _boost_split(suffix) if suffix else ("", None)
            if suffix and b is None:
                raise FtsError(
                    f"unsupported phrase modifier {suffix!r} (phrase slop "
                    '"a b"~N is not implemented; only ^B boosts attach to '
                    "a phrase)")
            toks = [t for t in re.split(_TOKEN_SPLIT, body.lower()) if t]
            if not toks:
                continue
            # dedupe repeated phrases: they fold to ONE qterm in the
            # match aggregation, so counting each repetition toward
            # n_required would make '"a b" "a b"' unsatisfiable
            # (r10 fuzzer find)
            tgt = pro_phrases if sign == "-" else phrases
            if toks not in tgt:
                tgt.append(toks)
            if sign != "-":
                record_boost('"' + " ".join(toks) + '"', b)
            continue
        if m.group(5) is not None:                       # [lo TO hi] range
            sign, obr, lo, hi, cbr = (m.group(4), m.group(5),
                                      m.group(6).lower(),
                                      m.group(7).lower(), m.group(8))
            suffix = m.group(9)
            _, b = _boost_split(suffix) if suffix else ("", None)
            if suffix and b is None:
                raise FtsError(
                    f"unsupported range modifier {suffix!r} (only ^B "
                    "boosts attach to a range)")
            rng = (lo, hi, obr == "[", cbr == "]")
            if sign == "-":
                pro_rg.append(rng)
            else:
                (req_rg if sign == "+" else range_slots).append(rng)
                record_boost(f"{obr}{lo} TO {hi}{cbr}", b)
            continue
        raw = m.group(10)
        if raw == "AND":
            saw_and = True
            continue
        if raw == "OR":
            continue
        sign = ""
        if raw[:1] in "+-":
            sign, raw = raw[0], raw[1:]
        raw, boost = _boost_split(raw)
        if _LEGACY_SIM.search(raw):
            raise FtsError(
                f"unsupported legacy float similarity in {raw!r} (fuzzy "
                "takes an integer edit count: term~N with N in 0..2)")
        fuzzy_n = None
        fm = _FUZZY.match(raw)
        if fm:
            raw = fm.group(1)
            fuzzy_n = int(fm.group(2)) if fm.group(2) else _FUZZY_MAX_EDITS
            if fuzzy_n > _FUZZY_MAX_EDITS:
                raise FtsError(
                    f"unsupported fuzzy edit distance ~{fuzzy_n} (Lucene "
                    f"caps maxEdits at {_FUZZY_MAX_EDITS})")
        is_prefix = raw.endswith("*")
        if is_prefix and fuzzy_n is not None:
            raise FtsError(
                f"unsupported combination of wildcard and fuzzy: {raw!r}~")
        if _UNSUPPORTED.search(raw.rstrip("*")) \
                or ("*" in raw and not raw.endswith("*")):
            raise FtsError(f"unsupported Lucene syntax in FTS query: {raw!r}")
        term = re.sub(_TOKEN_SPLIT, "", raw.rstrip("*").lower())
        if not term:
            continue
        if fuzzy_n is not None:
            item = (term, fuzzy_n)
            if sign == "-":
                pro_fz.append(item)
            else:
                (req_fz if sign == "+" else fuzzy_slots).append(item)
                record_boost(f"{term}~{fuzzy_n}", boost)
            continue
        if sign == "-":
            (pro_pre if is_prefix else prohibited).append(term)
        elif sign == "+":
            (req_pre if is_prefix else required).append(term)
            record_boost(term + "*" if is_prefix else term, boost)
        else:
            (opt_pre if is_prefix else plain_slots).append(term)
            record_boost(term + "*" if is_prefix else term, boost)
    if saw_and:
        required.extend(plain_slots)
        req_pre.extend(opt_pre)
        req_fz.extend(fuzzy_slots)
        req_rg.extend(range_slots)
        opt_pre, fuzzy_slots, range_slots = [], [], []
    else:
        optional.extend(plain_slots)
        opt_fz.extend(fuzzy_slots)
        opt_rg.extend(range_slots)
    if not (required or optional or phrases or req_pre or opt_pre
            or req_fz or opt_fz or req_rg or opt_rg):
        raise FtsError(f"FTS query matches nothing: {q!r}")
    return {"required": required, "optional": optional,
            "prohibited": prohibited, "phrases": phrases,
            "pro_phrases": pro_phrases,
            "req_prefixes": req_pre, "opt_prefixes": opt_pre,
            "pro_prefixes": pro_pre,
            "req_fuzzy": req_fz, "opt_fuzzy": opt_fz, "pro_fuzzy": pro_fz,
            "req_ranges": req_rg, "opt_ranges": opt_rg, "pro_ranges": pro_rg,
            "boosts": boosts}


def _analyze_spec(spec: dict, query: str) -> dict:
    """Apply the EnglishAnalyzer pipeline to a parsed query: stop words
    drop out of term groups and phrases (Lucene's query-time StopFilter),
    remaining terms/phrase tokens stem; prefix, fuzzy and range groups
    pass through unanalyzed (Lucene MultiTermQuery semantics — wildcard/
    fuzzy/range terms skip analysis and probe the stemmed dictionary
    literally). Boost labels follow their component through stemming
    (a boost on a stop word drops with it). A query left with no
    positive component raises the same matches-nothing error as the
    parser."""
    from graphdb_free_mocha_sa_spark.operators.porter import (EN_STOPWORDS,
                                                              porter_stem)

    def terms(ts):
        return [porter_stem(t) for t in ts if t not in EN_STOPWORDS]

    out = dict(spec)
    for g in ("required", "optional", "prohibited"):
        out[g] = terms(spec[g])
    # re-dedupe: distinct phrases can stem to the same one, and a
    # duplicate would make the AND-count unsatisfiable (same reason the
    # parser dedupes raw phrases — r10 fuzzer find)
    for g in ("phrases", "pro_phrases"):
        out[g] = []
        for p in (terms(ph) for ph in spec[g]):
            if p and p not in out[g]:
                out[g].append(p)
    # remap plain-term and phrase boost labels to their analyzed form;
    # prefix/fuzzy/range labels are not analyzed, so they pass through
    boosts = {}
    for label, b in spec.get("boosts", {}).items():
        if label.startswith('"'):
            toks = terms(label.strip('"').split())
            if toks:
                boosts['"' + " ".join(toks) + '"'] = b
        elif re.fullmatch(r"[a-z0-9]+", label):
            if label not in EN_STOPWORDS:
                boosts[porter_stem(label)] = b
        else:
            boosts[label] = b
    out["boosts"] = boosts
    if not (out["required"] or out["optional"] or out["phrases"]
            or out["req_prefixes"] or out["opt_prefixes"]
            or out["req_fuzzy"] or out["opt_fuzzy"]
            or out["req_ranges"] or out["opt_ranges"]):
        raise FtsError(
            f"FTS query matches nothing after stop-word analysis: {query!r}")
    return out


# ----------------------------------------------------------------- matching

def _fuzzy_cond(term: str, n: int):
    """Token-table predicate for ``term~n``: length-band pruning + an OR
    over ``levenshtein(term_ix, variant) <= budget`` scalar predicates —
    pure JVM-side codegen over the token table, no join and no Python on
    the query path (exactly the shape of the prefix-wildcard filter)."""
    if n == 0:
        return F.col("term") == term
    variants = _fuzzy_variants(term, n)
    exact = sorted(v for v, bud in variants.items() if bud == 0)
    cond = F.col("term").isin(exact) if exact else F.lit(False)
    for v, bud in sorted((v, bud) for v, bud in variants.items() if bud > 0):
        cond = cond | (F.levenshtein(F.col("term"), F.lit(v)) <= bud)
    return ((F.length("term") >= len(term) - n)
            & (F.length("term") <= len(term) + n) & cond)


def _range_label(rng: tuple) -> str:
    lo, hi, ilo, ihi = rng
    return ("[" if ilo else "{") + lo + " TO " + hi + ("]" if ihi else "}")


def _range_cond(rng: tuple):
    """Lexicographic term-dictionary predicate for ``[lo TO hi]``; ``*``
    is an open bound, ``{`` / ``}`` exclude the endpoint."""
    lo, hi, ilo, ihi = rng
    cond = F.lit(True)
    if lo != "*":
        cond = cond & (F.col("term") >= lo if ilo else F.col("term") > lo)
    if hi != "*":
        cond = cond & (F.col("term") <= hi if ihi else F.col("term") < hi)
    return cond


def fts_match(spark: SparkSession, index: FtsIndex, query: str,
              k1: float = 1.2, b: float = 0.75) -> DataFrame:
    """Match + score: ``(node STRING, score DOUBLE)``.

    A node matches iff every required term/prefix/fuzzy/range/phrase
    matches, no prohibited component matches, and (when only optional
    components exist) at least one optional component matches. Score =
    BM25 over the matched terms (DECIMAL partial sums; phrase hits
    contribute their occurrence count at idf-like weight ln(1+N); a
    prefix/fuzzy/range folds every matching dictionary term into ONE
    logical qterm with summed tf, idf from the folded document
    frequency). A ``^B`` boost multiplies its component's per-document
    BM25 part before the DECIMAL quantization.

    On an ``english``-analyzed index, query terms and phrase tokens are
    analyzed the same way the index text was (stop-word removal + Porter
    stem, driver-side — a handful of terms); prefix/fuzzy/range terms are
    NOT stemmed, matching Lucene, where MultiTermQuery terms skip
    analysis and match the (stemmed) index terms literally.
    """
    spec = parse_fts_query(query)
    if index.analyzer == "english":
        spec = _analyze_spec(spec, query)
    toks, docs = index.tokens, index.docs
    n = max(index.n_docs, 1)

    pieces = []
    # exact terms (both groups) share ONE broadcast join against the
    # token table; the group label rides on the broadcast row
    rows = ([(t, "req") for t in sorted(set(spec["required"]))]
            + [(t, "opt") for t in sorted(set(spec["optional"]))])
    if rows:
        tdf = spark.createDataFrame(rows, "qterm string, grp string")
        pieces.append(toks.join(F.broadcast(tdf),
                                toks["term"] == F.col("qterm"))
                      .select("node", "qterm", "tf", "grp"))
    # prefix wildcard / fuzzy / range: each component folds every matching
    # dictionary term into ONE logical qterm (summed tf) so AND-counting
    # stays exact. All components — across BOTH groups — share ONE scan +
    # ONE groupBy over the token table as conditional sums, unpivoted back
    # to (node, qterm, tf, grp) rows (r12 opt, guide §2.4: one Exchange
    # instead of one per component).
    folded = []
    for group, pre, fz, rg in (
            ("req", spec["req_prefixes"], spec["req_fuzzy"],
             spec["req_ranges"]),
            ("opt", spec["opt_prefixes"], spec["opt_fuzzy"],
             spec["opt_ranges"])):
        folded += ([(F.col("term").startswith(p), p + "*", group)
                    for p in sorted(set(pre))]
                   + [(_fuzzy_cond(t, fn), f"{t}~{fn}", group)
                      for t, fn in sorted(set(fz))]
                   + [(_range_cond(r), _range_label(r), group)
                      for r in sorted(set(rg))])
    if len(folded) == 1:
        # single component: the direct aggregation is strictly cheaper
        # than the conditional-sum unpivot (measured: the struct/explode
        # shape cost ~0.5 s on ext_fts_match's one-prefix query)
        cond, label, group = folded[0]
        pieces.append(toks.filter(cond)
                      .groupBy("node").agg(F.sum("tf").alias("tf"))
                      .select("node", F.lit(label).alias("qterm"), "tf",
                              F.lit(group).alias("grp")))
    elif folded:
        any_cond = folded[0][0]
        for cond, _, _ in folded[1:]:
            any_cond = any_cond | cond
        agg = (toks.filter(any_cond).groupBy("node")
               .agg(*[F.sum(F.when(cond, F.col("tf"))).alias(f"__c{i}")
                      for i, (cond, _, _) in enumerate(folded)]))
        pieces.append(
            agg.select("node", F.explode(F.array(*[
                F.struct(F.lit(label).alias("qterm"),
                         F.col(f"__c{i}").alias("tf"),
                         F.lit(group).alias("grp"))
                for i, (_, label, group) in enumerate(folded)])).alias("h"))
            .select("node", "h.qterm", "h.tf", "h.grp")
            .filter(F.col("tf").isNotNull()))
    matched = None
    for x in pieces:
        matched = x if matched is None else matched.unionByName(x)

    # phrase containment against the normalized text (substring test is
    # token-exact thanks to the space sentinels)
    phrase_hits = None
    for toks_seq in spec["phrases"]:
        needle = " " + " ".join(toks_seq) + " "
        m_len = len(toks_seq)
        # token positions read the ANALYZED text (identical to raw-text
        # tokens on a standard index; stemmed/stop-filtered on english)
        arr = _tokens(F.col("ntext"))
        # exact OVERLAPPING occurrence count via token-position slices
        # (r10 fuzzer fix: the old replace-length formula over-counted by
        # one — a single occurrence scored tf=2 — because consecutive
        # occurrences share a sentinel space that non-overlapping replace
        # misses, and the +1 meant to compensate broke the base case).
        # Runs only over contains()-filtered candidate docs.
        cnt = F.when(
            F.size(arr) >= m_len,
            F.size(F.filter(
                F.sequence(F.lit(1), F.size(arr) - F.lit(m_len - 1)),
                lambda i: F.slice(arr, i, m_len)
                == F.array(*[F.lit(t) for t in toks_seq])))).otherwise(0)
        ph = (docs.filter(F.col("ntext").contains(needle))
              .select("node",
                      F.lit('"' + " ".join(toks_seq) + '"').alias("qterm"),
                      cnt.cast("long").alias("tf"))
              .withColumn("grp", F.lit("req")))
        phrase_hits = ph if phrase_hits is None else phrase_hits.unionByName(ph)
    if phrase_hits is not None:
        matched = phrase_hits if matched is None \
            else matched.unionByName(phrase_hits)

    n_required = (len(set(spec["required"])) + len(set(spec["req_prefixes"]))
                  + len(set(spec["req_fuzzy"])) + len(set(spec["req_ranges"]))
                  + len(spec["phrases"]))
    has_optional = bool(spec["optional"] or spec["opt_prefixes"]
                        or spec["opt_fuzzy"] or spec["opt_ranges"])

    # pin the matched union: it is consumed TWICE — the document-frequency
    # aggregation and the scoring join — and without a pin the whole hit
    # subtree (token joins, folded-component aggregation, phrase scans)
    # re-runs for each consumer (r12 opt, guide §2.4/§5). Per-query hit
    # rows are bounded by |matching (node, qterm) pairs|, the same scale
    # class as the result itself.
    matched = matched.localCheckpoint(eager=True)

    # per-(node, qterm) BM25 partial; phrases take a flat ln(1+N) idf
    dfreq = (matched.groupBy("qterm")
             .agg(F.count_distinct("node").alias("df")))
    scored = (matched.join(F.broadcast(dfreq), "qterm")
              .join(docs.select("node", "dl"), "node"))
    idf = F.when(F.col("qterm").startswith('"'),
                 F.lit(math.log(1.0 + n))) \
        .otherwise(F.log(F.lit(1.0)
                         + (F.lit(n) - F.col("df") + F.lit(0.5))
                         / (F.col("df") + F.lit(0.5))))
    denom = (F.col("tf").cast("double")
             + F.lit(k1) * (F.lit(1.0 - b)
                            + F.lit(b) * F.col("dl") / F.lit(index.avgdl)))
    part = idf * F.col("tf").cast("double") * F.lit(k1 + 1.0) / denom
    if spec.get("boosts"):
        bmap = F.create_map(*[F.lit(x) for kv in spec["boosts"].items()
                              for x in kv])
        part = part * F.coalesce(bmap[F.col("qterm")], F.lit(1.0))
    agg = (scored.groupBy("node")
           .agg(F.sum(part.cast("decimal(18,6)")).alias("__s"),
                F.count_distinct(F.when(F.col("grp") == "req",
                                        F.col("qterm"))).alias("__nreq"),
                F.count_distinct(F.when(F.col("grp") == "opt",
                                        F.col("qterm"))).alias("__nopt")))
    cond = F.col("__nreq") == n_required
    if has_optional and n_required == 0:
        cond = cond & (F.col("__nopt") > 0)
    out = agg.filter(cond).select(
        "node", F.col("__s").cast("double").alias("score"))

    if (spec["prohibited"] or spec["pro_prefixes"]
            or spec["pro_fuzzy"] or spec["pro_ranges"]):
        cond = F.lit(False)
        if spec["prohibited"]:
            cond = cond | F.col("term").isin(spec["prohibited"])
        for p in sorted(set(spec["pro_prefixes"])):
            cond = cond | F.col("term").startswith(p)
        for t, fn in sorted(set(spec["pro_fuzzy"])):
            cond = cond | _fuzzy_cond(t, fn)
        for r in sorted(set(spec["pro_ranges"])):
            cond = cond | _range_cond(r)
        # no dropDuplicates: left_anti is set-semantics on the probe side
        # already, and the dedup added a full exchange before the
        # broadcast build (r11 opt, guide §2.4)
        bad = toks.filter(cond).select("node")
        out = out.join(bad, "node", "left_anti")
    for toks_seq in spec.get("pro_phrases", []):
        # prohibited phrase: token-exact containment anti-filter over the
        # candidate docs (same sentinel-substring test the positive
        # phrase path uses)
        needle = " " + " ".join(toks_seq) + " "
        bad = docs.filter(F.col("ntext").contains(needle)).select("node")
        out = out.join(bad, "node", "left_anti")
    return out
