"""Training-data pipeline operators (E3/E1 extensions, round 5b).

The curation stages a large-scale LLM data pipeline runs between raw
documents and training shards, beyond dedup/similarity (operators/dedup.py,
similarity.py) and the base text features (operators/text.py):

- :func:`repetition_features` — Gopher/C4-style repetition + quality
  filters (duplicate-word fraction, top-bigram fraction, symbol ratio,
  alpha-word fraction) with a composite keep flag.
- :func:`pii_counts` / :func:`redact_pii` — PII detection and redaction
  (emails, IPv4 addresses, SSN-shaped ids) with engine-portable regexes.
- :func:`sample_by_hash` — deterministic content-stable sampling on an
  md5 hex prefix (lexicographic threshold compare, no float hashing).
- :func:`mixture_sample` — stratified source-mixture sampling: hit target
  per-source proportions with the largest achievable total.
- :func:`pack_token_budget` — token-budget sequence packing via a
  DISTRIBUTED prefix sum (block-local windows + tiny block-offset
  broadcast; no global single-partition window).
- :func:`bm25_search` — BM25 ranked retrieval over the corpus (explode →
  tf/df aggregation → decimal-summed scores so addition order cannot
  perturb the result).
- :func:`line_dedup` — C4-style corpus-level duplicate-line removal
  (keep first occurrence by (id, pos), rebuild documents).
- :func:`lm_score` — self-trained add-α bigram-LM fluency scoring (the
  perplexity-filter stage, with the corpus as its own training set).
- :func:`export_shards` — deterministic rank-sharded JSONL export with
  a manifest audited from the re-read files.

Scale notes: everything is native Column expressions / DataFrame aggs —
no Python in the row loop. Per-row array ops (bigrams, distinct counts)
are O(doc_len) or O(doc_len·distinct) inside codegen; the only shuffles
are the aggregations that define the semantics (per-source counts, df
tables, block totals), each keyed on small values.

Reference: the wrapped engine exposes no curation surface
(GraphDBSystemAdapter.java wraps query/update only); these operators are
the [EXT] north-star rows from SURVEY.md §2.3, required by BASELINE.json.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from graphdb_free_mocha_sa_spark.operators.text import tokens

# ---------------------------------------------------------------- repetition

# Gopher-ish acceptance thresholds (Rae et al. 2021 table A1, adapted to
# whitespace-ish tokens). Exposed so callers can tighten/loosen.
GOPHER_THRESHOLDS = {
    "max_dup_word_frac": 0.40,
    "max_top_bigram_frac": 0.20,
    "max_symbol_word_ratio": 0.10,
    "min_alpha_word_frac": 0.80,
    "min_mean_word_len": 2.0,
    "max_mean_word_len": 12.0,
    "min_words": 3,
}


def repetition_features(df: DataFrame, text_col: str = "text",
                        thresholds: dict | None = None) -> DataFrame:
    """Gopher/C4-style repetition and shape filters, one row per doc.

    Emits the classic repetition signals plus a composite ``keep`` flag:

    - ``dup_word_frac``: 1 − distinct(words)/count(words) — high values
      mean the doc repeats itself (boilerplate, keyword stuffing).
    - ``top_bigram_frac``: occurrences of the most frequent word bigram
      over all bigrams — catches looped phrases n-gram dedup misses.
    - ``symbol_word_ratio``: non-letter/digit/space chars per word.
    - ``alpha_word_frac``: fraction of words containing a letter.
    - ``mean_word_len``.

    All per-row array expressions (no shuffle at all): at 100 TB this is
    a map-only pass. Two evaluation-cost rules this function obeys (and
    the reason it stages through projected columns): (1) an expression
    referenced INSIDE a higher-order-function lambda is re-evaluated per
    array element — so tokens/bigrams are materialized as columns first,
    never re-derived from the text inside a lambda; (2) the top-bigram
    count is a sort + linear run-length fold (O(B log B)), not the naive
    O(B²) count-each-distinct scan.
    """
    th = {**GOPHER_THRESHOLDS, **(thresholds or {})}

    staged = df.withColumn("__toks", tokens(F.col(text_col)))
    tk = F.col("__toks")
    n = F.size(tk)
    # bigrams from the MATERIALIZED token column (element_at on a column
    # reference is an O(1) array read; on the raw tokens() expression it
    # would re-run the regex split per element)
    staged = staged.withColumn("__bg", F.when(n >= 2, F.array_sort(
        F.transform(F.slice(tk, 1, n - 1),
                    lambda x, i: F.concat_ws(" ", x, F.element_at(tk, i + 2)))
    )).otherwise(F.array().cast("array<string>")))

    n1 = F.greatest(n, F.lit(1)).cast("double")
    dup_word_frac = (F.lit(1.0)
                     - F.size(F.array_distinct(tk)).cast("double") / n1)

    # longest equal-run in the SORTED bigram array == max bigram count
    bg = F.col("__bg")
    n_bg = F.greatest(F.size(bg), F.lit(1)).cast("double")
    top_count = F.aggregate(
        bg,
        F.struct(F.lit("").alias("prev"), F.lit(0).alias("run"),
                 F.lit(0).alias("best")),
        lambda a, x: F.struct(
            x.alias("prev"),
            F.when(x == a["prev"], a["run"] + 1).otherwise(F.lit(1))
            .alias("run"),
            F.greatest(a["best"],
                       F.when(x == a["prev"], a["run"] + 1)
                       .otherwise(F.lit(1))).alias("best")),
        lambda a: a["best"])
    top_bigram_frac = F.when(F.size(bg) == 0, F.lit(0.0)) \
        .otherwise(top_count.cast("double") / n_bg)

    t = F.col(text_col)
    symbols = F.length(F.regexp_replace(t, r"[\p{L}\p{N}\s]", ""))
    symbol_word_ratio = symbols.cast("double") / n1
    alpha_word_frac = (
        F.size(F.filter(tk, lambda w: w.rlike(r"\p{L}"))).cast("double")
        / n1)
    mean_word_len = (F.aggregate(tk, F.lit(0),
                                 lambda a, w: a + F.length(w))
                     .cast("double") / n1)

    keep = ((n >= th["min_words"])
            & (dup_word_frac <= th["max_dup_word_frac"])
            & (top_bigram_frac <= th["max_top_bigram_frac"])
            & (symbol_word_ratio <= th["max_symbol_word_ratio"])
            & (alpha_word_frac >= th["min_alpha_word_frac"])
            & (mean_word_len >= th["min_mean_word_len"])
            & (mean_word_len <= th["max_mean_word_len"]))

    return staged.select(
        *df.columns,
        n.alias("n_words"),
        F.round(dup_word_frac, 4).alias("dup_word_frac"),
        F.round(top_bigram_frac, 4).alias("top_bigram_frac"),
        F.round(symbol_word_ratio, 4).alias("symbol_word_ratio"),
        F.round(alpha_word_frac, 4).alias("alpha_word_frac"),
        F.round(mean_word_len, 4).alias("mean_word_len"),
        keep.alias("keep"))


# ----------------------------------------------------------------------- PII

# Engine-portable patterns: valid and equivalent under Java regex (Spark)
# and RE2 (DuckDB oracle) — no backreferences, no lookaround.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "ssn": r"\b\d{3}-\d{2}-\d{4}\b",
}
# Redaction order matters (an email contains dots that could partially
# match ipv4 after other rewrites): fixed order, applied identically by
# engine and oracle.
PII_ORDER = ["email", "ipv4", "ssn"]


def pii_counts(text: Column) -> dict[str, Column]:
    """Per-kind PII match counts (JVM-side ``regexp_count``)."""
    return {k: F.regexp_count(text, F.lit(p)) for k, p in PII_PATTERNS.items()}


def redact_pii(text: Column) -> Column:
    """Replace each PII span with a typed placeholder (``[EMAIL]`` …),
    in the fixed :data:`PII_ORDER` so engine and oracle agree byte-for-byte.
    """
    out = text
    for kind in PII_ORDER:
        out = F.regexp_replace(out, PII_PATTERNS[kind], f"[{kind.upper()}]")
    return out


def pii_scrub(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Detection + redaction in one pass: counts per kind, a ``has_pii``
    flag, and the redacted text. Map-only; no shuffle."""
    t = F.col(text_col)
    counts = pii_counts(t)
    total = None
    cols = []
    for kind in PII_ORDER:
        c = counts[kind]
        cols.append(c.alias(f"n_{kind}"))
        total = c if total is None else total + c
    return df.select("*", *cols, (total > 0).alias("has_pii"),
                     redact_pii(t).alias("redacted"))


# ------------------------------------------------------------------ sampling

def hash_keep(key: Column, rate: float) -> Column:
    """Deterministic keep-decision at ``rate`` ∈ [0,1]: lexicographic
    compare of the first 8 md5 hex chars against the rate's hex
    threshold. Content-stable (same key ⇒ same verdict on every run and
    every engine), no float arithmetic, no RNG state.
    """
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate must be in [0,1], got {rate}")
    threshold = format(min(int(rate * 16 ** 8), 16 ** 8 - 1), "08x")
    if rate >= 1.0:
        return F.lit(True)
    return F.substring(F.md5(key.cast("string")), 1, 8) <= F.lit(threshold)


def sample_by_hash(df: DataFrame, key_col: str, rate: float) -> DataFrame:
    """Keep a deterministic ~``rate`` fraction of rows keyed on
    ``key_col``. Map-only (a filter on an md5 prefix); reproducible
    across runs, engines, and cluster sizes — the property training-data
    ablations need that ``df.sample`` (seeded per-partition RNG) does
    not give when partitioning changes."""
    return df.filter(hash_keep(F.col(key_col), rate))


def knuth_frac(key: Column) -> Column:
    """Deterministic pseudo-uniform in [0,1): Knuth multiplicative hash
    of an integer key, exact in BIGINT arithmetic on every engine."""
    return (F.pmod(key.cast("bigint") * F.lit(2654435761),
                   F.lit(4294967296)).cast("double")
            / F.lit(4294967296.0))


def mixture_rates(df: DataFrame, weights: dict[str, float],
                  strata_col: str = "source") -> dict[str, float]:
    """Per-stratum sampling rates that realize target proportions
    ``weights`` (must sum to ~1) with the largest achievable total:
    T = min_s(n_s / w_s), rate_s = w_s · T / n_s ≤ 1.

    The per-stratum counts are a tiny aggregate (one row per source);
    collecting them to the driver is the same ≤-cardinality-of-strata
    collect the IVF centroid path uses.
    """
    total_w = sum(weights.values())
    if abs(total_w - 1.0) > 1e-9:
        raise ValueError(f"weights must sum to 1, got {total_w}")
    counts = {r[strata_col]: r["n"] for r in
              df.groupBy(strata_col).agg(F.count(F.lit(1)).alias("n"))
              .collect()}
    missing = set(weights) - set(counts)
    if missing:
        raise ValueError(f"strata absent from data: {sorted(missing)}")
    t_max = min(counts[s] / w for s, w in weights.items() if w > 0)
    return {s: min(1.0, (w * t_max) / counts[s])
            for s, w in weights.items()}


def mixture_sample(df: DataFrame, weights: dict[str, float],
                   key_col: str = "doc_id",
                   strata_col: str = "source") -> DataFrame:
    """Stratified mixture sampling: draw per-stratum deterministic
    subsets whose relative sizes match ``weights`` as closely as the
    data allows (expected counts w_s·T). The keep draw is
    :func:`knuth_frac` on the key — exact integer arithmetic, so an SQL
    oracle reproduces the exact row set."""
    rates = mixture_rates(df, weights, strata_col)
    rate_expr = F.lit(0.0)
    for s, r in rates.items():
        rate_expr = F.when(F.col(strata_col) == s, F.lit(r)) \
                     .otherwise(rate_expr)
    return (df.filter(F.col(strata_col).isin(*rates.keys()))
            .filter(knuth_frac(F.col(key_col)) < rate_expr))


# ----------------------------------------------------------------- packing

def pack_token_budget(df: DataFrame, budget: int,
                      size_col: str = "n_tok", order_col: str = "doc_id",
                      block_size: int = 4096) -> DataFrame:
    """Token-budget sequence packing: assign docs (in ``order_col``
    order) to consecutive training sequences of ``budget`` tokens,
    letting a doc straddle a boundary (standard concat-then-chunk
    packing for LLM pretraining). Emits ``seq_id`` (which sequence the
    doc STARTS in) and ``seq_offset`` (token offset inside it).

    The global running total is a DISTRIBUTED prefix sum — the
    single-partition ``Window.orderBy`` that would serialize 100 TB
    through one task is replaced by:

    1. block-local cumulative sums (window partitioned by
       ``order_col div block_size`` — parallel), and
    2. per-block totals (one row per block) prefix-summed in a tiny
       single-partition window (#blocks rows, not #docs) and broadcast
       back onto the blocks.
    """
    from pyspark.sql import types as T
    dt = df.schema[order_col].dataType
    if not isinstance(dt, T.NumericType):
        # r6 (ADVICE): a non-numeric order_col used to cast to NULL __blk
        # for every row — the equi-join on __blk then silently dropped the
        # whole frame. Fail fast instead; callers with string ids should
        # derive a numeric key first (e.g. xxhash64(id)).
        raise TypeError(
            f"pack_token_budget: order_col {order_col!r} must be numeric "
            f"(got {dt.simpleString()}); derive a numeric key first, e.g. "
            f"F.xxhash64({order_col!r})")
    blk = (F.col(order_col) / F.lit(block_size)).cast("bigint").alias("__blk")
    d = df.select("*", blk)
    w_local = (Window.partitionBy("__blk").orderBy(order_col)
               .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    d = d.withColumn("__local_cum", F.sum(size_col).over(w_local))

    totals = d.groupBy("__blk").agg(F.sum(size_col).alias("__tot"))
    # unpartitioned by design: this window runs over the #blocks-row
    # TOTALS table, never over data rows. Constant partition keys don't
    # silence the WindowExec WARN (Catalyst folds them), so the logger is
    # muted in session.get_spark and tests/test_plans.py gates the COUNT
    # of unpartitioned Window nodes in this plan instead (r10)
    w_blk = (Window.orderBy("__blk")
             .rowsBetween(Window.unboundedPreceding, -1))
    offsets = totals.select(
        "__blk", F.coalesce(F.sum("__tot").over(w_blk), F.lit(0))
        .alias("__offset"))

    d = d.join(F.broadcast(offsets), "__blk")
    cum_excl = (F.col("__offset") + F.col("__local_cum")
                - F.col(size_col))
    return (d.select(
        *df.columns,
        F.floor(cum_excl / F.lit(budget)).cast("bigint").alias("seq_id"),
        F.pmod(cum_excl, F.lit(budget)).cast("bigint").alias("seq_offset")))


# -------------------------------------------------------------------- BM25

def bm25_search(df: DataFrame, query_terms: list[str], k: int = 15,
                text_col: str = "text", id_col: str = "doc_id",
                k1: float = 1.2, b: float = 0.75) -> DataFrame:
    """BM25 ranked retrieval (Robertson/Sparck-Jones) over the corpus —
    the query side of the curation stack (find near-benchmark docs,
    audit topical coverage). Full scoring pipeline in DataFrame ops:

    - one explode → (doc, term) tf aggregation (the only big shuffle,
      keyed on 8-byte-ish terms),
    - df/N/avgdl side tables (df table has ≤|query| rows — broadcast),
    - idf(t) = ln(1 + (N − df + ½)/(df + ½)),
      score = Σ idf·tf·(k1+1)/(tf + k1·(1 − b + b·dl/avgdl)).

    Per-term partial scores are cast to DECIMAL(18,6) before the SUM so
    addition order (nondeterministic in any parallel engine) cannot
    perturb ranking — the same trick the streaming aggregates use.
    Returns the top ``k`` docs by (score desc, id asc).
    """
    terms = [t.lower() for t in query_terms]
    toks = (df.select(F.col(id_col), F.explode(tokens(F.col(text_col)))
                      .alias("term")))
    dl = (df.select(F.col(id_col),
                    F.size(tokens(F.col(text_col))).alias("dl")))
    stats = dl.agg(F.count(F.lit(1)).alias("n_docs"),
                   F.avg("dl").alias("avgdl"))

    tf = (toks.filter(F.col("term").isin(*terms))
          .groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf")))
    dfreq = (tf.groupBy("term")
             .agg(F.countDistinct(id_col).alias("df")))

    scored = (tf.join(F.broadcast(dfreq), "term")
              .join(dl, id_col)
              .crossJoin(F.broadcast(stats)))
    idf = F.log(F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5)))
    denom = (F.col("tf").cast("double")
             + F.lit(k1) * (F.lit(1.0 - b)
                            + F.lit(b) * F.col("dl") / F.col("avgdl")))
    part = (idf * F.col("tf").cast("double") * F.lit(k1 + 1.0) / denom)
    return (scored
            .groupBy(id_col)
            .agg(F.sum(part.cast("decimal(18,6)")).alias("__s"),
                 F.countDistinct("term").alias("n_terms_hit"))
            .select(F.col(id_col),
                    F.col("__s").cast("double").alias("score"),
                    "n_terms_hit")
            .orderBy(F.desc("score"), F.asc(id_col))
            .limit(k))


# --------------------------------------------------------------- line dedup

def line_dedup(df: DataFrame, text_col: str = "text",
               id_col: str = "doc_id", sep: str = "\n",
               min_chars: int = 0) -> DataFrame:
    """C4-style corpus-level line deduplication: across the WHOLE corpus,
    keep only the first occurrence (lowest ``(id, position)``) of every
    distinct line and rebuild each document from its surviving lines.
    This is the boilerplate-stripper exact-document dedup cannot express:
    navbars, cookie banners and license headers repeat across millions of
    otherwise-distinct pages.

    ``sep`` is the line separator (a literal, not a regex); lines shorter
    than ``min_chars`` are exempt from dedup (always kept) so trivial
    connectives don't get stripped from every document but one.

    Scale shape: one shuffle partitioned on ``md5(line)`` for the
    first-occurrence window (the row carries the line once — no
    all-pairs, no driver state), then one groupBy(id) to reassemble.
    The keep rule is a rank inside the hash partition, so the result is
    independent of cluster size and input layout.

    Returns ``(id, text_dedup, n_kept, n_dropped)`` for every input doc
    (a doc whose every line was seen earlier comes back empty, not
    missing).
    """
    import re as _re

    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), _re.escape(sep), -1))
        .alias("pos", "line"))
    w = Window.partitionBy(F.md5(F.col("line"))).orderBy(id_col, "pos")
    ranked = lines.withColumn("__rn", F.row_number().over(w))
    keep = F.col("__rn") == 1
    if min_chars > 0:
        keep = keep | (F.length("line") < min_chars)
    kept = ranked.filter(keep)
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(F.array_sort(F.collect_list(F.struct("pos", "line"))),
                        lambda s: s["line"]), sep).alias("text_dedup"),
        F.count(F.lit(1)).alias("n_kept"))
    totals = lines.groupBy(id_col).agg(F.count(F.lit(1)).alias("__n"))
    return (totals.join(rebuilt, id_col, "left")
            .select(id_col,
                    F.coalesce("text_dedup", F.lit("")).alias("text_dedup"),
                    F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
                    (F.col("__n") - F.coalesce("n_kept", F.lit(0)))
                    .alias("n_dropped")))


# ------------------------------------------------------------- LM scoring

def lm_score(df: DataFrame, text_col: str = "text",
             id_col: str = "doc_id", alpha: float = 0.5) -> DataFrame:
    """Statistical-LM fluency scoring — the perplexity-filter stage of a
    curation pipeline, self-trained: fit an add-α smoothed bigram model
    on the corpus itself (the CCNet/Gopher trick without an external
    model), then score every document by its mean token log-probability
    ``mean over bigrams (w1,w2) of ln((c(w1,w2)+α) / (c(w1)+α·V))``.
    Low scores = improbable word sequences (gibberish, OCR noise,
    keyword stuffing); high = repetitive/templated text.

    All relational: two explode→groupBy count tables (unigrams keyed
    ``w1``, bigrams keyed ``(w1,w2)``), hash-joined back onto the bigram
    events, then a per-doc aggregate. The vocabulary size rides in on a
    broadcast single-row table (the BM25 ``stats`` pattern). Per-event
    log-probs are summed as DECIMAL(18,6) so parallel addition order
    cannot perturb the 6th decimal of anyone's score.

    Returns ``(id, n_events, avg_logprob)`` for every doc; docs with
    fewer than 2 tokens have no bigram events and score NULL.
    """
    # materialize the token array first: element_at inside the transform
    # lambda must read a column (O(1)), not re-run the regex split per
    # element (the quadratic-re-evaluation trap repetition_features
    # documents)
    staged = df.select(F.col(id_col),
                       tokens(F.col(text_col)).alias("__toks"))
    tk = F.col("__toks")
    n = F.size(tk)
    pairs = F.when(n >= 2, F.transform(
        F.slice(tk, 1, n - 1),
        lambda x, i: F.struct(x.alias("w1"),
                              F.element_at(tk, i + 2).alias("w2")),
    )).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))

    events = (staged.select(F.col(id_col), F.explode(pairs).alias("p"))
              .select(id_col, "p.w1", "p.w2"))
    unigrams = (staged.select(F.explode(tk).alias("w1"))
                .groupBy("w1").agg(F.count(F.lit(1)).alias("c1")))
    bigrams = (events.groupBy("w1", "w2")
               .agg(F.count(F.lit(1)).alias("c2")))
    vocab = unigrams.agg(F.count(F.lit(1)).alias("v"))

    logp = F.log((F.col("c2") + F.lit(alpha))
                 / (F.col("c1") + F.lit(alpha) * F.col("v")))
    # logp is a function of the PAIR alone, so enrich the (small,
    # aggregated) bigram table with its unigram count + vocab first and
    # join the big `events` table ONCE on (w1, w2) — the old shape
    # (events ⋈ bigrams on (w1,w2), then ⋈ unigrams on w1) re-shuffled
    # every event row a second time by w1 (r11 opt, guide §2.3: shuffle
    # the lightweight proxy, not the event stream, twice).
    # Join sizing (guide §3.1), adjudicated by an interleaved A/B at sf0.1
    # (r12, OPTIMIZATION_r12.md): the UNIGRAM table is the vocabulary —
    # genuinely small at any scale — so it broadcasts into the pair-model
    # build (no shuffle of the bigram types by w1). The PAIR table is the
    # corpus's bigram TYPES — near event-stream order for natural text —
    # so force-broadcasting it (the r11 verdict's suggestion) moved the
    # median nowhere locally, cost a 13.7 s first-run broadcast build, and
    # would OOM the driver at scale; the events join is left to AQE's
    # runtime size decision instead.
    pair_logp = (bigrams.join(F.broadcast(unigrams), "w1")
                 .crossJoin(F.broadcast(vocab))
                 .select("w1", "w2", logp.alias("__logp")))
    scored = (events.join(pair_logp, ["w1", "w2"])
              .groupBy(id_col)
              .agg(F.count(F.lit(1)).alias("n_events"),
                   F.sum(F.col("__logp").cast("decimal(18,6)"))
                   .alias("__s")))
    return (df.select(F.col(id_col)).join(scored, id_col, "left")
            .select(id_col,
                    F.coalesce("n_events", F.lit(0)).alias("n_events"),
                    (F.col("__s").cast("double") / F.col("n_events"))
                    .alias("avg_logprob")))


# ----------------------------------------------------------------- sharding

def export_shards(df: DataFrame, path: str, shard_rows: int = 100_000,
                  id_col: str = "doc_id",
                  token_col: str | None = None) -> DataFrame:
    """Deterministic training-shard export + audited manifest — the sink
    side of the curation pipeline.

    Rows are assigned to shards by global ``id_col`` rank
    (``shard_id = (rank-1) // shard_rows`` — reuses the distributed
    prefix sum from :func:`pack_token_budget` with unit sizes, so no
    single-partition window over data rows), written as
    ``path/shard_id=K/`` JSONL partitions, then RE-READ to build the
    manifest (shard_id, n_rows, min_id, max_id[, n_tokens]) — the
    manifest audits the bytes actually on disk, not the plan that was
    supposed to produce them.

    Determinism is the point: the same corpus always produces the same
    shard membership regardless of cluster size or partition layout, so
    training-run A/B comparisons see identical shard boundaries.
    """
    spark = df.sparkSession
    packed = pack_token_budget(df.withColumn("__one", F.lit(1)),
                               budget=shard_rows, size_col="__one",
                               order_col=id_col)
    shards = packed.select(*df.columns, F.col("seq_id").alias("shard_id"))
    (shards.write.partitionBy("shard_id").mode("overwrite").json(path))

    back = spark.read.schema(df.schema).json(path)
    aggs = [F.count(F.lit(1)).alias("n_rows"),
            F.min(id_col).alias("min_id"),
            F.max(id_col).alias("max_id")]
    if token_col:
        aggs.append(F.sum(token_col).cast("bigint").alias("n_tokens"))
    return (back.groupBy(F.col("shard_id").cast("bigint").alias("shard_id"))
            .agg(*aggs))


# ------------------------------------------------------- k-per-stratum

def stratified_topk_sample(df: DataFrame, k: int,
                           strata_col: str = "source",
                           key_col: str = "doc_id") -> DataFrame:
    """Exactly ``min(k, |stratum|)`` rows per stratum, chosen by md5-hash
    rank of the key — "give me 1000 docs per domain", deterministic under
    any partitioning (rate-based :func:`sample_by_hash` can't promise
    exact counts; this can, at the cost of a per-stratum rank window).

    Scale shape: one shuffle partitioned on the stratum; the window ranks
    within each stratum only. Strata are typically many and bounded in
    size (domains, languages, shards) — skewed mega-strata rank in one
    partition, which AQE splits; for pathological single-stratum inputs
    use the rate-based sampler instead.
    """
    w = (Window.partitionBy(strata_col)
         .orderBy(F.md5(F.col(key_col).cast("string")), key_col))
    return (df.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") <= k).drop("__rk"))


# --------------------------------------------------- length bucketing

def length_bucket_batches(df: DataFrame, batch_size: int,
                          size_col: str = "n_tok",
                          id_col: str = "doc_id") -> DataFrame:
    """Length-bucketed batch assignment (padding-minimizing dynamic
    batching for inference/eval over the corpus): docs bucket by the
    power-of-two ceiling of their size, then fill fixed-size batches in
    deterministic ``id_col`` order inside each bucket. Emits ``bucket``
    (the padded length), ``batch_id`` (globally unique: bucket-major)
    and ``batch_slot``.

    Scale shape: one shuffle on the bucket key; ranking windows run
    per-bucket in parallel. With B buckets (log-spaced, so ~20 for any
    realistic corpus) the only cross-bucket coordination is a B-row
    offset table, computed with the same tiny single-partition window
    the packing prefix sum uses — never a global window over data rows.
    """
    size = F.col(size_col)
    bucket = F.pow(F.lit(2.0),
                   F.ceil(F.log2(F.greatest(size, F.lit(1))
                                 .cast("double")))).cast("bigint")
    d = df.withColumn("__bkt", bucket)
    w = Window.partitionBy("__bkt").orderBy(id_col)
    d = d.withColumn("__pos", F.row_number().over(w) - 1)
    # per-bucket batch counts -> bucket-major global batch-id offsets
    counts = (d.groupBy("__bkt")
              .agg(F.ceil(F.count(F.lit(1)) / F.lit(batch_size))
                   .cast("bigint").alias("__nb")))
    # unpartitioned by design over the ~20-row bucket frame (see the
    # packing prefix sum above for the logging/plan-gate story)
    w_off = (Window.orderBy("__bkt")
             .rowsBetween(Window.unboundedPreceding, -1))
    offsets = counts.select(
        "__bkt", F.coalesce(F.sum("__nb").over(w_off), F.lit(0))
        .alias("__off"))
    d = d.join(F.broadcast(offsets), "__bkt")
    return d.select(
        *df.columns,
        F.col("__bkt").alias("bucket"),
        (F.col("__off") + F.floor(F.col("__pos") / F.lit(batch_size)))
        .cast("bigint").alias("batch_id"),
        F.pmod(F.col("__pos"), F.lit(batch_size)).cast("bigint")
        .alias("batch_slot"))


def chunk_documents(df: DataFrame, chunk_tokens: int = 128,
                    overlap: int = 16, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Split documents into sliding token windows (r6; the passage-
    chunking stage every pretraining/RAG pipeline runs before embedding
    or packing): window ``k`` covers tokens ``[k*stride, k*stride +
    chunk_tokens)`` with ``stride = chunk_tokens - overlap``; every doc
    yields at least one chunk (short docs yield themselves).

    Scale shape: tokenize + explode — map-only, no shuffle, chunk count
    proportional to corpus tokens. Deterministic (chunk_id is the window
    index, not a partition artifact), so exactly SQL-mirrorable.
    """
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("need 0 <= overlap < chunk_tokens")
    stride = chunk_tokens - overlap
    d = df.select(id_col, tokens(F.col(text_col)).alias("__t"))
    n = F.size("__t")
    n_chunks = F.greatest(
        F.ceil((n - F.lit(overlap)).cast("double") / stride).cast("int"),
        F.lit(1))
    d = d.withColumn("__k", F.explode(F.sequence(F.lit(0), n_chunks - 1)))
    chunk = F.slice("__t", F.col("__k") * stride + 1, chunk_tokens)
    return d.select(id_col, F.col("__k").alias("chunk_id"),
                    F.concat_ws(" ", chunk).alias("chunk_text"),
                    F.size(chunk).alias("n_tok"))
