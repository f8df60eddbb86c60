"""Term-dictionary encoding (SURVEY §1.4; reference: 32-bit entity ids,
``owlim:entity-index-size``/``entity-id-size``, repo-config.ttl:22-23).

At 100 TB, joining on 8-byte BIGINT ids instead of RDF term strings cuts
shuffle bytes several-fold and makes sort-merge joins cache-friendly.

A term's id is a pure function of the term: :func:`term_id`, the 64-bit
xxhash of its canonical key. The dictionary is then one scan of the quads
and one aggregation, and encoding the quads is a projection — no join, no
global id assignment, and the same term gets the same id in every build.
The price is that two terms may share an id. With n distinct terms the
chance of any shared id is about n²/2⁶⁵ (birthday bound; ~10⁻⁷ at 2·10⁶
terms), and the build records it exactly: every dictionary row carries the
least and greatest term under its id, and :func:`has_collision` finds any
id with two terms. The engine sends such a snapshot to the string path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from graphdb_free_mocha_sa_spark.model import canonical_object_key


def term_id(key: Column) -> Column:
    """BIGINT id of the term whose canonical key is ``key``."""
    return F.xxhash64(key)


def build_term_dict_full(quads: DataFrame) -> DataFrame:
    """``dict(id BIGINT, term STRING, lex, dt, lang, num, ts, term_max)``
    over EVERY term — IRIs, bnodes, graph names AND literals (keyed by
    canonical term key, mirroring :func:`model.canonical_object_key`).

    This is the engine's entity index (reference: 32-bit entity ids,
    repo-config.ttl:22-23, scaled to 64-bit): the query path joins on ``id``
    and decodes back to full term families only at projection. Carrying the
    literal family columns in the dictionary makes the decode a single join.

    One scan: each quad fans out to its four position terms via ``inline``
    (as ``encode.encode_table`` does), grouped by :func:`term_id`. ``term``
    and its family are the least term under the id, ``term_max`` the
    greatest; they differ only where ids collide (:func:`has_collision`).
    """
    null = {t: F.lit(None).cast(t) for t in ("string", "double", "timestamp")}

    def entry(term, lex, dt, lang, num, ts):
        return F.struct(term.alias("term"), lex.alias("lex"), dt.alias("dt"),
                        lang.alias("lang"), num.alias("num"), ts.alias("ts"))

    entries = [entry(F.col(pos), F.col(pos), null["string"], null["string"],
                     null["double"], null["timestamp"])
               for pos in ("s", "p", "g")]
    entries.append(entry(canonical_object_key(), F.col("o_lex"),
                         F.col("o_dt"), F.col("o_lang"), F.col("o_num"),
                         F.col("o_ts")))
    terms = quads.select(F.inline(F.array(*entries)))
    return (terms.groupBy(term_id(F.col("term")).alias("id"))
            .agg(F.min(F.struct(*terms.columns)).alias("t"),
                 F.max("term").alias("term_max"))
            .select("id", "t.*", "term_max"))


def has_collision(term_dict: DataFrame) -> bool:
    """True iff some id of :func:`build_term_dict_full` names two terms.
    Run it on the materialized dictionary: a filtered scan collecting the
    (almost always zero) colliding ids is one Spark job, where a global
    aggregate or a ``limit`` would take two or more."""
    return bool(term_dict.where(
        ~F.col("term").eqNullSafe(F.col("term_max"))).select("id").collect())


def encode_quads(quads: DataFrame) -> DataFrame:
    """Quad table re-keyed to BIGINT ids: ``(g_id, s_id, p_id, o_id)`` —
    every position, literals included — with the object's literal family
    (``o_lex/o_dt/o_lang/o_num/o_ts``) kept INLINE so value predicates
    (range filters, lang tags) stay pushdown-able without a dictionary join.

    A projection: each id is :func:`term_id` of the position's canonical
    key, so the result matches any dictionary built from the same quads.
    BGP joins then shuffle 8-byte longs instead of ~60-byte IRI strings
    (the reference's entity-id join design, SURVEY §1.4).
    """
    return quads.select(
        term_id(F.col("g")).alias("g_id"), term_id(F.col("s")).alias("s_id"),
        term_id(F.col("p")).alias("p_id"),
        term_id(canonical_object_key()).alias("o_id"),
        "o_lex", "o_dt", "o_lang", "o_num", "o_ts")
