"""[EXT] operator tests: dedup, similarity, text, multimodal (SURVEY §2.3)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR, assert_matches_duck


@pytest.fixture(scope="module")
def documents(tables):
    return tables["documents"]


@pytest.fixture(scope="module")
def embeddings(tables):
    return tables["embeddings"]


@pytest.fixture(scope="module")
def docs_with_dups(spark, documents):
    """Fixture docs + synthesized exact and near duplicates."""
    # where(), not limit(): unordered limits became partition-dependent
    # when the documents source gained the r6 parallelism floor
    extra = documents.where(F.col("doc_id") < 10).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text", "lang", "source",
        "n_chars")
    near = documents.where(F.col("doc_id") < 5).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra token")).alias("text"),
        "lang", "source", "n_chars")
    return documents.unionByName(extra).unionByName(near)


# ------------------------------------------------------------ dedup


def test_exact_hash_dedup(docs_with_dups, duck):
    from graphdb_free_mocha_sa_spark.operators.dedup import exact_hash_dedup
    out = exact_hash_dedup(docs_with_dups)
    assert out.count() == 505                         # 500 uniques + 5 near variants
    assert out.filter(F.col("dup_count") == 2).count() == 10


def test_minhash_lsh_finds_exact_and_near(docs_with_dups):
    from graphdb_free_mocha_sa_spark.operators.dedup import minhash_lsh_candidates
    cand = minhash_lsh_candidates(docs_with_dups, num_hashes=32, bands=16)
    pairs = {(r.id_a, r.id_b): r.jaccard for r in cand.collect()}
    # all 10 exact dup pairs must surface with jaccard == 1.0
    exact_hits = [(a, b) for (a, b), j in pairs.items() if b == a + 100000 and j == 1.0]
    assert len(exact_hits) == 10
    # near-dup pairs (one appended token) should appear with high jaccard
    near_hits = [(a, b) for (a, b), j in pairs.items() if b == a + 200000 and j > 0.7]
    assert len(near_hits) >= 4


def test_ngram_jaccard_pairs(docs_with_dups):
    from graphdb_free_mocha_sa_spark.operators.dedup import ngram_jaccard_pairs
    out = ngram_jaccard_pairs(docs_with_dups, threshold=0.999)
    pairs = {(r.id_a, r.id_b) for r in out.collect()}
    assert {(a, a + 100000) for a in range(10)} <= pairs


def test_simhash_near_dups(docs_with_dups):
    from graphdb_free_mocha_sa_spark.operators.dedup import simhash_near_dups
    out = simhash_near_dups(docs_with_dups, max_hamming=0)
    pairs = {(r.id_a, r.id_b) for r in out.collect()}
    assert {(a, a + 100000) for a in range(10)} <= pairs


# ------------------------------------------------------------ similarity


def test_brute_force_topk_matches_numpy(embeddings):
    from graphdb_free_mocha_sa_spark.operators.similarity import brute_force_topk
    queries = embeddings.limit(3).select(
        F.col("vec_id").alias("query_id"), "embedding")
    got = brute_force_topk(embeddings, queries, k=5)
    rows = got.collect()

    E = {r.vec_id: np.array(r.embedding) for r in embeddings.collect()}
    for qid in [r.query_id for r in queries.collect()]:
        q = E[qid]
        sims = {i: float(np.dot(q, v) / (np.linalg.norm(q) * np.linalg.norm(v)))
                for i, v in E.items()}
        expect = sorted(sims, key=lambda i: (-sims[i], i))[:5]
        mine = [r.vec_id for r in sorted((x for x in rows if x.query_id == qid),
                                         key=lambda r: r.rank)]
        assert mine == expect
        # self always rank 1 with cos ≈ 1
        assert mine[0] == qid


def test_lsh_topk_recall(embeddings):
    from graphdb_free_mocha_sa_spark.operators.similarity import (
        brute_force_topk, lsh_topk)
    queries = embeddings.limit(5).select(F.col("vec_id").alias("query_id"),
                                         "embedding")
    exact = brute_force_topk(embeddings, queries, k=3).collect()
    approx = lsh_topk(embeddings, queries, dim=64, k=3, bits=4).collect()
    # bucket containing the query always contains the query itself
    by_q = {}
    for r in approx:
        by_q.setdefault(r.query_id, []).append(r.vec_id)
    for qid, ids in by_q.items():
        assert qid in ids
    # recall vs exact should be nontrivial with 4 bits (16 buckets)
    hits = sum(1 for r in exact if r.vec_id in by_q.get(r.query_id, []))
    assert hits >= len(exact) // 3


# ------------------------------------------------------------ text


def test_token_count_vs_duck(documents, duck):
    from graphdb_free_mocha_sa_spark.operators.text import token_count
    out = documents.select("doc_id", token_count(F.col("text")).alias("n_tok"))
    assert_matches_duck(out, duck, """
        SELECT doc_id, len(string_split_regex(trim(text), '\\s+')) AS n_tok
        FROM documents
    """)


def test_term_stats_vs_duck(documents, duck):
    from graphdb_free_mocha_sa_spark.operators.text import term_stats
    out = term_stats(documents).limit(5)
    assert_matches_duck(out, duck, """
        SELECT term, count(*) AS tf FROM (
          SELECT unnest(string_split_regex(lower(text), '[^a-z0-9'']+')) AS term
          FROM documents) WHERE term <> ''
        GROUP BY term ORDER BY tf DESC, term ASC LIMIT 5
    """)


def test_lang_id_and_quality(spark):
    from graphdb_free_mocha_sa_spark.operators.text import lang_id, quality_features
    rows = [(1, "the cat sat on the mat and it was happy with this"),
            (2, "der Hund ist nicht mit der Katze und das ist ein Problem"),
            (3, "le chat est dans la maison et il est pour le moment"),
            (4, "el perro es un animal y la casa es de los gatos"),
            (5, "zzz qqq xxx")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.lid for r in
           df.select("doc_id", lang_id(F.col("text")).alias("lid")).collect()}
    assert got == {1: "en", 2: "de", 3: "fr", 4: "es", 5: "unknown"}
    q = quality_features(df)
    qrows = {r.doc_id: r for r in q.collect()}
    assert 0.0 <= qrows[1].quality_score <= 1.0
    assert qrows[1].quality_score > qrows[5].quality_score


def test_fingerprint_normalization(spark):
    from graphdb_free_mocha_sa_spark.operators.text import fingerprint
    df = spark.createDataFrame(
        [(1, "Hello,  World!"), (2, "hello world"), (3, "something else")],
        "id long, text string")
    fps = {r.id: r.fp for r in df.select("id", fingerprint(F.col("text")).alias("fp")).collect()}
    assert fps[1] == fps[2] != fps[3]


# ------------------------------------------------------------ multimodal


def test_multimodal_plumbing(spark):
    from graphdb_free_mocha_sa_spark.operators.multimodal import (
        FEATURE_DIM, extract_features, resize_images, sample_frames,
        synthesize_media)
    media = synthesize_media(spark, n=30)
    feats = extract_features(media)
    rows = feats.collect()
    assert len(rows) == 30
    assert all(len(r.feature) == FEATURE_DIM for r in rows)
    # deterministic: same content → same feature
    again = {r.media_id: r.feature for r in extract_features(media).collect()}
    first = {r.media_id: r.feature for r in rows}
    assert again == first

    resized = resize_images(media, 8, 8).collect()
    assert all(len(bytes(r.content)) == 64 for r in resized)

    frames = sample_frames(media, every_n=30)
    per_vid = frames.groupBy("media_id").count().collect()
    assert all(r["count"] == 4 for r in per_vid)      # 120 frames / 30

    # compressed codecs (the synthesized fakes are random bytes) still
    # refuse real decode — surfaced from the executor as a task failure
    with pytest.raises(Exception):
        extract_features(media, decode="real").collect()


def test_multimodal_real_decode(spark):
    """REAL decode path: genuine PPM images + PCM WAV tones through feature
    extraction and nearest-neighbour resize — stdlib/numpy only."""
    from graphdb_free_mocha_sa_spark.operators.multimodal import (
        FEATURE_DIM, decode_image, extract_features, resize_images,
        synthesize_real_media)
    media = synthesize_real_media(spark, n=24)
    feats = {r.media_id: r for r in
             extract_features(media, decode="real").collect()}
    assert len(feats) == 24
    for r in feats.values():
        assert len(r.feature) == FEATURE_DIM
        assert any(abs(x) > 1e-9 for x in r.feature)   # real signal, not zeros
    # audio rows: RMS (idx 2) of a pure tone ≈ amplitude/√2 ≈ 0.35
    audio = [r for r in feats.values() if r.kind == "audio"]
    assert audio and all(0.2 < r.feature[2] < 0.5 for r in audio)

    resized = resize_images(media, 16, 12, decode="real").collect()
    assert len(resized) == 12                          # image rows only
    for r in resized:
        img = decode_image(bytes(r.content))
        assert img.shape == (12, 16, 3)


def test_png_codec_round_trip_all_filters_and_colortypes():
    """Pure-Python PNG codec (round 5): encode/decode must round-trip
    exactly for every scanline filter (0-4 + mixed) and every supported
    color type (gray, gray+alpha, RGB, RGBA)."""
    import numpy as np
    from graphdb_free_mocha_sa_spark.operators.png_codec import (
        decode_png, decode_png_rgb, encode_png)
    rng = np.random.default_rng(7)
    for ch in (1, 2, 3, 4):
        img = rng.integers(0, 256, size=(13, 17, ch), dtype=np.uint8)
        for mode in (0, 1, 2, 3, 4, "mixed"):
            out = decode_png(encode_png(img, filter_mode=mode))
            assert out.shape == img.shape and (out == img).all(), \
                f"ch={ch} filter={mode}"
    rgb = rng.integers(0, 256, size=(9, 9, 3), dtype=np.uint8)
    assert (decode_png_rgb(encode_png(rgb, "mixed")) == rgb).all()
    gray = rng.integers(0, 256, size=(5, 6), dtype=np.uint8)
    view = decode_png_rgb(encode_png(gray))
    assert view.shape == (5, 6, 3) and (view[:, :, 0] == gray).all()


def test_png_decode_through_spark_pipeline(spark):
    """PNG payloads flow through the REAL decode path end-to-end: feature
    extraction and resize over mixed PNG/PPM media (synthesize_real_media
    now emits mixed-filter PNGs)."""
    import numpy as np
    from graphdb_free_mocha_sa_spark.operators.multimodal import (
        decode_image, extract_features, resize_images, synthesize_real_media)
    from graphdb_free_mocha_sa_spark.operators.png_codec import encode_png
    media = synthesize_real_media(spark, n=16)
    kinds = {r.media_id: r.meta.codec for r in media.collect()}
    assert "png" in kinds.values() and "ppm" in kinds.values()
    feats = extract_features(media, decode="real").collect()
    assert len(feats) == 16
    # PNG and PPM of the SAME pixels must produce identical features:
    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, size=(24, 32, 3), dtype=np.uint8)
    from graphdb_free_mocha_sa_spark.operators.multimodal import (
        MEDIA_SCHEMA, encode_ppm)
    two = spark.createDataFrame(
        [(0, "image", bytearray(encode_png(img, "mixed")), (32, 24, None, None, "png")),
         (1, "image", bytearray(encode_ppm(img)), (32, 24, None, None, "ppm"))],
        MEDIA_SCHEMA)
    f0, f1 = {r.media_id: r.feature
              for r in extract_features(two, decode="real").collect()}.values()
    assert f0 == f1
    resized = resize_images(two, 8, 6, decode="real").collect()
    a, b = {r.media_id: bytes(r.content) for r in resized}.values()
    assert a == b and decode_image(a).shape == (6, 8, 3)


def test_jpeg_codec_round_trip_psnr():
    """Baseline JPEG codec (round 5): lossy round-trip must stay above a
    PSNR floor for 4:4:4, 4:2:0 and grayscale; DCT itself inverts exactly;
    odd (non-MCU-multiple) sizes crop correctly."""
    import numpy as np
    from graphdb_free_mocha_sa_spark.operators.jpeg_codec import (
        decode_jpeg, encode_jpeg, fdct, idct)
    blk = np.random.default_rng(1).standard_normal((8, 8)) * 50
    assert np.allclose(idct(fdct(blk)), blk)

    def psnr(a, b):
        mse = np.mean((a.astype(float) - b.astype(float)) ** 2)
        return 10 * np.log10(255 * 255 / mse) if mse else 99.0

    rng = np.random.default_rng(5)
    yy, xx = np.mgrid[0:40, 0:56]
    img = np.stack([(xx * 3 + yy * 2) % 256, (xx * 2 + 100) % 256,
                    (yy * 4) % 256], axis=2).astype(np.uint8)
    img = np.clip(img.astype(int) + rng.integers(-8, 8, img.shape),
                  0, 255).astype(np.uint8)
    for sub in (False, True):
        dec = decode_jpeg(encode_jpeg(img, quality=92, subsample=sub))
        assert dec.shape == img.shape
        assert psnr(img, dec) > 30, f"subsample={sub}"
    gray = np.clip((xx * 5 + yy * 3) % 256
                   + rng.integers(-5, 5, (40, 56)), 0, 255).astype(np.uint8)
    dg = decode_jpeg(encode_jpeg(gray, quality=90))
    assert dg.shape == (40, 56, 1) and psnr(gray[:, :, None], dg) > 32
    odd = rng.integers(0, 256, size=(17, 23, 3), dtype=np.uint8)
    assert decode_jpeg(encode_jpeg(odd, 90)).shape == (17, 23, 3)


def test_jpeg_through_spark_pipeline(spark):
    """JPEG payloads flow through the REAL decode path: features from a
    JPEG approximate the same image's PPM features (lossy but close), and
    real resize works on JPEG inputs."""
    import numpy as np
    from graphdb_free_mocha_sa_spark.operators.jpeg_codec import encode_jpeg
    from graphdb_free_mocha_sa_spark.operators.multimodal import (
        MEDIA_SCHEMA, decode_image, encode_ppm, extract_features,
        resize_images)
    rng = np.random.default_rng(3)
    yy, xx = np.mgrid[0:24, 0:32]
    img = np.clip(np.stack([(xx * 4) % 256, (yy * 5) % 256,
                            (xx + yy) % 256], axis=2)
                  + rng.integers(-6, 6, (24, 32, 3)), 0, 255).astype(np.uint8)
    two = spark.createDataFrame(
        [(0, "image", bytearray(encode_jpeg(img, 95)), (32, 24, None, None, "jpeg")),
         (1, "image", bytearray(encode_ppm(img)), (32, 24, None, None, "ppm"))],
        MEDIA_SCHEMA)
    f = {r.media_id: np.array(r.feature)
         for r in extract_features(two, decode="real").collect()}
    # channel means/stds + luma grid agree within JPEG loss tolerance
    assert np.abs(f[0] - f[1]).max() < 0.05, np.abs(f[0] - f[1]).max()
    resized = resize_images(two, 8, 6, decode="real").collect()
    assert all(decode_image(bytes(r.content)).shape == (6, 8, 3)
               for r in resized)


def test_mjpeg_real_frame_sampling(spark):
    """Real video path (round 5): MJPEG elementary streams split into
    actual JPEG frames; every-n sampling decodes real dimensions; features
    come from really-decoded frames with the frame count in the last slot."""
    from graphdb_free_mocha_sa_spark.operators.multimodal import (
        FEATURE_DIM, extract_features, sample_frames, split_mjpeg_frames,
        synthesize_real_media)
    media = synthesize_real_media(spark, n=24)
    vids = [r for r in media.collect() if r.kind == "video"]
    codecs = {r.meta.codec for r in vids}
    assert codecs == {"mjpeg", "gif"}      # both real animated formats
    for r in vids:
        if r.meta.codec == "mjpeg":
            assert len(split_mjpeg_frames(bytes(r.content))) == r.meta.n_frames
    sampled = sample_frames(media, every_n=2, decode="real").collect()
    by_vid = {}
    for r in sampled:
        by_vid.setdefault(r.media_id, []).append(r)
        assert (r.width, r.height) == (24, 16)
        # frames re-encode as JPEG (mjpeg src) or PNG (gif src)
        assert bytes(r.frame)[:2] in (b"\xff\xd8", b"\x89P")
    exp = {r.media_id: (r.meta.n_frames + 1) // 2 for r in vids}
    assert {k: len(v) for k, v in by_vid.items()} == exp
    feats = {r.media_id: r.feature
             for r in extract_features(media, decode="real").collect()
             if r.kind == "video"}
    for r in vids:
        assert feats[r.media_id][FEATURE_DIM - 1] == float(r.meta.n_frames)


def test_ppjoin_prefix_filter_is_lossless(docs_with_dups):
    """The PPJoin prefix filter must not change results — only shrink the
    candidate set. Compare filtered vs unfiltered at two thresholds."""
    from graphdb_free_mocha_sa_spark.operators.dedup import ngram_jaccard_pairs
    for t in (0.999, 0.5):
        fast = sorted((r.id_a, r.id_b, round(r.jaccard, 9)) for r in
                      ngram_jaccard_pairs(docs_with_dups, threshold=t,
                                          prefix_filter=True).collect())
        slow = sorted((r.id_a, r.id_b, round(r.jaccard, 9)) for r in
                      ngram_jaccard_pairs(docs_with_dups, threshold=t,
                                          prefix_filter=False).collect())
        assert fast == slow and len(fast) > 0


# ------------------------------------------- distributed near-dup block pairs


def test_cosine_near_dup_multi_block_matches_single_block(spark, embeddings):
    """The block-pair decomposition must be exact: forcing many blocks
    (cross-block tiles included) yields the same pair set as one tile, and
    both match an injected-duplicate ground truth."""
    from graphdb_free_mocha_sa_spark.operators.similarity import (
        cosine_near_dup_pairs)
    dups = embeddings.limit(10).select(
        (F.col("vec_id") + 1000000).alias("vec_id"), "embedding", "label")
    corpus = embeddings.unionByName(dups)
    one = sorted(tuple(r) for r in
                 cosine_near_dup_pairs(corpus, 0.999).collect())
    many = sorted(tuple(r) for r in
                  cosine_near_dup_pairs(corpus, 0.999, block_rows=64).collect())
    assert one == many
    assert len(one) >= 10          # every injected copy pairs its original


def test_near_dup_plan_has_no_driver_materialization(spark, embeddings):
    """The operator must stay distributed end-to-end — its result is a plain
    DataFrame whose lineage starts at the parquet scan (pre-fix, the corpus
    took a toPandas() round trip through the driver)."""
    from graphdb_free_mocha_sa_spark.operators.similarity import (
        cosine_near_dup_pairs)
    df = cosine_near_dup_pairs(embeddings, 0.999)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    # lineage reaches a real scan (LogicalRDD/parquet relation), not a
    # driver-built LocalRelation of collected rows
    assert "LocalRelation" not in plan, plan[:1500]


# ------------------------------------------------------------ IVF ANN


def test_ivf_topk_recall(spark):
    from graphdb_free_mocha_sa_spark.operators.similarity import (
        brute_force_topk, ivf_topk)
    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = e.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding")
    ivf = {(r.query_id, r.vec_id)
           for r in ivf_topk(e, q, k=5).select("query_id", "vec_id").collect()}
    bf = {(r.query_id, r.vec_id)
          for r in brute_force_topk(e, q, k=5)
          .select("query_id", "vec_id").collect()}
    # every query must find itself (it lives in a probed bucket by
    # construction), and recall against exact search must be usable
    assert all((i, i) in ivf for i in range(8))
    assert len(ivf & bf) / len(bf) >= 0.5


def test_ivf_persisted_index_prunes_partitions(spark, tmp_path):
    """write_ivf_index lays the corpus out partitionBy(__cid); probing reads
    only the probed buckets — PartitionFilters on __cid in the parquet scan
    (the reference's context-index analogue for ANN)."""
    from graphdb_free_mocha_sa_spark.operators.similarity import (
        brute_force_topk, ivf_probe_index, write_ivf_index)
    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = e.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding")
    path = str(tmp_path / "ivf")
    write_ivf_index(e, path, n_centroids=8)
    res = ivf_probe_index(spark, path, q, k=5, n_probe=3)
    got = {(r.query_id, r.vec_id)
           for r in res.select("query_id", "vec_id").collect()}
    assert all((i, i) in got for i in range(8))
    bf = {(r.query_id, r.vec_id)
          for r in brute_force_topk(e, q, k=5)
          .select("query_id", "vec_id").collect()}
    assert len(got & bf) / len(bf) >= 0.5
    plan = res._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters:", 1)
    assert len(pf) == 2 and "__cid" in pf[1][:200], plan[:2000]


def test_dedup_cascade_exact_and_near(spark):
    """dedup_decisions full cascade: exact clusters, near-dup clusters via
    LSH+Jaccard, transitive exact+near merges, and the keep/reason
    contract (keeper = min doc id in the component)."""
    from graphdb_free_mocha_sa_spark.operators.dedup import dedup_decisions
    base = ("the quick brown fox jumps over the lazy dog and then runs "
            "far away into the deep dark forest tonight looking for food")
    near = base.replace("dark", "gloomy")          # high-Jaccard variant
    rows = [
        (1, base), (2, base),                      # exact pair
        (3, near),                                 # near dup of 1/2
        (4, near),                                 # exact dup of 3
        (5, "completely different text about spark query engines and "
            "distributed columnar storage formats for analytics at scale"),
        (6, "another unrelated document mentioning streaming watermarks "
            "state stores and exactly once processing semantics in jobs"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in
           dedup_decisions(df, near_threshold=0.6).collect()}
    assert len(out) == 6
    # 1,2,3,4 merge into one cluster (exact∘near∘exact chain) with keeper 1
    assert {out[i].cluster_id for i in (1, 2, 3, 4)} == {1}
    assert out[1].keep and out[1].reason == "keeper"
    assert not out[2].keep and out[2].reason == "exact_dup"
    assert not out[3].keep and out[3].reason == "near_dup"
    assert not out[4].keep and out[4].reason == "near_dup"
    for i in (5, 6):
        assert out[i].keep and out[i].reason == "unique" \
            and out[i].cluster_id == i
    # exact-only mode must NOT merge the near variants
    ex = {r.doc_id: r for r in dedup_decisions(df).collect()}
    assert ex[3].cluster_id == 3 and ex[3].reason == "keeper"
    assert ex[4].cluster_id == 3 and ex[4].reason == "exact_dup"


def test_gif_codec_round_trip_and_animation():
    """GIF codec (round 5): exact LZW round-trips across palette sizes
    (incl. 12-bit dictionary growth + reset), multi-frame animations, and
    decode_image dispatch."""
    import numpy as np
    from graphdb_free_mocha_sa_spark.operators.gif_codec import (
        decode_gif, decode_gif_frames, encode_gif)
    from graphdb_free_mocha_sa_spark.operators.multimodal import decode_image
    rng = np.random.default_rng(9)
    for npal, shape in [(4, (10, 13)), (256, (40, 40)), (2, (5, 5))]:
        pal = rng.integers(0, 256, size=(npal, 3), dtype=np.uint8)
        idx = rng.integers(0, npal, size=shape, dtype=np.uint8)
        assert (decode_gif(encode_gif(idx, pal)) == pal[idx]).all()
    # dictionary growth to 12 bits + reset (large random 256-color image)
    idx = rng.integers(0, 256, size=(120, 120), dtype=np.uint8)
    pal = rng.integers(0, 256, size=(256, 3), dtype=np.uint8)
    assert (decode_image(encode_gif(idx, pal)) == pal[idx]).all()
    # animation
    pal = rng.integers(0, 256, size=(16, 3), dtype=np.uint8)
    frames = [rng.integers(0, 16, size=(12, 14), dtype=np.uint8)
              for _ in range(5)]
    out = decode_gif_frames(encode_gif(frames, pal))
    assert len(out) == 5
    assert all((o == pal[f]).all() for o, f in zip(out, frames))


def test_real_audio_resample(spark):
    """resample_audio (round 5): a pure tone survives a real 8k→4k WAV
    resample — rate halves, duration holds, and the dominant FFT frequency
    stays at the tone's frequency."""
    import numpy as np
    from graphdb_free_mocha_sa_spark.operators.multimodal import (
        decode_audio, resample_audio, synthesize_real_media)
    media = synthesize_real_media(spark, n=24)
    out = resample_audio(media, 4000, decode="real").collect()
    audio_in = {r.media_id: r for r in media.collect() if r.kind == "audio"}
    assert len(out) == len(audio_in) > 0
    for r in out:
        assert r.sample_rate == 4000
        x, rate = decode_audio(bytes(r.content))
        assert rate == 4000
        # same duration (±1 sample) as the 8 kHz source (0.25 s)
        assert abs(len(x) - 1000) <= 1
        # dominant frequency preserved: source tone = 220 + 20*i Hz
        i = r.media_id
        freq = np.argmax(np.abs(np.fft.rfft(x))) * rate / len(x)
        assert abs(freq - (220 + 20 * i)) < 8, (i, freq)


def test_decontaminate_flags_ngram_overlap(spark):
    """decontaminate: a doc embedding a benchmark 13-gram is flagged; a
    reworded doc is not; short exact matches count (single short gram)."""
    from graphdb_free_mocha_sa_spark.operators.text import decontaminate
    bench_text = ("the quick brown fox jumps over the lazy dog while the "
                  "moon rises slowly above the quiet hills tonight")
    docs = spark.createDataFrame([
        (1, "intro words then " + bench_text + " plus trailing content"),
        (2, "the quick brown fox sleeps under a tree near the quiet hills "
            "and nothing else matches the benchmark closely enough here"),
        (3, "short exact match"),
        (4, "totally unrelated text entirely about distributed query "
            "planning in columnar analytical engines with vectorization"),
    ], "doc_id long, text string")
    bench = spark.createDataFrame(
        [(bench_text,), ("short exact match",)], "text string")
    out = {r.doc_id: r for r in decontaminate(docs, bench).collect()}
    assert out[1].contaminated and out[1].n_hits >= 1
    assert not out[2].contaminated
    assert out[3].contaminated          # whole-short-doc exact match
    assert not out[4].contaminated and out[4].n_hits == 0


def test_int8_quantization_round_trip_and_recall(spark, embeddings):
    """int8 embedding quantization: element error bounded by scale/2, and
    quantized brute-force top-k keeps high recall vs the float path."""
    from graphdb_free_mocha_sa_spark.operators.similarity import (
        brute_force_topk, dequantize_embeddings, quantize_embeddings,
        quantized_topk)
    q = quantize_embeddings(embeddings)
    row = q.limit(1).collect()[0]
    assert all(-127 <= v <= 127 for v in row.q8)
    deq = {r.vec_id: r.embedding
           for r in dequantize_embeddings(q).collect()}
    orig = {r.vec_id: (r.embedding, ) for r in embeddings.collect()}
    scales = {r.vec_id: r.scale for r in q.collect()}
    for vid, (e,) in list(orig.items())[:50]:
        err = max(abs(a - b) for a, b in zip(e, deq[vid]))
        assert err <= scales[vid] / 2 + 1e-6
    queries = embeddings.limit(8).select(
        F.col("vec_id").alias("query_id"), "embedding")
    exact = {(r.query_id, r.vec_id)
             for r in brute_force_topk(embeddings, queries, k=5).collect()}
    quant = {(r.query_id, r.vec_id)
             for r in quantized_topk(embeddings, queries, k=5).collect()}
    recall = len(exact & quant) / len(exact)
    assert recall >= 0.9, recall


def test_flac_codec_round_trip_exact():
    """Pure-Python FLAC codec (round 5b): lossless, so decode(encode(x))
    must be bit-exact for tones, noise, constants, ramps, and stereo —
    and the STREAMINFO MD5 signature must verify."""
    import numpy as np
    from graphdb_free_mocha_sa_spark.operators.flac_codec import (
        decode_flac, encode_flac, parse_streaminfo)
    rng = np.random.default_rng(3)
    rate = 8000
    t = np.arange(2500) / rate
    cases = {
        "tone": (np.sin(2 * np.pi * 330 * t) * 2 ** 14).astype(np.int16),
        "noise": rng.integers(-2 ** 15, 2 ** 15, 3000, dtype=np.int16),
        "const": np.full(4100, 77, np.int16),
        "ramp": (np.arange(5000) % 800 - 400).astype(np.int16),
    }
    for name, x in cases.items():
        enc = encode_flac(x, rate, block_size=1024)
        dec, r = decode_flac(enc)
        assert r == rate and np.array_equal(dec, x), name
    stereo = np.stack([cases["tone"], cases["ramp"][:2500]], axis=1)
    enc = encode_flac(stereo, rate)
    dec, _ = decode_flac(enc)
    assert np.array_equal(dec, stereo)
    si = parse_streaminfo(enc)
    assert (si["channels"], si["bits_per_sample"],
            si["total_samples"]) == (2, 16, 2500)
    # smooth signals actually compress (the point of FIXED+Rice)
    tone_ratio = len(encode_flac(cases["tone"], rate)) / (2500 * 2)
    assert tone_ratio < 0.9, tone_ratio


def test_flac_codec_detects_corruption():
    import numpy as np
    import pytest
    from graphdb_free_mocha_sa_spark.operators.flac_codec import (
        decode_flac, encode_flac)
    x = (np.sin(np.arange(2000) / 5) * 1000).astype(np.int16)
    enc = bytearray(encode_flac(x, 8000))
    enc[len(enc) // 2] ^= 0xFF                 # flip a payload byte
    with pytest.raises((ValueError, NotImplementedError)):
        decode_flac(bytes(enc))


def test_flac_and_wav_give_identical_audio_features():
    """FLAC is lossless: the SAME tone through WAV and FLAC must produce
    identical real features (decode parity, not approximate)."""
    import io
    import wave
    import numpy as np
    from graphdb_free_mocha_sa_spark.operators.flac_codec import encode_flac
    from graphdb_free_mocha_sa_spark.operators.multimodal import _real_feature
    rate = 8000
    t = np.arange(rate // 4) / rate
    tone = (np.sin(2 * np.pi * 300 * t) * 2 ** 14).astype(np.int16)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(rate)
        wf.writeframes(tone.tobytes())
    f_wav = _real_feature("audio", buf.getvalue())
    f_flac = _real_feature("audio", encode_flac(tone, rate))
    assert np.array_equal(f_wav, f_flac)


def test_flac_through_spark_resample(spark):
    """synthesize_real_media now rotates FLAC into the audio rows; the
    real resample path must decode them and emit WAV at the target rate."""
    from graphdb_free_mocha_sa_spark.operators.multimodal import (
        decode_audio, resample_audio, synthesize_real_media)
    media = synthesize_real_media(spark, n=24)
    codecs = {r.media_id: r.meta.codec for r in media.collect()
              if r.kind == "audio"}
    assert "flac" in codecs.values() and "pcm_s16le" in codecs.values()
    out = resample_audio(media, 4000, decode="real").collect()
    assert len(out) == len(codecs)
    for r in out:
        x, rate = decode_audio(bytes(r.content))
        assert rate == 4000 and len(x) == r.n_samples > 0


def test_semantic_dedup_drops_near_dups_keeps_min_id(spark):
    """SemDeDup-style clustered embedding dedup: exact/near copies are
    dropped in favor of their smallest-id neighbor; distinct directions
    survive; verdicts are deterministic."""
    import numpy as np
    from graphdb_free_mocha_sa_spark.operators.similarity import (
        semantic_dedup)
    rng = np.random.default_rng(11)
    dim = 16
    base = rng.normal(size=(4, dim))
    rows = []
    vid = 0
    for b in base:                       # 4 groups x 5 near-copies
        for j in range(5):
            v = b + rng.normal(scale=1e-3, size=dim)   # cos ≈ 1
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    for _ in range(20):                  # unrelated noise
        rows.append((vid, [float(x) for x in rng.normal(size=dim)]))
        vid += 1
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")

    out = {r.vec_id: r for r in
           semantic_dedup(df, threshold=0.99, n_centroids=6,
                          iters=3).collect()}
    assert len(out) == 40
    for g in range(4):                   # min id of each group kept
        ids = list(range(g * 5, g * 5 + 5))
        kept = [i for i in ids if out[i].keep]
        assert kept == [ids[0]], (g, kept)
        assert len({out[i].__cid if hasattr(out[i], '__cid')
                    else out[i]['__cid'] for i in ids}) == 1  # same cluster
    noise_kept = [i for i in range(20, 40) if out[i].keep]
    assert len(noise_kept) >= 18         # random 16-dim: ~no 0.99 pairs

    again = {r.vec_id: r.keep for r in
             semantic_dedup(df, threshold=0.99, n_centroids=6,
                            iters=3).collect()}
    assert again == {k: v.keep for k, v in out.items()}


def test_semantic_dedup_exact_duplicates_always_caught(spark):
    """Identical vectors always land in the same cluster, so exact
    duplicates can never escape the within-cluster search."""
    import numpy as np
    from graphdb_free_mocha_sa_spark.operators.similarity import (
        semantic_dedup)
    rng = np.random.default_rng(5)
    v = [float(x) for x in rng.normal(size=8)]
    rows = [(i, v) for i in range(10)]          # 10 exact copies
    rows += [(100 + i, [float(x) for x in rng.normal(size=8)])
             for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    out = {r.vec_id: r.keep for r in
           semantic_dedup(df, threshold=0.999, n_centroids=4).collect()}
    assert out[0] and not any(out[i] for i in range(1, 10))


# ------------------------------------------------- cross-run index dedup

def test_dedup_index_incremental_batches(spark, tmp_path):
    from graphdb_free_mocha_sa_spark.operators.dedup import (
        build_dedup_index, dedup_against_index)
    idx = str(tmp_path / "idx")
    run0 = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "alpha")],
        "doc_id bigint, text string")
    build_dedup_index(run0, idx)
    # batch 1: one old dup, one in-batch dup pair, one fresh doc
    run1 = spark.createDataFrame(
        [(10, "beta"), (11, "gamma"), (12, "gamma"), (13, "delta")],
        "doc_id bigint, text string")
    kept = sorted(r.doc_id for r in
                  dedup_against_index(run1, idx, update=True).collect())
    assert kept == [11, 13]
    # batch 2 now sees batch-1 survivors in the index too
    run2 = spark.createDataFrame(
        [(20, "gamma"), (21, "delta"), (22, "epsilon")],
        "doc_id bigint, text string")
    kept2 = sorted(r.doc_id for r in
                   dedup_against_index(run2, idx).collect())
    assert kept2 == [22]


def test_dedup_index_no_update_leaves_index_alone(spark, tmp_path):
    from graphdb_free_mocha_sa_spark.operators.dedup import (
        build_dedup_index, dedup_against_index)
    idx = str(tmp_path / "idx")
    base = spark.createDataFrame([(1, "a")], "doc_id bigint, text string")
    build_dedup_index(base, idx)
    batch = spark.createDataFrame([(2, "b")], "doc_id bigint, text string")
    dedup_against_index(batch, idx, update=False)
    again = sorted(r.doc_id for r in
                   dedup_against_index(batch, idx).collect())
    assert again == [2]          # "b" was NOT added to the index


def test_flac_lpc_and_stereo_decorrelation_round_trip():
    """Round-5c closure of the FLAC subset gaps: LPC subframes and all
    four stereo channel assignments round-trip bit-exact, and LPC
    actually out-compresses FIXED on an autoregressive signal."""
    import numpy as np
    from graphdb_free_mocha_sa_spark.operators import flac_codec as FC

    rng = np.random.default_rng(11)
    rate = 8000
    t = np.arange(5000) / rate
    tone = (np.sin(2 * np.pi * 330 * t) * 2 ** 14).astype(np.int16)
    ar = np.zeros(5000)
    e = rng.normal(0, 200, 5000)
    for i in range(2, 5000):
        ar[i] = 1.6 * ar[i - 1] - 0.7 * ar[i - 2] + e[i]
    ar = np.clip(ar, -30000, 30000).astype(np.int16)

    # LPC round-trips on an AR signal, and out-compresses a FIXED-only
    # encode on the tone (a resonance FIXED's integer predictors can't
    # model but order-2 LPC nails)
    dec, _ = FC.decode_flac(FC.encode_flac(ar, rate, block_size=1024))
    assert np.array_equal(dec, ar)
    enc_tone = FC.encode_flac(tone, rate, block_size=1024)
    dec, _ = FC.decode_flac(enc_tone)
    assert np.array_equal(dec, tone)
    orig_orders = FC._LPC_ORDERS
    try:
        FC._LPC_ORDERS = ()                  # disable LPC -> FIXED only
        enc_fixed = FC.encode_flac(tone, rate, block_size=1024)
    finally:
        FC._LPC_ORDERS = orig_orders
    assert len(enc_tone) < 0.7 * len(enc_fixed)

    # every stereo assignment round-trips (incl. the 17-bit side channel)
    pair = np.stack([ar, (ar * 0.9 + rng.normal(0, 50, 5000))
                     .astype(np.int16)], axis=1)
    for mode in ("independent", "left_side", "right_side", "mid_side"):
        enc = FC.encode_flac(pair, rate, block_size=1024, stereo_mode=mode)
        dec, _ = FC.decode_flac(enc)
        assert np.array_equal(dec, pair), mode
    # auto mode picks a decorrelated assignment for correlated channels
    auto = FC.encode_flac(pair, rate, block_size=1024)
    indep = FC.encode_flac(pair, rate, block_size=1024,
                           stereo_mode="independent")
    assert len(auto) < len(indep)


def test_neardup_index_flags_near_and_exact_dups(spark, tmp_path):
    from graphdb_free_mocha_sa_spark.operators.dedup import (
        build_neardup_index, neardup_against_index)
    idx = str(tmp_path / "nidx")
    base_text = ("the quick brown fox jumps over the lazy dog and then "
                 "runs far away into the deep green forest tonight")
    corpus = spark.createDataFrame(
        [(1, base_text),
         (2, "completely different content about spark shuffle joins "
             "and partition pruning strategies for large tables")],
        "doc_id bigint, text string")
    build_neardup_index(corpus, idx, n=2)

    near = base_text.replace("lazy dog", "sleepy dog")
    batch = spark.createDataFrame(
        [(10, base_text),                      # exact copy -> jaccard 1.0
         (11, near),                           # near copy
         (12, "entirely fresh text on gradient descent and learning "
              "rate schedules for deep model training")],
        "doc_id bigint, text string")
    out = {r.doc_id: r for r in
           neardup_against_index(batch, idx, threshold=0.5,
                                 update=True).collect()}
    assert not out[10].is_new and out[10].match_id == 1
    assert out[10].match_jaccard == 1.0
    assert not out[11].is_new and out[11].match_id == 1
    assert 0.5 <= out[11].match_jaccard < 1.0
    assert out[12].is_new and out[12].match_id is None

    # update=True added doc 12 to the index: a later variant of it hits
    batch2 = spark.createDataFrame(
        [(20, "entirely fresh text on gradient descent and learning "
              "rate schedules for wide model training")],
        "doc_id bigint, text string")
    out2 = neardup_against_index(batch2, idx, threshold=0.5).collect()[0]
    assert not out2.is_new and out2.match_id == 12


def test_adpcm_codec_round_trip_snr_and_reference_decode():
    """IMA-ADPCM (round 5c): lossy, so the contract is (a) SNR above a
    floor on audio-like signals, (b) the decoder agrees bit-exactly with
    an independent in-test implementation of the IMA step algorithm, and
    (c) the stream self-describes (fact chunk, block headers)."""
    import numpy as np
    from graphdb_free_mocha_sa_spark.operators.adpcm_codec import (
        INDEX_TABLE, STEP_TABLE, decode_adpcm_wav, encode_adpcm_wav)

    rate = 8000
    t = np.arange(4001) / rate              # odd length: partial block
    tone = (np.sin(2 * np.pi * 440 * t) * 2 ** 13).astype(np.int16)
    enc = encode_adpcm_wav(tone, rate)
    dec, r = decode_adpcm_wav(enc)
    assert r == rate and len(dec) == len(tone)
    err = dec.astype(np.float64) - tone.astype(np.float64)
    snr = 10 * np.log10((tone.astype(np.float64) ** 2).mean()
                        / max((err ** 2).mean(), 1e-12))
    assert snr > 25, snr                    # typical IMA-ADPCM: ~30 dB
    # ~4:1 vs 16-bit PCM (plus headers)
    assert len(enc) < 0.35 * len(tone) * 2

    # independent reference decode of the payload
    import struct
    pos, fmt, payload = 12, None, None
    while pos + 8 <= len(enc):
        cid = enc[pos:pos + 4]
        clen = struct.unpack("<I", enc[pos + 4:pos + 8])[0]
        if cid == b"fmt ":
            fmt = enc[pos + 8:pos + 8 + clen]
        elif cid == b"data":
            payload = enc[pos + 8:pos + 8 + clen]
        pos += 8 + clen + (clen & 1)
    block_align = struct.unpack("<H", fmt[12:14])[0]
    block_samples = struct.unpack("<H", fmt[18:20])[0]
    ref = []
    for bs in range(0, len(payload), block_align):
        blk = payload[bs:bs + block_align]
        pred, idx, _ = struct.unpack("<hBB", blk[:4])
        ref.append(pred)
        k = 1
        for byte in blk[4:]:
            for nib in (byte & 0xF, byte >> 4):
                if k >= block_samples:
                    break
                step = STEP_TABLE[idx]
                d = step >> 3
                if nib & 1: d += step >> 2
                if nib & 2: d += step >> 1
                if nib & 4: d += step
                if nib & 8: d = -d
                pred = max(-32768, min(32767, pred + d))
                idx = max(0, min(88, idx + INDEX_TABLE[nib]))
                ref.append(pred)
                k += 1
    assert np.array_equal(dec, np.array(ref, np.int16)[:len(tone)])


def test_adpcm_through_multimodal_decode():
    import numpy as np
    from graphdb_free_mocha_sa_spark.operators.adpcm_codec import (
        encode_adpcm_wav)
    from graphdb_free_mocha_sa_spark.operators.multimodal import decode_audio
    rate = 8000
    tone = (np.sin(2 * np.pi * 330 * np.arange(2000) / rate)
            * 2 ** 13).astype(np.int16)
    f, r = decode_audio(encode_adpcm_wav(tone, rate))
    assert r == rate and len(f) == 2000
    # decoded float track follows the source closely
    corr = np.corrcoef(f, tone / 32768.0)[0, 1]
    assert corr > 0.99


def test_lang_id_argmax_and_tiebreak(spark):
    """r6: lang_id picks the max stopword-ratio language, 'unknown' on no
    hits, and breaks exact ties in dict order (en first)."""
    from pyspark.sql import functions as F

    from graphdb_free_mocha_sa_spark.operators.text import lang_id
    rows = [
        (1, "the cat and the dog of the house"),          # en
        (2, "der hund und die katze ist von dem haus"),   # de
        (3, "le chat et le chien est dans la maison"),    # fr
        (4, "zzz qqq xxx www"),                           # unknown
        (5, "the der"),                                   # tie en/de -> en
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r.doc_id: r.g for r in
           df.select("doc_id", lang_id(F.col("text")).alias("g")).collect()}
    assert out == {1: "en", 2: "de", 3: "fr", 4: "unknown", 5: "en"}


def test_simhash_md5_matches_reference_and_xxhash_structure(spark):
    """r6c: the md5-hasher simhash (the exact-oracle path) matches an
    independent pure-Python SimHash over the same tokens, and agrees
    with the xxhash64 variant on duplicate-detection structure (equal
    texts -> equal signatures)."""
    import hashlib
    import re

    from graphdb_free_mocha_sa_spark.operators.dedup import simhash
    rows = [(1, "the quick brown fox"), (2, "the quick brown fox"),
            (3, "pack my box with five dozen jugs"), (4, "é ünïcode tokens")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.id: r.simhash for r in simhash(df, hasher="md5").collect()}

    def py_simhash(text):
        sums = [0] * 64
        # Java-regex \W (and DuckDB's RE2) are ASCII word classes, unlike
        # Python's unicode-aware \W — mirror the engines' semantics
        for tok in (t for t in re.split(r"[^0-9A-Za-z_]+", text.lower())
                    if t):
            h = int(hashlib.md5(tok.encode()).hexdigest()[:16], 16)
            for b in range(64):
                sums[b] += 1 if (h >> b) & 1 else -1
        sig = 0
        for b in range(64):
            if sums[b] > 0:
                sig += -(2 ** 63) if b == 63 else (1 << b)
        return sig

    for i, text in rows:
        assert got[i] == py_simhash(text), i
    assert got[1] == got[2] and got[1] != got[3]
    xx = {r.id: r.simhash for r in simhash(df).collect()}
    assert xx[1] == xx[2] and xx[1] != xx[3]


def test_fingerprint_md5_matches_reference(spark):
    """r6c: the md5-hasher fingerprint (the exact-oracle path) matches an
    independent pure-Python normalize+hash, and normalization invariance
    holds for both hashers."""
    import hashlib
    import re

    from graphdb_free_mocha_sa_spark.operators.text import fingerprint
    from pyspark.sql import functions as F
    rows = [(1, "The  quick, Brown FOX!"), (2, "the quick brown fox"),
            (3, "something else")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.fp for r in df.select(
        "doc_id", fingerprint(F.col("text"), hasher="md5").alias("fp"))
        .collect()}

    def py_fp(text):
        toks = [t for t in re.split(r"[^0-9a-z']+", text.lower(),
                                    flags=re.ASCII) if t]
        norm = " ".join(toks)
        u = int(hashlib.md5(norm.encode()).hexdigest()[:16], 16)
        return u - 2 ** 64 if u >= 2 ** 63 else u
    for i, text in rows:
        assert got[i] == py_fp(text), i
    assert got[1] == got[2] and got[1] != got[3]
    xx = {r.doc_id: r.fp for r in df.select(
        "doc_id", fingerprint(F.col("text")).alias("fp")).collect()}
    assert xx[1] == xx[2] and xx[1] != xx[3]
