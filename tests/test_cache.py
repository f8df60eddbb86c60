"""Warm-start artifact cache semantics (cache.py) — no Spark needed."""

from __future__ import annotations

import os

from graphdb_free_mocha_sa_spark import cache as C


def _mk_parquet(dirpath, name, content: bytes):
    os.makedirs(dirpath, exist_ok=True)
    with open(os.path.join(dirpath, f"{name}.parquet"), "wb") as fh:
        fh.write(content)


def test_fingerprint_is_content_based(tmp_path, monkeypatch):
    """Regenerating byte-identical fixtures (new mtimes) must keep the key;
    changing bytes must change it."""
    d = str(tmp_path / "sfX")
    _mk_parquet(d, "region", b"A" * 100)
    f1 = C.fixture_fingerprint(d, ["region"])
    # rewrite identical bytes — mtime changes, key must not
    _mk_parquet(d, "region", b"A" * 100)
    assert C.fixture_fingerprint(d, ["region"]) == f1
    _mk_parquet(d, "region", b"B" * 100)
    assert C.fixture_fingerprint(d, ["region"]) != f1


def test_publish_race_loser_discards(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CACHE_DIR", str(tmp_path / "cache"))
    final = os.path.join(C.cache_root(), "sfX-aaaa", "quads")
    t1, t2 = C.scratch_dir(final), C.scratch_dir(final)
    open(os.path.join(t1, "part-0"), "w").write("winner")
    open(os.path.join(t2, "part-0"), "w").write("loser")
    assert C.publish(t1, final) is True
    assert C.is_published(final)
    # loser's rename fails against the existing dir; must report published
    assert C.publish(t2, final) is True      # noqa: comparison to literal
    assert not os.path.exists(t2)
    assert open(os.path.join(final, "part-0")).read() == "winner"


def test_warm_encoded_state_matches_cold(spark, monkeypatch, tmp_path):
    """End-to-end warm start: engine A builds + publishes the dictionary /
    encoded quads; a FRESH engine over the same fixtures warm-loads them
    and must answer identically through the encoded path."""
    import os

    from graphdb_free_mocha_sa_spark.engine import Engine
    from graphdb_free_mocha_sa_spark.sources.registry import load_quads
    from graphdb_free_mocha_sa_spark.store import QuadStore
    monkeypatch.setenv("SPARK_GRAFT_CACHE_DIR", str(tmp_path / "cache"))
    sf = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
    q = ("SELECT ?n (COUNT(*) AS ?c) WHERE { ?s <urn:x:p/c_nationkey> ?n } "
         "GROUP BY ?n ORDER BY ?n")
    spec = {"n": "str", "c": "int"}

    warm_dir = C.artifact_dir(sf)
    quads = load_quads(spark, sf, cache=False)
    cold = Engine(spark, QuadStore(spark, quads), warm_dir=warm_dir)
    cold.ENCODE_MIN_QUADS = 0          # force the encoded path at sf0.001
    cold_rows = [tuple(r) for r in cold.query(q).finalize(spec).collect()]
    assert C.is_published(cold._warm_encoded_dir())

    # poison the build path: the fresh engine must take the WARM load
    import graphdb_free_mocha_sa_spark.dictionary as D

    def boom(*a, **k):
        raise AssertionError("warm engine rebuilt instead of loading cache")
    monkeypatch.setattr(D, "build_term_dict_full", boom)

    warm = Engine(spark, QuadStore(spark, quads), warm_dir=warm_dir)
    warm.ENCODE_MIN_QUADS = 0
    warm_rows = [tuple(r) for r in warm.query(q).finalize(spec).collect()]
    assert warm_rows == cold_rows and len(warm_rows) > 0


def test_prune_scopes_to_same_fixture_set(tmp_path, monkeypatch):
    """Publishing a new sf0.1 generation removes superseded sf0.1-* dirs
    but never another fixture set's live cache."""
    monkeypatch.setenv("SPARK_GRAFT_CACHE_DIR", str(tmp_path / "cache"))
    root = C.cache_root()
    for gen in ("sf0.1-old1", "sf0.1-old2", "sf0.01-live"):
        os.makedirs(os.path.join(root, gen, "quads"), exist_ok=True)
    final = os.path.join(root, "sf0.1-new", "quads")
    tmp = C.scratch_dir(final)
    open(os.path.join(tmp, "part-0"), "w").write("x")
    assert C.publish(tmp, final)
    left = sorted(os.listdir(root))
    assert left == ["sf0.01-live", "sf0.1-new"], left


def test_pointer_survives_cache_root_move(tmp_path, monkeypatch):
    """A pointer artifact stores its target relative to its generation dir,
    so moving the whole cache root keeps it readable; pointers written with
    an absolute target still resolve."""
    import shutil
    monkeypatch.setenv("SPARK_GRAFT_CACHE_DIR", str(tmp_path / "cache"))
    gen = os.path.join(C.cache_root(), "sfX-aaaa")
    target = os.path.join(gen, "store", "base-1")
    os.makedirs(target)
    open(os.path.join(target, "part-0"), "w").write("quads")
    assert C.publish_pointer(target, os.path.join(gen, "quads"))

    moved = tmp_path / "moved"
    shutil.move(str(tmp_path / "cache"), str(moved))
    got = C.read_pointer(str(moved / "sfX-aaaa" / "quads"))
    assert got is not None
    assert os.path.samefile(got, moved / "sfX-aaaa" / "store" / "base-1")
    assert open(os.path.join(got, "part-0")).read() == "quads"

    legacy = moved / "sfX-aaaa" / "legacy"
    legacy.mkdir()
    (legacy / "_POINTER").write_text(str(moved / "elsewhere") + "\n")
    assert C.read_pointer(str(legacy)) == str(moved / "elsewhere")
    assert C.read_pointer(str(moved / "sfX-aaaa" / "store")) is None


def test_dangling_pointer_is_republished(spark, tmp_path, monkeypatch):
    """A quad-view pointer whose target is gone is replaced on open: the
    first open rebuilds and publishes a plain artifact, and the second
    open reads that published, live copy instead of rebuilding again."""
    from graphdb_free_mocha_sa_spark.sources.registry import \
        _quads_from_artifact_or_build
    from tests.conftest import SF_DIR as sf
    monkeypatch.setenv("SPARK_GRAFT_CACHE_DIR", str(tmp_path / "cache"))
    qpath = os.path.join(C.artifact_dir(sf), "quads")
    target = os.path.join(C.artifact_dir(sf), "store", "base-1")
    os.makedirs(target)
    assert C.publish_pointer(target, qpath)
    os.rmdir(target)

    first = _quads_from_artifact_or_build(spark, sf)
    assert C.is_published(qpath) and C.read_pointer(qpath) is None
    second = _quads_from_artifact_or_build(spark, sf)
    files = second.inputFiles()
    assert files and all(os.path.abspath(qpath) in f for f in files)
    assert second.count() == first.count() > 0
