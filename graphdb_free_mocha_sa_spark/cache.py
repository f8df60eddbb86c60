"""Warm-start artifact cache (SURVEY §1.4 load path; VERDICT r3 item 3).

The engine's load-time artifacts — the RDF quad view of the star schema,
the term dictionary, and the id-encoded quad table — are pure functions of
the fixture parquet files. The reference persists its entity index and
repository images on disk (GraphDB storage dir, repo-config.ttl:47-48) so a
restart does not re-index; this module is the Spark-side analogue: artifacts
are parquet-persisted under a directory keyed by a fingerprint of the
source files, and any later session (same process or not) warm-starts by
scanning parquet instead of re-deriving the artifacts.

At 100 TB this is exactly the "build once, read many" table layout a real
deployment would use (the quad table and dictionary live as catalog tables);
the fingerprint key gives the local-fixture equivalent of table versioning —
fixture regeneration by the driver changes mtimes, which changes the key,
which invalidates the cache.

Publishing is atomic (write to a unique temp dir, ``os.rename`` into place)
so concurrent sessions never observe a half-written artifact; the loser of a
publish race simply discards its temp dir and reads the winner's copy.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import uuid

#: source tables that feed the RDF quad encoding (registry.load_quads)
RDF_TABLES = ["region", "nation", "customer", "supplier",
              "part", "orders", "lineitem"]


def cache_root() -> str:
    """Default under the repo (gitignored), NOT /tmp: the repo working tree
    is the one filesystem location that survives across build rounds, so a
    later round's first bench run warm-starts instead of rebuilding the
    dictionary — the whole point of durable load-time artifacts."""
    default = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".spark_graft_cache")
    return os.environ.get("SPARK_GRAFT_CACHE_DIR", default)


#: bytes sampled from each end of a fixture file for the content key
_SAMPLE = 1 << 20


def fixture_fingerprint(sf_dir: str, names: list[str]) -> str:
    """Content key for the artifacts derived from ``names`` under ``sf_dir``:
    (name, size, head-sample hash, tail-sample hash) per file. Content-based
    on purpose — a driver that REGENERATES byte-identical fixtures (new
    mtimes) must still warm-start; actually-different data changes the size
    or the sampled bytes (parquet footers encode row-group offsets/stats,
    so same-size different-content files differ in the tail sample)."""
    h = hashlib.sha256()
    h.update(os.path.abspath(sf_dir).encode())
    for n in sorted(names):
        p = os.path.join(sf_dir, f"{n}.parquet")
        if not os.path.exists(p):
            continue
        size = os.path.getsize(p)
        h.update(f"{n}:{size};".encode())
        with open(p, "rb") as fh:
            h.update(fh.read(_SAMPLE))
            if size > 2 * _SAMPLE:
                fh.seek(-_SAMPLE, os.SEEK_END)
                h.update(fh.read(_SAMPLE))
    return h.hexdigest()[:16]


def artifact_dir(sf_dir: str, names: list[str] | None = None) -> str:
    """Directory all artifacts for this fixture generation live under:
    ``<sf-dir basename>-<content fingerprint>`` — the basename prefix lets
    GC scope itself to generations of the SAME fixture set, so publishing
    a new sf0.1 generation never evicts the live sf0.01/sf0.001 caches.

    CAUTION (r7): every artifact for a given ``sf_dir`` must use the SAME
    ``names`` key (the default). Passing a different ``names`` list mints a
    sibling ``<basename>-<other fp>`` dir, and the publish-time GC then
    deletes one of the two as a "stale generation" — razing live artifacts.
    Artifacts derived from a subset of tables should put that subset's
    fingerprint in the artifact NAME inside the default dir (see
    sources/registry._parallelism_floor); synthetic datasets must use a
    distinct basename (see scripts/scale_probe*.py)."""
    base = os.path.basename(os.path.abspath(sf_dir)) or "sf"
    return os.path.join(
        cache_root(),
        f"{base}-{fixture_fingerprint(sf_dir, names or RDF_TABLES)}")


def is_published(path: str) -> bool:
    return os.path.isfile(os.path.join(path, "_PUBLISHED"))


def scratch_dir(final_path: str) -> str:
    """Unique sibling temp dir to stage an artifact before publishing."""
    d = f"{final_path}.tmp-{uuid.uuid4().hex[:8]}"
    os.makedirs(d, exist_ok=True)
    return d


def publish(tmp_path: str, final_path: str) -> bool:
    """Atomically move ``tmp_path`` into place as ``final_path``.

    Returns True if this call published; False if a concurrent session won
    the race (the temp copy is discarded and the published copy should be
    used instead)."""
    open(os.path.join(tmp_path, "_PUBLISHED"), "w").close()
    os.makedirs(os.path.dirname(final_path) or ".", exist_ok=True)
    try:
        os.rename(tmp_path, final_path)
        _prune_stale_generations(final_path)
        return True
    except OSError:
        shutil.rmtree(tmp_path, ignore_errors=True)
        return is_published(final_path)


def publish_pointer(target: str, final_path: str) -> bool:
    """Publish ``final_path`` as a POINTER artifact: a published dir whose
    ``_POINTER`` file names another directory holding the actual parquet
    files. Lets two artifacts share one physical copy — the cold fixture
    open writes the bucketed store base ONCE and the quad-view artifact
    points at those same files instead of a second full write of the
    quads (r12 opt, guide §6; the r11 cold-load profile showed the quads
    crossing disk twice, ~57 s of a 92-108 s cold open at sf0.1).

    The target is stored relative to the pointer's generation dir (the
    directory holding ``final_path``), so the pair survives a move of the
    cache root."""
    tmp = scratch_dir(final_path)
    gen = os.path.dirname(os.path.abspath(final_path))
    with open(os.path.join(tmp, "_POINTER"), "w") as fh:
        fh.write(os.path.relpath(os.path.abspath(target), gen))
    return publish(tmp, final_path)


def read_pointer(path: str) -> str | None:
    """Target of a pointer artifact, or None for a plain artifact. Relative
    targets resolve against the pointer's generation dir; absolute ones
    (written before targets were relative) are returned as they are."""
    p = os.path.join(path, "_POINTER")
    try:
        if os.path.isfile(p):
            with open(p) as fh:
                target = fh.read().strip()
            if target:
                return os.path.join(
                    os.path.dirname(os.path.abspath(path)), target)
    except OSError:
        pass
    return None


def published_source(path: str) -> str | None:
    """Directory to read a published artifact from: a pointer's target, or
    the artifact itself; None when nothing is published. A pointer whose
    target is gone is removed here, so the caller rebuilds the artifact
    and can publish it in the pointer's place."""
    if not is_published(path):
        return None
    target = read_pointer(path)
    if target is None:
        return path
    if os.path.isdir(target):
        return target
    shutil.rmtree(path, ignore_errors=True)
    return None


def _prune_stale_generations(final_path: str) -> None:
    """Best-effort GC: fixture regeneration changes the fingerprint, so
    superseded generations of the SAME fixture set (matched by the sf-dir
    basename prefix) only waste disk — remove them, leaving other fixture
    sets' caches untouched."""
    gen = final_path
    root = cache_root()
    # walk up to the generation dir (direct child of the cache root)
    while os.path.dirname(gen) not in (root, gen):
        gen = os.path.dirname(gen)
    if os.path.dirname(gen) != root or "-" not in os.path.basename(gen):
        return
    prefix = os.path.basename(gen).rsplit("-", 1)[0] + "-"
    try:
        for name in os.listdir(root):
            if name != os.path.basename(gen) and name.startswith(prefix):
                shutil.rmtree(os.path.join(root, name), ignore_errors=True)
    except OSError:
        pass
