"""Materialized query artifacts: tables some queries build once and
reuse, cached under a directory keyed by the builder code and the source
parquet.

At 100 TB the near-dup pair graph, shingle index and IVF indexes are
TABLES, built once and consumed by every downstream query (clusters,
canonical selection, incremental probes) — never recomputed inline per
consumer. The driver contract is stateless (each query is a pure
``(spark, sf_dir) -> DataFrame``), so materialization lands in a tmp dir
keyed by a fingerprint of the SOURCE parquet + build parameters:
identical inputs reuse the artifact (exactly a warehouse table), any
testdata regeneration or parameter change rebuilds it. The artifact
content is fully deterministic, so reuse can never change an answer.
"""

from __future__ import annotations


# Bump on ANY semantic change to a materialized artifact's layout that the
# builder-module hash below would not capture (e.g. a change in code
# outside those modules). Part of every fingerprint.
ARTIFACT_SCHEMA_VERSION = "v2"


# The modules whose code produces artifact CONTENT: the operators the
# builds call, and every plans module that defines a build closure (calls
# ``_materialized``). A change to any of them invalidates every cached
# artifact (a stale cache must never let an oracle pass against bytes an
# older builder wrote).
_BUILDER_MODULES = (
    "operators/dedup.py",
    "operators/similarity.py",
    "operators/bucketing.py",
    "plans/dedup.py",
    "plans/relational.py",
    "plans/similarity.py",
    "plans/streaming.py",
)


def _code_version() -> str:
    import hashlib
    import os

    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    h = hashlib.md5(ARTIFACT_SCHEMA_VERSION.encode())
    for rel in _BUILDER_MODULES:
        with open(os.path.join(pkg_root, rel), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _cache_root() -> str:
    """Artifact cache root: ``TCAS_MATERIALIZED_DIR`` if set, else a
    per-user dir under the system tempdir (uid suffix — a world-writable
    shared path would let another user's cache collide with or poison
    ours)."""
    import os
    import tempfile

    env = os.environ.get("TCAS_MATERIALIZED_DIR")
    if env:
        return env
    uid = os.getuid() if hasattr(os, "getuid") else "nt"
    return os.path.join(tempfile.gettempdir(), f"tcas_materialized-{uid}")


def _source_stat(sf_dir: str, table: str) -> str:
    import os

    p = os.path.join(sf_dir, f"{table}.parquet")
    if os.path.isdir(p):
        # recurse: partitioned sources keep part files in subdirectories,
        # and an in-place rewrite there does not touch the parent dir's
        # stat — every data file must contribute (ADVICE r6)
        parts = []
        for root, dirs, files in os.walk(p):
            dirs[:] = sorted(d for d in dirs if not d.startswith("."))
            parts.extend(
                os.path.join(root, f)
                for f in files
                if not f.startswith((".", "_"))
            )
        parts.sort()
    else:
        parts = [p]
    return "|".join(
        f"{f}:{os.stat(f).st_size}:{os.stat(f).st_mtime_ns}" for f in parts
    )


def _fingerprint(sf_dir: str, tag: str, table) -> str:
    import hashlib
    import os

    tables = table if isinstance(table, (tuple, list)) else (table,)
    stats = "||".join(_source_stat(sf_dir, t) for t in tables)
    return hashlib.md5(
        f"{tag}|{_code_version()}|{os.path.abspath(sf_dir)}"
        f"|{stats}".encode()
    ).hexdigest()


def _materialized(spark, sf_dir: str, tag: str, table: str, build) -> str:
    """Return the path of the materialized artifact `tag` for `sf_dir`,
    building it via ``build(path)`` (which must WRITE parquet under the
    path) unless a fingerprint-matched build already exists.

    The fingerprint covers the build parameters (tag), the BUILDER CODE
    (hash of the operator modules + an explicit schema-version string —
    a code change must never let a consumer read bytes an older builder
    wrote), and the source parquet tree (recursive size/mtime).

    Crash/concurrency posture: the build lands in a process-private
    staging dir and is renamed into place in ONE atomic step with the
    fingerprint already inside — a reader can never observe a
    half-built artifact (the same rename-into-place discipline as
    writers.compact_gold). A concurrent builder that loses the rename
    race simply keeps the winner's identical-by-construction artifact."""
    import os
    import shutil
    import tempfile

    fp = _fingerprint(sf_dir, tag, table)
    root = _cache_root()
    path = os.path.join(root, f"{tag}_{fp[:16]}")
    marker = os.path.join(path, "_FINGERPRINT")

    def _complete() -> bool:
        return os.path.exists(marker) and open(marker).read() == fp

    if _complete():
        return path
    os.makedirs(root, exist_ok=True)
    # mkdtemp → unique per builder (thread- AND process-safe staging)
    staging = tempfile.mkdtemp(prefix=f"{tag}_{fp[:16]}.build-", dir=root)
    try:
        build(staging)
        with open(os.path.join(staging, "_FINGERPRINT"), "w") as fh:
            fh.write(fp)
        # a COMPLETE artifact at `path` is never deleted — a concurrent
        # builder of the same fingerprint may have finished first, and
        # its artifact is identical by construction: keep it. Only
        # marker-less debris (a crashed build that never returned to
        # any caller) is cleared before the rename.
        if not _complete():
            shutil.rmtree(path, ignore_errors=True)
            try:
                os.rename(staging, path)
            except OSError:
                if not _complete():
                    raise
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    return path
