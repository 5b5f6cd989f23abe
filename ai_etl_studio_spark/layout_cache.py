"""Build-once layouts: one identity call and one build-or-re-attach step.

Every build-once artifact — bucketed tables, hive month partitions,
Z-ORDER files, PageRank edge buckets, boilerplate/substring line
indexes, PQ codes, CBO statistics tables — takes its name and directory
from ``layout_ident``: ``<kind>_<digest>`` under ``.cache/<kind>`` (or a
caller's ``base_dir``). The digest hashes the file fingerprint
(``freshness.fingerprint``: relpath, inode, size, ns mtime of every data
file) of each source table, the builder's params and the base
directory. A rewritten source therefore gets a fresh directory, even
when the rewrite keeps the size and lands inside the same second or
only touches one part file of a Spark-written directory, and the same
corpus built into two locations gets two catalog names. ``build_once``
then writes the layout unless a completed write is already there, or
re-attaches the files to a catalog that lacks the table.

A fresh directory per source version would strand the old one forever:
nothing maps it back to a source to notice the source changed. So each
identity call also writes a ``<name>.manifest.json`` recording the
absolute source paths and their fingerprints, then sweeps SIBLING
layouts of the same kind and removes any whose recorded sources are gone
or have changed fingerprints — exactly the stranded class. Siblings
whose sources still match are other LIVE corpora (e.g. sf0.001 beside
sf0.1) and are kept.

Manifest placement (r9 ADVICE, medium): the manifest lives BESIDE the
layout directory (``base_dir/<name>.manifest.json``), not inside it.
Several ensure_* builds write the layout with
``mode('overwrite').saveAsTable`` rooted at the layout directory,
which deletes everything inside — an in-dir ``_manifest.json`` was
wiped by its own build, so the next ident call for a sibling corpus
saw a manifest-less LIVE layout and rmtree'd it, breaking build-once
caching and leaving registered catalog tables pointing at deleted
paths. The external file survives the overwrite. Legacy in-dir
``_manifest.json`` files are still read when no external one exists,
and a manifest-less directory that carries ``_SUCCESS`` is treated as
live (a completed build from a concurrent session or the pre-manifest
era), never swept; only manifest-less dirs with no ``_SUCCESS`` —
aborted partial builds — are removed.

Concurrency note: the sweep may delete a layout another Spark session
has registered in its catalog — that session's next read fails and its
ensure_* rebuilds. Single-machine scratch semantics; a shared cluster
cache would need a lease, which is out of scope for a local .cache.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

from ai_etl_studio_spark.freshness import fingerprint

_MANIFEST = "_manifest.json"  # legacy in-dir name (read-only compat)
_SUFFIX = ".manifest.json"  # external sibling-file name

#: Default parent of every layout kind: ``<repo>/.cache``.
CACHE_ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".cache"
)


def _entry(path: str) -> list:
    """``path``'s fingerprint in the manifest's JSON form."""
    return [list(e) for e in fingerprint(path)]


def source_fingerprints(paths: list[str]) -> dict[str, list]:
    """``{absolute path: fingerprint}`` of ``paths``, in the manifest's
    JSON form."""
    return {os.path.abspath(p): _entry(p) for p in paths}


def _external_manifest_path(layout_dir: str) -> str:
    layout_dir = layout_dir.rstrip(os.sep)
    return os.path.join(
        os.path.dirname(layout_dir),
        os.path.basename(layout_dir) + _SUFFIX,
    )


def write_manifest(layout_dir: str, sources: dict[str, list]) -> None:
    """Record the layout's ``source_fingerprints`` (idempotent). Written
    OUTSIDE the layout dir so a ``mode('overwrite')`` build rooted there
    cannot delete it."""
    os.makedirs(layout_dir, exist_ok=True)
    target = _external_manifest_path(layout_dir)
    tmp = target + ".tmp"
    with open(tmp, "w") as fh:
        json.dump({"sources": sources}, fh, indent=1, sort_keys=True)
    os.replace(tmp, target)
    # Drop a stale legacy in-dir copy so it can never disagree.
    legacy = os.path.join(layout_dir, _MANIFEST)
    if os.path.exists(legacy):
        try:
            os.remove(legacy)
        except OSError:
            pass


def _read_sources(base_dir: str, name: str) -> dict | None:
    """The manifest sources for sibling ``name``, from the external
    file or (legacy) the in-dir copy; None when neither exists."""
    for mpath in (
        os.path.join(base_dir, name + _SUFFIX),
        os.path.join(base_dir, name, _MANIFEST),
    ):
        if os.path.exists(mpath):
            with open(mpath) as fh:
                return json.load(fh)["sources"]
    return None


def _drop_tables(names: list[str]) -> None:
    """Drop the active session's catalog tables named after the removed
    layouts ``names``: ``<name>`` itself (``pr_edges``, ``bp_lines``,
    ``substr_win``, ``pq_codes``) and ``<name>_<suffix>`` (the bucketed
    pair ``bucketed_ok_*_li``/``_o``, the CBO stats tables
    ``cbo_*_<table>``). Left registered, they would point at deleted
    files or carry a superseded source's statistics. Every such table is
    external (``LOCATION``), so the drop never deletes data files."""
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is None:
        return
    for row in spark.sql("SHOW TABLES").collect():
        t = row.tableName
        if not row.isTemporary and any(
            t == n or t.startswith(n + "_") for n in names
        ):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def gc_stale_siblings(base_dir: str, keep_name: str) -> list[str]:
    """Remove sibling layout directories of ``base_dir`` whose
    manifest sources are missing/changed, plus manifest-less partial
    builds (no ``_SUCCESS``), and drop the catalog tables named after
    them. Manifest-less dirs WITH ``_SUCCESS`` are completed live
    layouts and are kept. Returns the removed directory names (for
    tests/logging)."""
    removed: list[str] = []
    try:
        names = os.listdir(base_dir)
    except FileNotFoundError:
        return removed
    for name in names:
        if name == keep_name:
            continue
        d = os.path.join(base_dir, name)
        if not os.path.isdir(d):
            continue
        stale = False
        try:
            sources = _read_sources(base_dir, name)
        except (OSError, ValueError, KeyError):
            stale = True  # unreadable manifest: treat as stranded
        else:
            if sources is None:
                # No manifest at all: a completed build (_SUCCESS)
                # is live; anything else is an aborted partial.
                stale = not os.path.exists(
                    os.path.join(d, "_SUCCESS")
                )
            else:
                stale = any(
                    not os.path.exists(f) or _entry(f) != fp
                    for f, fp in sources.items()
                )
        if stale:
            shutil.rmtree(d, ignore_errors=True)
            for mpath in (os.path.join(base_dir, name + _SUFFIX),):
                try:
                    os.remove(mpath)
                except OSError:
                    pass
            removed.append(name)
    if removed:
        _drop_tables(removed)
    return removed


def manifest_and_gc(layout_dir: str, sources: dict[str, list]) -> list[str]:
    """Write/refresh this layout's manifest, then sweep stale siblings of
    the same kind; returns the removed sibling names."""
    write_manifest(layout_dir, sources)
    return gc_stale_siblings(
        os.path.dirname(layout_dir.rstrip(os.sep)),
        os.path.basename(layout_dir.rstrip(os.sep)),
    )


def layout_ident(
    kind: str,
    sf_dir: str,
    tables: tuple[str, ...],
    params: tuple = (),
    base_dir: str | None = None,
) -> tuple[str, str]:
    """``(name, root)`` of the ``kind`` layout built from ``tables`` of
    ``sf_dir`` with ``params``: ``name`` is ``<kind>_<digest>`` and
    ``root`` is ``<base_dir>/<name>`` (``base_dir`` defaults to
    ``CACHE_ROOT/<kind>``). Writes the manifest and sweeps stale
    siblings."""
    base_dir = os.path.abspath(base_dir or os.path.join(CACHE_ROOT, kind))
    sources = source_fingerprints(
        [os.path.join(sf_dir, f"{t}.parquet") for t in tables]
    )
    key = json.dumps([sources, list(params), base_dir], sort_keys=True)
    name = f"{kind}_{hashlib.sha1(key.encode()).hexdigest()[:12]}"
    root = os.path.join(base_dir, name)
    manifest_and_gc(root, sources)
    return name, root


def build_once(
    spark,
    path: str,
    build,
    table: str | None = None,
    columns: str = "",
    bucket: tuple[int, str] | None = None,
    partition_by: str | None = None,
) -> None:
    """Write ``build()`` as parquet at ``path`` unless a completed write
    (``_SUCCESS``) is already there.

    With ``table`` the write is saved as that catalog table, and a later
    session whose catalog lacks it re-attaches the files with
    ``CREATE TABLE table (columns) USING PARQUET … LOCATION path``
    instead of rebuilding. ``bucket=(n, key)`` hash-partitions the frame
    by ``key`` and writes it bucketed and sorted into ``n`` buckets; the
    re-attach carries the same clause, so joins on ``key`` read
    co-located buckets either way. ``partition_by`` writes one hive
    directory per value of that column."""
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        if table is not None and not spark.catalog.tableExists(table):
            clustered = (
                f"CLUSTERED BY ({bucket[1]}) SORTED BY ({bucket[1]}) "
                f"INTO {bucket[0]} BUCKETS"
                if bucket
                else ""
            )
            spark.sql(
                f"CREATE TABLE {table} ({columns}) USING PARQUET "
                f"{clustered} LOCATION '{path}'"
            )
        return
    df = build()
    if bucket:
        df = df.repartition(*bucket)
    if partition_by:
        df = df.repartition(partition_by)
    writer = df.write.mode("overwrite").format("parquet")
    if bucket:
        writer = writer.bucketBy(*bucket).sortBy(bucket[1])
    if partition_by:
        writer = writer.partitionBy(partition_by)
    if table is None:
        writer.save(path)
    else:
        writer.option("path", path).saveAsTable(table)
