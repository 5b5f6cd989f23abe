"""Layout identity and cache hygiene (r8 verdict item 6): a build-once
layout's name hashes its sources' file fingerprints, params and base
dir; each ident call writes a source manifest and sweeps stranded
sibling layouts — sources changed or vanished — through
``manifest_and_gc``, which the sweep tests call directly. No Spark needed:
the identity only stats the source files."""

from __future__ import annotations

import json
import os
import time

from ai_etl_studio_spark.layout_cache import (
    gc_stale_siblings,
    layout_ident,
    manifest_and_gc,
    source_fingerprints,
    write_manifest,
)


def _mk_source(tmp_path, name, content=b"v1"):
    f = tmp_path / name
    f.write_bytes(content)
    return str(f)


def test_manifest_written_and_live_sibling_kept(tmp_path):
    src_a = _mk_source(tmp_path, "a.parquet")
    src_b = _mk_source(tmp_path, "b.parquet")
    base = tmp_path / "kind"
    removed = manifest_and_gc(str(base / "fp_a"), source_fingerprints([src_a]))
    assert removed == []
    # manifest lives BESIDE the dir (r9 ADVICE: an in-dir manifest was
    # deleted by the layout's own overwrite build)
    assert json.load(open(base / "fp_a.manifest.json"))["sources"]
    # a sibling whose source still matches is another live corpus: kept
    manifest_and_gc(str(base / "fp_b"), source_fingerprints([src_b]))
    removed = manifest_and_gc(str(base / "fp_a"), source_fingerprints([src_a]))
    assert removed == []
    assert (base / "fp_b").exists()


def test_stale_sibling_removed_on_source_change(tmp_path):
    src = _mk_source(tmp_path, "a.parquet", b"v1")
    base = tmp_path / "kind"
    manifest_and_gc(str(base / "fp_old"), source_fingerprints([src]))
    # regenerate the corpus: size changes -> fp_old is stranded
    time.sleep(0.01)
    open(src, "wb").write(b"v2-longer")
    removed = manifest_and_gc(str(base / "fp_new"), source_fingerprints([src]))
    assert removed == ["fp_old"]
    assert not (base / "fp_old").exists()
    assert (base / "fp_new").exists()


def test_vanished_source_and_manifestless_removed(tmp_path):
    src = _mk_source(tmp_path, "a.parquet")
    gone = _mk_source(tmp_path, "gone.parquet")
    base = tmp_path / "kind"
    manifest_and_gc(str(base / "fp_gone"), source_fingerprints([gone]))
    os.remove(gone)
    (base / "fp_orphan").mkdir(parents=True)  # pre-manifest strand
    removed = manifest_and_gc(str(base / "fp_live"), source_fingerprints([src]))
    assert sorted(removed) == ["fp_gone", "fp_orphan"]


def test_unreadable_manifest_treated_as_stranded(tmp_path):
    src = _mk_source(tmp_path, "a.parquet")
    base = tmp_path / "kind"
    bad = base / "fp_bad"
    bad.mkdir(parents=True)
    (bad / "_manifest.json").write_text("{not json")
    removed = manifest_and_gc(str(base / "fp_live"), source_fingerprints([src]))
    assert removed == ["fp_bad"]


def test_layout_ident_sweeps_regenerated_corpus(tmp_path):
    """End-to-end through layout_cache.layout_ident: regenerating
    lineitem.parquet (the r8 ADVICE scenario) strands the old bucketed
    layout and the next ident call removes it."""
    sf = tmp_path / "sf"
    sf.mkdir()
    for t in ("lineitem", "orders"):
        (sf / f"{t}.parquet").write_bytes(b"v1")
    base = str(tmp_path / "bucketed_ok")
    _, root1 = layout_ident(
        "bucketed_ok", str(sf), ("lineitem", "orders"), base_dir=base
    )
    time.sleep(0.01)
    (sf / "lineitem.parquet").write_bytes(b"v2-regenerated")
    _, root2 = layout_ident(
        "bucketed_ok", str(sf), ("lineitem", "orders"), base_dir=base
    )
    assert root1 != root2
    assert not os.path.exists(root1)
    assert os.path.exists(root2)


def _rewrite_same_size_same_second(path, content: bytes) -> None:
    """Rewrite ``path`` in place (same inode) with equally long
    ``content`` and move its mtime 1 µs inside the same second."""
    st = os.stat(path)
    t0 = (st.st_mtime_ns // 10**9) * 10**9
    os.utime(path, ns=(t0, t0))
    with open(path, "r+b") as fh:
        fh.write(content)
    os.utime(path, ns=(t0, t0 + 1_000))
    after = os.stat(path)
    assert (after.st_ino, after.st_size) == (st.st_ino, st.st_size)


def test_same_size_same_second_rewrite_gets_a_new_layout(tmp_path):
    """Size plus whole-second mtime cannot tell these two files apart;
    the file fingerprint's ns mtime does, so the stale layout is swept
    and never served."""
    sf = tmp_path / "sf"
    sf.mkdir()
    src = sf / "orders.parquet"
    src.write_bytes(b"v1-orders")
    base = str(tmp_path / "opart_month")
    name1, root1 = layout_ident("opart_month", str(sf), ("orders",), base_dir=base)
    _rewrite_same_size_same_second(src, b"v2-orders")
    name2, root2 = layout_ident("opart_month", str(sf), ("orders",), base_dir=base)
    assert (name1, root1) != (name2, root2)
    assert not os.path.exists(root1)


def test_part_file_rewrite_in_spark_directory_gets_a_new_layout(tmp_path):
    """A Spark-written table is a directory; rewriting one of its part
    files in place leaves the directory's own size and mtime alone, but
    not the fingerprint of the files under it. Spark's bookkeeping files
    (``_SUCCESS``, ``.crc``) are not part of the fingerprint."""
    table = tmp_path / "sf" / "lineitem.parquet"
    table.mkdir(parents=True)
    part = table / "part-00000.parquet"
    part.write_bytes(b"rows-v1")
    (table / "_SUCCESS").write_bytes(b"")
    base = str(tmp_path / "pr_edges")
    sf = str(tmp_path / "sf")
    name1, _ = layout_ident("pr_edges", sf, ("lineitem",), base_dir=base)
    (table / ".part-00000.parquet.crc").write_bytes(b"crc")
    assert layout_ident("pr_edges", sf, ("lineitem",), base_dir=base)[0] == name1
    dir_before = os.stat(table)
    _rewrite_same_size_same_second(part, b"rows-v2")
    with open(part, "ab") as fh:  # and grow it: a different size too
        fh.write(b"-more")
    assert os.stat(table).st_mtime_ns == dir_before.st_mtime_ns
    name2, _ = layout_ident("pr_edges", sf, ("lineitem",), base_dir=base)
    assert name2 != name1


def test_identity_hashes_params_and_base_dir(tmp_path):
    src = _mk_source(tmp_path, "documents.parquet")
    sf = os.path.dirname(src)
    base = str(tmp_path / "kind")
    a = layout_ident("bp_lines", sf, ("documents",), (8, 2), base)
    assert layout_ident("bp_lines", sf, ("documents",), (8, 2), base) == a
    assert layout_ident("bp_lines", sf, ("documents",), (8, 3), base) != a
    assert a[0].startswith("bp_lines_") and a[1] == os.path.join(base, a[0])
    # manifest beside the layout, keyed by absolute source path
    manifest = json.load(open(a[1] + ".manifest.json"))
    assert list(manifest["sources"]) == [os.path.abspath(src)]


def test_gc_missing_base_dir_is_noop(tmp_path):
    assert gc_stale_siblings(str(tmp_path / "absent"), "x") == []


def test_write_manifest_is_idempotent(tmp_path):
    src = _mk_source(tmp_path, "a.parquet")
    d = str(tmp_path / "kind" / "fp")
    mpath = str(tmp_path / "kind" / "fp.manifest.json")
    write_manifest(d, source_fingerprints([src]))
    m1 = json.load(open(mpath))
    write_manifest(d, source_fingerprints([src]))
    m2 = json.load(open(mpath))
    assert m1 == m2


def test_overwrite_build_cannot_strand_live_layout(tmp_path):
    """The r9 ADVICE medium: ensure_* builds write the layout with
    mode('overwrite').saveAsTable rooted at the fingerprint dir, which
    deletes everything INSIDE it. With the manifest beside the dir, a
    sibling ident must still see the freshly built layout as live."""
    import shutil

    src_a = _mk_source(tmp_path, "a.parquet")
    src_b = _mk_source(tmp_path, "b.parquet")
    base = tmp_path / "kind"
    manifest_and_gc(str(base / "fp_a"), source_fingerprints([src_a]))
    # simulate the overwrite build: dir contents (including any in-dir
    # file) are wiped and replaced by parquet output + _SUCCESS
    shutil.rmtree(base / "fp_a")
    (base / "fp_a").mkdir()
    (base / "fp_a" / "_SUCCESS").write_bytes(b"")
    (base / "fp_a" / "part-0.parquet").write_bytes(b"data")
    # sibling corpus ident (the bench warms sf0.001 then times sf0.1)
    removed = manifest_and_gc(str(base / "fp_b"), source_fingerprints([src_b]))
    assert removed == []
    assert (base / "fp_a" / "part-0.parquet").exists()


def test_manifestless_success_dir_is_kept(tmp_path):
    """A completed build with no manifest (concurrent session mid-ident
    or pre-manifest era) is live, never swept; only manifest-less
    partials without _SUCCESS are removed."""
    src = _mk_source(tmp_path, "a.parquet")
    base = tmp_path / "kind"
    done = base / "fp_done"
    done.mkdir(parents=True)
    (done / "_SUCCESS").write_bytes(b"")
    partial = base / "fp_partial"
    partial.mkdir()
    removed = manifest_and_gc(str(base / "fp_live"), source_fingerprints([src]))
    assert removed == ["fp_partial"]
    assert done.exists()


def test_legacy_in_dir_manifest_still_honored(tmp_path):
    """Pre-r10 layouts carry _manifest.json inside the dir: still read
    for staleness (source changed -> swept; source live -> kept)."""
    src = _mk_source(tmp_path, "a.parquet", b"v1")
    base = tmp_path / "kind"
    legacy = base / "fp_legacy"
    legacy.mkdir(parents=True)
    (legacy / "_manifest.json").write_text(
        json.dumps(
            {"sources": {os.path.abspath(src): [2, 0]}}
        )  # stat mismatch -> stale
    )
    removed = manifest_and_gc(str(base / "fp_live"), source_fingerprints([src]))
    assert removed == ["fp_legacy"]
