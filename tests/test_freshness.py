"""One freshness rule: every artifact derived from a base table — schema
handle, build-once layouts, CBO statistics tables, copurchase graph memos
— sees a rewrite of that table through ``freshness.fingerprint``. The
rewrite tests work on a ``tmp_path`` copy of the sf0.001 corpus."""

from __future__ import annotations

import os
import shutil
from pathlib import Path
from types import SimpleNamespace

import pyarrow.parquet as pq

from ai_etl_studio_spark.freshness import SessionMemo
from tests.conftest import SF_DIR

PACKAGE = Path(__file__).resolve().parent.parent / "ai_etl_studio_spark"


def test_only_the_fingerprint_module_reads_file_stats():
    """A second freshness rule (``os.stat`` size/mtime keyed anywhere
    else) fails here instead of waiting for review."""
    readers = sorted(
        str(p.relative_to(PACKAGE))
        for p in PACKAGE.rglob("*.py")
        if any(w in p.read_text() for w in ("st_mtime", "st_size"))
    )
    assert readers == ["freshness.py"]


def _session(app_id: str):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


def test_session_memo_rebuilds_on_new_session_or_changed_source(tmp_path):
    src = tmp_path / "t.parquet"
    src.write_bytes(b"v1")
    memo = SessionMemo()
    builds = []

    def fetch(app_id):
        return memo.fetch(
            _session(app_id), "k", [str(src)], lambda: builds.append(1) or len(builds)
        )

    assert fetch("app-1") == 1
    assert fetch("app-1") == 1  # hit
    assert fetch("app-2") == 2  # another session: rebuilt
    st = os.stat(src)
    os.utime(src, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000))
    assert fetch("app-2") == 3  # same size, new ns mtime: rebuilt
    assert len(memo) == 1  # one entry per key, replaced in place
    memo.clear()
    assert fetch("app-2") == 4


def _corpus_copy(tmp_path) -> str:
    sf = tmp_path / "sf"
    sf.mkdir()
    for f in os.listdir(SF_DIR):
        shutil.copyfile(os.path.join(SF_DIR, f), sf / f)
    return str(sf)


def _keep_first_third(path: str) -> None:
    t = pq.read_table(path)
    pq.write_table(t.slice(0, t.num_rows // 3), path)


def test_copurchase_memo_sees_a_lineitem_rewrite(spark, tmp_path):
    from ai_etl_studio_spark.operators import insights
    from ai_etl_studio_spark.operators.insights import copurchase_triangle_census

    sf = _corpus_copy(tmp_path)
    try:
        before = copurchase_triangle_census(spark, sf).collect()
        _keep_first_third(os.path.join(sf, "lineitem.parquet"))
        same_session = copurchase_triangle_census(spark, sf).collect()
        insights._CP_GRAPH_CACHE.clear()
        cleared = copurchase_triangle_census(spark, sf).collect()
    finally:
        insights._CP_GRAPH_CACHE.clear()  # no entry for the deleted copy
    assert same_session == cleared
    assert cleared != before


def test_column_stats_tables_renamed_after_a_rewrite(spark, tmp_path, monkeypatch):
    """A same-size rewrite inside the same second (only the ns mtime
    moves) must still give fresh ``cbo_*`` tables: stale column stats
    make the join reorder confidently wrong. A repeat call over
    unchanged sources reuses the tables without a new identity call."""
    from ai_etl_studio_spark import layout_cache
    from ai_etl_studio_spark.operators import extended

    monkeypatch.setattr(layout_cache, "CACHE_ROOT", str(tmp_path / "cache"))
    idents = []

    def counted_ident(*args):
        idents.append(args)
        return layout_cache.layout_ident(*args)

    monkeypatch.setattr(extended, "layout_ident", counted_ident)
    sf = _corpus_copy(tmp_path)
    registered: list[dict[str, str]] = []
    try:
        registered.append(extended.ensure_column_stats(spark, sf))
        # a repeat over unchanged sources: no manifest write or sweep
        assert extended.ensure_column_stats(spark, sf) == registered[0]
        assert len(idents) == 1
        path = os.path.join(sf, "supplier.parquet")
        st = os.stat(path)
        t0 = (st.st_mtime_ns // 10**9) * 10**9
        os.utime(path, ns=(t0, t0))
        data = Path(path).read_bytes()
        with open(path, "r+b") as fh:
            fh.write(data)
        os.utime(path, ns=(t0, t0 + 1_000))
        assert os.stat(path).st_size == st.st_size
        registered.append(extended.ensure_column_stats(spark, sf))
        names1, names2 = registered
        assert set(names2) == set(names1)
        assert all(n.startswith("cbo_") for n in names2.values())
        assert all(names2[t] != names1[t] for t in names1)
        for n in names2.values():
            assert spark.catalog.tableExists(n)
    finally:
        # no catalog table or memo entry may outlive the deleted copy
        for names in registered:
            for n in names.values():
                spark.sql(f"DROP TABLE IF EXISTS {n}")
        extended._CBO_TABLES.pop(os.path.abspath(sf), None)


def test_superseded_layout_tables_are_dropped(spark, tmp_path, monkeypatch):
    """A rewrite of ``lineitem`` supersedes its layouts; the sweep that
    removes them also drops the catalog tables named after them — the
    PageRank edge table ``pr_edges_<old>``, the bucketed pair
    ``bucketed_ok_<old>_li``/``_o`` and the CBO stats tables
    ``cbo_<old>_*`` — and leaves the corpus files they read in place."""
    from ai_etl_studio_spark import layout_cache
    from ai_etl_studio_spark.operators import extended
    from ai_etl_studio_spark.operators.analytics import ensure_pagerank_edge_index

    monkeypatch.setattr(layout_cache, "CACHE_ROOT", str(tmp_path / "cache"))
    sf = _corpus_copy(tmp_path)

    def ensure_all() -> list[str]:
        return [
            ensure_pagerank_edge_index(spark, sf),
            *extended.ensure_bucketed_orderkey_tables(spark, sf),
            *extended.ensure_column_stats(spark, sf).values(),
        ]

    registered: list[str] = []
    try:
        old = ensure_all()
        registered += old
        _keep_first_third(os.path.join(sf, "lineitem.parquet"))
        new = ensure_all()
        registered += new
        assert not set(old) & set(new)
        assert [n for n in new if not spark.catalog.tableExists(n)] == []
        assert [n for n in old if spark.catalog.tableExists(n)] == []
        for t in ("lineitem", "part", "supplier"):
            assert os.path.exists(os.path.join(sf, f"{t}.parquet"))
    finally:
        for n in registered:
            spark.sql(f"DROP TABLE IF EXISTS {n}")
        extended._CBO_TABLES.pop(os.path.abspath(sf), None)
