"""The boilerplate-line persisted index (mirrors test_pagerank_index):
build once, skip on re-ensure, serve path broadcast-joins the index with
no frequency shuffle, and output is row-identical to the from-scratch
line_dedup_corpus."""

from __future__ import annotations

import os

from ai_etl_studio_spark.operators.dedup import (
    ensure_boilerplate_index,
    line_dedup_corpus,
    line_dedup_from_index,
)
from ai_etl_studio_spark.plans.guard import explain_str
from tests.conftest import SF_DIR


def test_index_builds_once_and_serve_matches_scratch(spark, tmp_path):
    base = str(tmp_path / "bp_idx")
    tbl = ensure_boilerplate_index(spark, SF_DIR, base_dir=base)
    success = os.path.join(base, tbl, "_SUCCESS")
    assert os.path.exists(success)
    built_at = os.path.getmtime(success)

    # second ensure: no rebuild, same identity
    assert ensure_boilerplate_index(spark, SF_DIR, base_dir=base) == tbl
    assert os.path.getmtime(success) == built_at

    # the index holds only boilerplate digests (df >= LINE_DROP_DF)
    n_bp = spark.table(tbl).count()
    assert n_bp > 0

    # serve path == from-scratch path, row for row
    scratch = {tuple(r) for r in line_dedup_corpus(spark, SF_DIR).collect()}
    served = {tuple(r) for r in line_dedup_from_index(spark, SF_DIR).collect()}
    assert served == scratch


def test_serve_plan_has_no_frequency_shuffle(spark, tmp_path):
    # default-cache ensure (what the registered query uses)
    df = line_dedup_from_index(spark, SF_DIR)
    tree = explain_str(df, "formatted").split("\n\n")[0]
    # boilerplate membership rides a broadcast join; the only exchanges
    # are the doc_id reassembly agg + presentation sort — the corpus-wide
    # countDistinct aggregation is gone
    assert "BroadcastHashJoin" in tree
    assert tree.count("Exchange hashpartitioning") <= 1


def test_index_identity_includes_base_dir(tmp_path, monkeypatch):
    """ADVICE r3: the catalog table name must differ per base_dir, or a
    second ensure_* call with a custom location silently re-points the
    shared name to different contents."""
    from ai_etl_studio_spark import layout_cache

    monkeypatch.setattr(layout_cache, "CACHE_ROOT", str(tmp_path / "cache"))
    sf = "/root/testdata/sf0.001"
    for kind, tables in (
        ("bp_lines", ("documents",)),
        ("pq_codes", ("embeddings",)),
        ("pr_edges", ("lineitem", "orders")),
    ):
        default_tbl, _ = layout_cache.layout_ident(kind, sf, tables)
        custom_tbl, custom_path = layout_cache.layout_ident(
            kind, sf, tables, base_dir=str(tmp_path / "idx")
        )
        assert default_tbl != custom_tbl, kind
        assert str(tmp_path / "idx") in custom_path
        # deterministic per (corpus, location)
        assert custom_tbl == layout_cache.layout_ident(
            kind, sf, tables, base_dir=str(tmp_path / "idx")
        )[0]
