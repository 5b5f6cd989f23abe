"""Config-layer parity tests (A16/A17/A18) — pure Python, no Spark."""

from __future__ import annotations

import pytest

from ai_etl_studio_spark.config import (
    Credentials,
    clear_saved_credentials,
    credentials_exist,
    load_credentials,
    save_credentials,
    save_test_db_credentials,
)

CREDS = Credentials("postgresql", "localhost", 5432, "u", "s3cret!", "db")


def test_personal_store_roundtrip(tmp_path):
    p = str(tmp_path / "creds.json")
    assert load_credentials(p) is None
    assert not credentials_exist(p)
    save_credentials(CREDS, p)
    assert credentials_exist(p)
    got = load_credentials(p)
    assert got == CREDS
    # password is not stored in the clear (base64 parity with reference)
    raw = (tmp_path / "creds.json").read_text()
    assert "s3cret!" not in raw
    assert clear_saved_credentials(p)
    assert not credentials_exist(p)
    assert not clear_saved_credentials(p)


def test_personal_store_corrupt_returns_none(tmp_path):
    p = tmp_path / "creds.json"
    p.write_text("{not json")
    assert load_credentials(str(p)) is None


def test_shared_store_needs_cryptography(tmp_path, monkeypatch):
    """The Fernet gate raises a clear NotImplementedError when the
    `cryptography` package is unavailable. Absence is SIMULATED by
    poisoning sys.modules, so this test runs (never skips) whether or
    not the real package is installed."""
    import sys

    monkeypatch.setitem(sys.modules, "cryptography", None)
    monkeypatch.setitem(sys.modules, "cryptography.fernet", None)
    with pytest.raises(NotImplementedError):
        save_test_db_credentials(CREDS, str(tmp_path / "cfg"))


def test_schema_browser_render():
    from ai_etl_studio_spark.catalog import render_schema_browser

    snap = {"orders": [("o_orderkey", "bigint")], "nation": [("n_name", "string")]}
    out = render_schema_browser(snap, "orders")
    assert "▸ orders (1 columns)" in out
    assert "[o_orderkey: bigint]" in out
    assert "nation" in out
    # default selection = first table alphabetically
    assert "▸ nation" in render_schema_browser(snap)


def test_shared_store_fernet_roundtrip(tmp_path):
    pytest.importorskip("cryptography")
    from ai_etl_studio_spark.config import load_test_db_credentials

    d = str(tmp_path / "cfg")
    assert load_test_db_credentials(d) is None or True  # no file yet
    save_test_db_credentials(CREDS, d)
    assert load_test_db_credentials(d) == CREDS
    # ciphertext on disk, not plaintext
    blob = (tmp_path / "cfg" / "test_db.enc").read_bytes()
    assert b"s3cret!" not in blob
