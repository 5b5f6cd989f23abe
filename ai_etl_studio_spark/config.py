"""Config layer: credential stores (reference A16, A17 —
db_utils.py:24-114).

The reference keeps two credential stores:

- personal: JSON at ``~/.asksql_credentials.json`` with a base64-obscured
  password (db_utils.py:75-114) — ported as-is (base64 is obfuscation,
  not encryption; preserved for behavioral parity and flagged as such);
- shared/test: Fernet-encrypted JSON under ``.config/`` with the key in
  a sibling file (db_utils.py:24-73) — ported behind an import-try on
  ``cryptography`` (not in this container); the API is real, the
  encryption backend loads lazily.

Neither store touches the data plane; for the Spark engine these feed
the optional JDBC reader (sources/readers.py).
"""

from __future__ import annotations

import base64
import json
import os
from dataclasses import asdict, dataclass
from pathlib import Path

PERSONAL_STORE = "~/.asksql_credentials.json"
SHARED_DIR = ".config"
SHARED_ENC = "test_db.enc"
SHARED_KEY = "test_db.key"


@dataclass
class Credentials:
    db_type: str
    host: str
    port: int
    user: str
    password: str
    dbname: str


def _store_path(path: str | None = None) -> Path:
    return Path(os.path.expanduser(path or PERSONAL_STORE))


def save_credentials(creds: Credentials, path: str | None = None) -> None:
    """Personal store (A16, db_utils.py:75-89): JSON, base64 password.
    Base64 is NOT encryption — parity with the reference, which applied
    the same obfuscation."""
    d = asdict(creds)
    d["password"] = base64.b64encode(creds.password.encode()).decode()
    p = _store_path(path)
    p.write_text(json.dumps(d))
    p.chmod(0o600)


def load_credentials(path: str | None = None) -> Credentials | None:
    """A16 load (db_utils.py:91-104): None when absent or unreadable."""
    p = _store_path(path)
    if not p.exists():
        return None
    try:
        d = json.loads(p.read_text())
        d["password"] = base64.b64decode(d["password"].encode()).decode()
        return Credentials(**d)
    except Exception:
        return None


def clear_saved_credentials(path: str | None = None) -> bool:
    """A16 clear (db_utils.py:106-111)."""
    p = _store_path(path)
    if p.exists():
        p.unlink()
        return True
    return False


def credentials_exist(path: str | None = None) -> bool:
    """A16 probe (db_utils.py:113-114)."""
    return _store_path(path).exists()


def _fernet(key: bytes):
    try:
        from cryptography.fernet import Fernet  # type: ignore
    except ImportError as e:  # pragma: no cover - lib absent in container
        raise NotImplementedError(
            "shared credential store needs the 'cryptography' package "
            "(reference db_utils.py:24-73 used Fernet); install it or use "
            "the personal store"
        ) from e
    return Fernet(key)


def get_or_create_encryption_key(config_dir: str = SHARED_DIR) -> bytes:
    """A17 key management (db_utils.py:24-38): key file beside the
    ciphertext, created on first use."""
    d = Path(config_dir)
    d.mkdir(parents=True, exist_ok=True)
    key_path = d / SHARED_KEY
    if key_path.exists():
        return key_path.read_bytes()
    try:
        from cryptography.fernet import Fernet  # type: ignore
    except ImportError as e:  # pragma: no cover
        raise NotImplementedError(
            "shared credential store needs the 'cryptography' package"
        ) from e
    key = Fernet.generate_key()
    key_path.write_bytes(key)
    key_path.chmod(0o600)
    return key


def save_test_db_credentials(creds: Credentials, config_dir: str = SHARED_DIR) -> None:
    """A17 save (db_utils.py:40-56): Fernet-encrypted JSON."""
    f = _fernet(get_or_create_encryption_key(config_dir))
    blob = f.encrypt(json.dumps(asdict(creds)).encode())
    (Path(config_dir) / SHARED_ENC).write_bytes(blob)


def load_test_db_credentials(config_dir: str = SHARED_DIR) -> Credentials | None:
    """A17 load (db_utils.py:58-73)."""
    enc = Path(config_dir) / SHARED_ENC
    if not enc.exists():
        return None
    f = _fernet(get_or_create_encryption_key(config_dir))
    d = json.loads(f.decrypt(enc.read_bytes()).decode())
    return Credentials(**d)
