"""One freshness rule: has a source table changed?

Every artifact the engine derives from a base table answers that question
with ``fingerprint`` and nothing else: the catalog's schema handle, the
build-once layouts and CBO statistics tables (through
``layout_cache.layout_ident``), and the in-session copurchase graph
memos. The fingerprint is ``(relpath, inode, size, ns mtime)`` of every
data file under a path, listed recursively with Spark's hidden-file
rule. A rewrite in place changes the inode, the size or the ns mtime,
also when it keeps the size and lands inside the same second, and a
rewrite of one part file of a Spark-written directory changes that
file's entry.

``SessionMemo`` is the one in-session memo over that rule. It holds one
entry per key, stamped with the SparkContext application id and the
fingerprints of the sources the value was derived from; a lookup from
another session or over changed sources builds the value again and
replaces the entry. It is a dict, so callers clear it like one.
"""

from __future__ import annotations

import os


def hidden(name: str) -> bool:
    """Names Spark's file listing skips (``_SUCCESS``, ``.crc`` files,
    ``_temporary``); ``_``-prefixed hive partitions (``_k=v``) are kept."""
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def fingerprint(path: str) -> tuple:
    """``(relpath, inode, size, st_mtime_ns)`` of every data file under
    ``path`` (the path itself when it is a file), sorted by relpath."""
    if os.path.isfile(path):
        st = os.stat(path)
        return (("", st.st_ino, st.st_size, st.st_mtime_ns),)
    entries = []
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not hidden(d)]
        for f in files:
            if hidden(f):
                continue
            full = os.path.join(root, f)
            st = os.stat(full)
            rel = os.path.relpath(full, path)
            entries.append((rel, st.st_ino, st.st_size, st.st_mtime_ns))
    return tuple(sorted(entries))


class SessionMemo(dict):
    """``key -> ((application id, source fingerprints), value)``."""

    def fetch(self, spark, key, sources, build):
        """The value held for ``key`` when it was built in this session
        from sources whose fingerprints still match; otherwise
        ``build()``, stored in place of the old entry. Each entry is
        stored whole, so two racing callers at worst both build."""
        stamp = (
            spark.sparkContext.applicationId,
            tuple(fingerprint(p) for p in sources),
        )
        held = self.get(key)
        if held is not None and held[0] == stamp:
            return held[1]
        value = build()
        self[key] = (stamp, value)
        return value
