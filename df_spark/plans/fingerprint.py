"""Deterministic plan fingerprints — the reference's signature feature.

The reference content-addresses every intermediate column:
``hash(parent pool indices, operation, column name)`` (reference
``src/dataframe.rs:181-229, 833-843``; CSV source keys
``src/reader.rs:92-97``) so that re-submitting the same plan — even
from a new session — hits the process-global column cache.

Spark caches by DataFrame *identity*, not content, so this module
reproduces the behavior above Catalyst: each ``Df`` node carries a
sha256 fingerprint of (parent fingerprint, op repr), with source
fingerprints including the file modification time (fixing the
reference's staleness bug: it hashes only path + column name, so an
edited file serves stale cache — we include mtime+size). The wire
server (``df_spark.server``) keys its memoized plan nodes and action
replies with these functions.
"""

from __future__ import annotations

import hashlib
import os


def _sha(*parts: str) -> str:
    h = hashlib.sha256()
    for p in parts:
        h.update(p.encode("utf-8", "replace"))
        h.update(b"\x00")
    return h.hexdigest()


def fingerprint_source(kind: str, path: str) -> str:
    """Source fingerprint: kind + path + snapshot (mtime, size) when the
    path exists. Directories (multi-file parquet) use the dir mtime plus
    per-file stats."""
    stat_parts: list[str] = []
    try:
        st = os.stat(path)
        stat_parts.append(f"{st.st_mtime_ns}:{st.st_size}")
        if os.path.isdir(path):
            for name in sorted(os.listdir(path)):
                fst = os.stat(os.path.join(path, name))
                stat_parts.append(f"{name}:{fst.st_mtime_ns}:{fst.st_size}")
    except OSError:
        stat_parts.append("nostat")
    return _sha("source", kind, path, *stat_parts)


def fingerprint_op(parent_fp: str, op_repr: str) -> str:
    return _sha("op", parent_fp, op_repr)
