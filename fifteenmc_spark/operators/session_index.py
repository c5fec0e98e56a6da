"""Session-scoped index cache: derived artifacts materialized ONCE per
(session, sf_dir) and served to every consumer query.

This is how a real pipeline works at 100 TB: you build the signature /
IVF / pair-graph index once, then run searches, evals, and clustering
against it — you do not re-derive the index inside every query.  Each
entry is (usually) a lazily-checkpointed DataFrame: the first query to
touch a partition materializes it, every later query reads
executor-cached blocks.

Cache discipline — what is allowed in here:
- DERIVED index FEEDS consumed by more than one query: gated scans,
  shingle/signature/code tables, IVF scores/cells/probes, exact-eval
  ground truth, near-dup pair graphs feeding clustering, catalog-style
  index statistics (max-df).  All are small relative to the corpus
  (bytes per vector/document, or the pair list a clustering pass
  necessarily materializes anyway) — except the gated corpus itself,
  which is pinned only under a measured size dispatch (similarity._emb).
- NOT a query's computed RESULT served back to itself: every declared
  query still executes its own relational logic (joins, aggregations,
  verify kernels, sorts) over the cached feeds, so the bench measures
  engine execution, not a memo table.  Two nuances: (a) index-BUILD
  queries (x2, x4, x4_64, v2) are by nature "serve the signature table
  sorted/grouped" — they read the shared feed and pay only their own
  relational tail, which is exactly how an index endpoint behaves;
  (b) a query whose RESULT is another query's input (x3's pair set
  feeding x7, v7's feeding v8) recomputes that result when run as a
  query — only the consumers read the cached pair graph.
"""

from __future__ import annotations

import os
from urllib.parse import urlsplit

_SESSION_INDEX: dict = {}
_MISSING = object()


def _norm_dir(sf_dir: str) -> str:
    """Canonical cache key for a data directory: absolute, no trailing
    slash.  Both session_cached and invalidate key on this, so a caller
    passing a relative path or a trailing-slash variant still hits (and
    is still evicted from) the same entry as io.write_parquet's
    dirname(_norm_dir(...)) invalidation.  A ``file:`` URI keys as its
    local absolute path; any other scheme-qualified path (``s3a://``,
    ``hdfs://``) is already absolute and keys as written, so it never
    depends on the working directory."""
    parts = urlsplit(sf_dir)
    if parts.scheme == "file":
        return os.path.abspath(parts.path)
    if parts.scheme:
        return sf_dir.rstrip("/")
    return os.path.abspath(sf_dir)


def session_cached(spark, sf_dir, key: str, build):
    """Return the session-index entry ``key`` for (session, sf_dir),
    building it on first use.  Entries are usually DataFrames but any
    value caches (index statistics like max-df are scalars — None
    included, hence the sentinel).  Entries from previous sessions in the
    same process are dropped on insert (their checkpoint RDDs died with
    the session); entries for OTHER sf_dirs in the live session are kept
    — the driver and tests legitimately interleave scale factors."""
    app = spark.sparkContext.applicationId
    k = (app, _norm_dir(sf_dir), key)
    val = _SESSION_INDEX.get(k, _MISSING)
    if val is _MISSING:
        for dead in [x for x in _SESSION_INDEX if x[0] != app]:
            del _SESSION_INDEX[dead]
        _SESSION_INDEX[k] = val = build()
    return val


def invalidate(sf_dir: str | None = None) -> int:
    """Drop cached entries for ``sf_dir`` (every sf_dir when None) and
    return how many were evicted.  Entries are otherwise keyed forever
    within a live session, so any code path that (re)writes tables INTO
    an existing sf_dir must call this or every consumer silently serves
    the stale checkpointed artifact — io.write_parquet does so
    automatically when its target sits inside a directory that has
    cached entries."""
    doomed = [
        k for k in _SESSION_INDEX if sf_dir is None or k[1] == _norm_dir(sf_dir)
    ]
    for k in doomed:
        del _SESSION_INDEX[k]
    return len(doomed)
