"""Session memo: values computed once per Spark application and data
version.

Every compute-once artifact the engine keeps between calls lives here:
prepared query plans, the persisted dedup/NB/fingerprint tables, the
barycentric weights, trained centroids and codebooks, layout paths.

Key: ``(name, scope)``. ``scope`` is the directory whose data the value
is derived from (a fixture or pipeline stage dir), or None for a value
that reads no files. Each entry holds ``(applicationId,
data_version(scope), value)``.

Eviction contract, the one path every entry goes through:

- ``get`` returns the stored value when this application recorded it
  at the scope's current data version.
- When the data version changed, the superseded entry for that
  ``(name, scope)`` is unpersisted BEFORE ``build`` runs, then
  replaced. Every other entry of the scope recorded at another version
  is superseded too and is unpersisted and dropped at the same time.
  Both matter because Spark's CacheManager matches cached plans by
  plan equality: a rebuilt plan over the same paths (or any plan
  containing it) would otherwise be served the stale cached blocks.
- Entries recorded by another application lose their references but
  are not unpersisted: their cached blocks died with that
  application's JVM.
- ``clear(spark, scope)`` unpersists and drops every entry for one
  scope. Callers whose scopes are ephemeral (a pipeline's per-run
  stage dirs) call it once the scope is done with.
- A scope that has become unreadable or empty (``data_version`` -1:
  moved to cold storage, deleted) keeps serving this application's
  entry; with none recorded, ``build`` runs and fails as it would.

"Unpersisted" means ``unpersist()`` on every DataFrame the value holds
(the value itself, or the members of a tuple) that was persisted.

Assumes a single active Spark application per process: the engine
never calls ``newSession()``, so entries key on ``applicationId`` alone
and a new id means the previous application has stopped.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession

_SESSION_MEMO: dict = {}  # (name, scope) -> (applicationId, version, value)


def data_version(path: str | None) -> int:
    """Cheap content-version probe of a directory: max mtime_ns one
    level deep (covers both flat parquet files and directory-shaped
    parquet datasets). ~100 stats, negligible next to one Catalyst
    analysis pass. -1 when there is no path, or it cannot be read or
    holds nothing."""
    if path is None:
        return -1
    newest = -1
    try:
        with os.scandir(path) as it:
            for e in it:
                newest = max(newest, e.stat().st_mtime_ns)
                if e.is_dir():
                    with os.scandir(e.path) as inner:
                        for f in inner:
                            newest = max(newest, f.stat().st_mtime_ns)
    except OSError:
        return -1
    return newest


def _unpersist(value: Any) -> None:
    for v in value if isinstance(value, tuple) else (value,):
        if isinstance(v, DataFrame) and v.is_cached:
            v.unpersist()


def get(spark: SparkSession, name: str, scope: str | None,
        build: Callable[[], Any]) -> Any:
    """The value stored under (name, scope) for this application and
    data version, or build()'s result, stored."""
    app = spark.sparkContext.applicationId
    ver = data_version(scope)
    hit = _SESSION_MEMO.get((name, scope))
    if hit is not None and hit[0] == app and ver in (hit[1], -1):
        return hit[2]
    for key, (owner, version, value) in list(_SESSION_MEMO.items()):
        if owner != app:
            del _SESSION_MEMO[key]
        elif key[1] == scope and version != ver and ver != -1:
            del _SESSION_MEMO[key]
            _unpersist(value)
    value = build()
    _SESSION_MEMO[(name, scope)] = (app, ver, value)
    return value


def clear(spark: SparkSession, scope: str | None) -> None:
    """Unpersist and drop every entry for one scope."""
    app = spark.sparkContext.applicationId
    for key in [k for k in _SESSION_MEMO if k[1] == scope]:
        owner, _ver, value = _SESSION_MEMO.pop(key)
        if owner == app:
            _unpersist(value)
