"""One snapshot-keyed cache for everything a session reuses.

The key is ``snapshot(sf_dir)``: a token over the dir's real path and the
(relative path, size, mtime_ns) of every file under it. A rewritten file,
another dir with the same basename, or a new day's snapshot path each gets
a new token, so nothing built from older contents is served again.

- ``shared_view`` memoizes the built lazy plan of a view many queries
  embed (~40 embed the prices -> CCI chain; each rebuild costs hundreds of
  py4j round-trips plus a Catalyst re-analysis per op), so they all share
  one DataFrame and one persisted InMemoryRelation. The dict
  (``spark._shared_view_plan_cache``, dying with the session) holds one
  entry per view name with the (sf_dir, token) it was built from; a
  request with another one unpersists the entry and builds anew, so a
  session that reads a new snapshot every day holds one day's views. The
  persist is re-applied only after ``clearCache()`` dropped it, never on a
  live entry. Literal tables read no input: their ``sf_dir`` is None.
- ``memo`` is the same entry for any other value: ``load_table`` keeps
  each table's parquet schema under ``("schema", name)``, so only the first
  read of a snapshot runs Spark's schema-inference job; the streaming
  jobs' ``staged_schema`` keeps a staged dir's schema the same way.
- ``staged`` writes a derived input once per snapshot at
  ``root/<kind>-<token>`` and publishes it by renaming a temp sibling, so
  the path exists only when complete: its existence is the marker.

``load_table`` and ``shared_view`` call ``observe``: a known dir with a new
token gets ``spark.catalog.refreshByPath``, which also refreshes what any
query-local ``persist`` cached from it.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import uuid
from typing import Callable

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession


def snapshot(path: str) -> str:
    """Token of ``path``'s current contents (``__pycache__`` excluded)."""
    root = os.path.realpath(path)
    h = hashlib.md5(root.encode())
    for d, dirs, files in os.walk(root):
        dirs[:] = sorted(x for x in dirs if x != "__pycache__")
        for f in sorted(files):
            st = os.stat(os.path.join(d, f))
            rel = os.path.relpath(os.path.join(d, f), root)
            h.update(f"\0{rel}\0{st.st_size}\0{st.st_mtime_ns}".encode())
    return h.hexdigest()[:16]


def observe(spark: SparkSession, sf_dir: str) -> str:
    """``snapshot(sf_dir)``, refreshing Spark's listings and cached data
    under the dir when this session saw another token for it."""
    token = snapshot(sf_dir)
    seen = spark.__dict__.setdefault("_snapshot_tokens", {})
    key = os.path.realpath(sf_dir)
    if seen.setdefault(key, token) != token:
        spark.catalog.refreshByPath(sf_dir)
        seen[key] = token
    return token


def memo(spark: SparkSession, key, sf_dir: str | None, build: Callable[[], object]):
    """The value ``build`` made for ``key`` from ``sf_dir``'s current
    snapshot; a new snapshot (or dir) releases the old value and builds
    anew."""
    token = None if sf_dir is None else observe(spark, sf_dir)
    cache = spark.__dict__.setdefault("_shared_view_plan_cache", {})
    entry = cache.pop(key, None)
    if entry is not None and entry[:2] == (sf_dir, token):
        value = entry[2]
    else:
        if entry is not None:
            _release(entry[2])
        value = build()
    cache[key] = (sf_dir, token, value)
    return value


def _release(value) -> None:
    if isinstance(value, DataFrame):
        value.unpersist()


def shared_view(
    spark: SparkSession,
    name,
    sf_dir: str | None,
    build: Callable[[], DataFrame],
    level: StorageLevel | None = None,
) -> DataFrame:
    """View ``name`` built by ``build`` from ``sf_dir``'s current snapshot,
    persisted at ``level`` (None: the plan is only memoized)."""
    df = memo(spark, name, sf_dir, build)
    if level is not None and df.storageLevel == StorageLevel.NONE:
        df.persist(level)
    return df


def reset(spark: SparkSession) -> None:
    """Drop every entry and its cached data, for the plan audit
    (tools/audit_plans.py): a memo-hit plan shares exprIds with earlier
    embeddings, so its printed plan would depend on what the session built
    before; a reset between queries pins it to the fresh-session build."""
    cache = spark.__dict__.setdefault("_shared_view_plan_cache", {})
    for _sf_dir, _token, value in cache.values():
        _release(value)
    cache.clear()


def staged(root: str, kind: str, sf_dir: str, write: Callable[[str], None]) -> str:
    """``root/<kind>-<snapshot(sf_dir)>``, created on first request by
    ``write(path)`` into a temp sibling that is then renamed into place.
    The temp sibling is removed whether ``write`` fails or a concurrent
    writer published first."""
    out = os.path.join(root, f"{kind}-{snapshot(sf_dir)}")
    if not os.path.exists(out):
        tmp = f"{out}.{uuid.uuid4().hex}.part"
        os.makedirs(root, exist_ok=True)
        try:
            write(tmp)
            os.rename(tmp, out)
        except OSError:
            if not os.path.exists(out):
                raise
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    return out
