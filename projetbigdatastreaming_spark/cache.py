"""Scoped persist: one cache entry per call-site key, filled eagerly
and kept until the next call under the same key replaces it.

Contract of ``persist_scoped(key, df, memoize=False)``:

* **Eager fill.**  Every call persists ``df`` and fills it with one
  action before it returns.  A lazily persisted relation with several
  consumers (both sides of a self-join, a loop round read twice) is
  otherwise filled by whichever consumer reaches a partition first,
  and the racing consumers recompute the lineage concurrently.

* **Scope.**  The relation outlives the call, because the caller
  materializes the returned plan later.  It is freed by the next call
  under the same key (or by ``clear_scoped``), so repeated calls of a
  site (timed re-runs, sweeps over several inputs, every micro-batch
  of a stream) hold one entry per key instead of one per invocation.

* **Same plan.**  When the entry under ``key`` is ``sameSemantics``
  with ``df``, it is unpersisted *before* ``df`` is persisted.
  Spark's CacheManager keys entries by canonicalized plan, so the two
  share one entry; unpersisting the old handle after persisting the
  new one would remove the new call's own cache.  For the same
  reason a plan must be cached under ONE key: two keys holding the
  same plan share an entry, and replacing one key kills the other.

* **Different plan.**  ``df`` is persisted and filled first, and only
  then is the old entry unpersisted.  A loop round built from the
  previous round (``persist_scoped(k, step(persist_scoped(k, ...)))``)
  therefore fills from a live cache; Spark keeps an already-filled
  dependent when the entry it was built from is uncached.

* **memoize.**  With ``memoize=True`` a same-plan call returns the
  cached entry instead of recomputing it.  Use it only for relations
  derived from immutable inputs (fixture parquet, a frozen model): a
  plan over a path rewritten between calls (streaming state) stays
  ``sameSemantics`` while its data changes, and would serve stale
  rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

#: key -> the relation currently cached under it
_SCOPED_PERSISTS: dict[str, DataFrame] = {}


def _unpersist(df: DataFrame, blocking: bool = False) -> None:
    try:
        df.unpersist(blocking=blocking)
    except Exception:
        pass  # the session may have restarted; a stale handle is inert


def _same_plan(a: DataFrame, b: DataFrame) -> bool:
    try:
        return a.sameSemantics(b)
    except Exception:
        return False


def clear_scoped() -> int:
    """Unpersist every scoped cache entry and return how many there
    were (used between scale sweeps so one scale's caches don't occupy
    executor memory while another scale is timed)."""
    n = 0
    while _SCOPED_PERSISTS:
        _unpersist(_SCOPED_PERSISTS.popitem()[1], blocking=True)
        n += 1
    return n


def persist_scoped(key: str, df: DataFrame, memoize: bool = False) -> DataFrame:
    """Cache ``df`` under ``key``, fill it, and free the key's previous
    entry in the order the module docstring gives.  Returns the cached
    relation: ``df`` itself, or the earlier entry on a memoized hit."""
    prev = _SCOPED_PERSISTS.pop(key, None)
    if prev is not None and _same_plan(prev, df):
        if memoize:
            _SCOPED_PERSISTS[key] = prev
            return prev
        _unpersist(prev)
        prev = None
    _SCOPED_PERSISTS[key] = df.persist()
    try:
        df.count()
    finally:
        if prev is not None:
            _unpersist(prev)
    return df
