"""Build once, serve many: reuse a model built from a persisted input.

A library entry that splits into a build step and a score step
(``ml.queries.nb_fit``/``nb_score``, ``operators.textops.bm25_index``/
``bm25_query``) gets its model through ``built_for``. The model is reused
only while the input DataFrame is persisted and still backed by the SAME
Spark cache entry:

- the memo is keyed weakly on the input DataFrame object, so a dropped
  frame drops its models;
- each stored model remembers the cache entry it was built from (the id
  of that entry's size accumulator, unique per entry in the JVM); after
  ``unpersist()``, ``spark.catalog.clearCache()`` or an unpersist followed
  by a re-cache, the entry is gone or new and the next call builds afresh;
- an input with no cache entry of its own is never memoized, so one-shot
  calls keep their single-pass plan;
- a model is stored only after its build returns, so a failed build
  leaves nothing behind.

No flag, env var or parameter switches this on: persisting the input is
the signal that it will be served again.
"""

from __future__ import annotations

import weakref
from typing import Callable, Hashable, Iterable, TypeVar

from pyspark.sql import DataFrame

M = TypeVar("M")

#: input DataFrame -> {build key: (cache entry id, model)}
_MEMO: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _cache_entry_id(df: DataFrame) -> int | None:
    """Id of the Spark cache entry that backs ``df`` as a whole, or None
    when ``df`` is not persisted (a frame derived from a cached one has no
    entry of its own)."""
    hit = df.sparkSession._jsparkSession.sharedState().cacheManager().lookupCachedData(df._jdf)
    if hit.isEmpty():
        return None
    return hit.get().cachedRepresentation().cacheBuilder().sizeInBytesStats().id()


def built_for(df: DataFrame, key: Hashable, build: Callable[[], M]) -> M:
    """``build()``'s model for ``df``, reused while ``df``'s cache entry
    is the one it was built from. ``key`` names the build and its
    build-side parameters (never score-side ones)."""
    entry = _cache_entry_id(df)
    if entry is None:
        _MEMO.pop(df, None)
        return build()
    models = {k: v for k, v in _MEMO.get(df, {}).items() if v[0] == entry}
    if key not in models:
        models[key] = (entry, build())
    _MEMO[df] = models
    return models[key][1]


def require_columns(who: str, what: str, df: DataFrame, cols: Iterable[str]) -> None:
    """Raise a ValueError naming ``who`` when ``df`` (described as
    ``what``) lacks any of ``cols``."""
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(f"{who}: {what} lacks column(s) {missing}; has {df.columns}")
