"""Build once, serve many: reuse state built from a persisted input.

A library entry that splits into a build step and a score step
(``ml.queries.nb_fit``/``nb_score``, ``operators.textops.bm25_index``/
``bm25_query``, and ``operators.similarity.ann_topk``'s corpus norms)
gets its state through ``built_for``. The state is reused only while the
input DataFrame is persisted and still backed by the SAME Spark cache
entry:

- the memo is keyed weakly on the input DataFrame object, so a dropped
  frame drops its state;
- each stored state remembers the cache entry it was built from (the id
  of that entry's size accumulator, unique per entry in the JVM); after
  ``unpersist()``, ``spark.catalog.clearCache()`` or an unpersist followed
  by a re-cache, the entry is gone or new and the next call builds afresh;
- an input with no cache entry of its own is never memoized or
  materialized, so a one-shot call builds the same plan as the build
  and score steps called directly;
- state is stored only after its build and materialization return, so a
  failed build leaves nothing behind.

State built for a persisted input is materialized once, table by table
(``localCheckpoint(eager=True)``). A table whose stored size is no larger
than ``spark.sql.adaptive.advisoryPartitionSizeInBytes`` (Spark's own
target size of one shuffle partition) is then held as ONE partition
(``coalesce(1)``, checkpointed again): the planner sees
``SinglePartition`` on it, so a request's aggregate, window or top-k over
rows streamed from that table needs no exchange, and each exchange a
request avoids is a Spark job it does not run. A larger table stays
distributed as its build left it. Only the small side has been measured
(the perfbench corpora hold kilobytes of state); whether a table near the
cutoff serves faster as one partition than distributed is untested.

A held table no larger than ``spark.sql.autoBroadcastJoinThreshold`` is
``broadcastable``: Spark would broadcast it on its own if it knew its
size, so a score step may pin that pick with a broadcast hint, and the
build side of its join then cannot flip from one request to the next.
Every other join is left to the planner.

No flag, env var or parameter switches this on: persisting the input is
the signal that it will be served again.
"""

from __future__ import annotations

import weakref
from typing import Callable, Hashable, Iterable, TypeVar

from pyspark.sql import DataFrame

M = TypeVar("M")

#: input DataFrame -> {build key: (cache entry id, state)}
_MEMO: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
#: held DataFrame -> the bytes the block manager stores for it
_STORED: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _cache_entry_id(df: DataFrame) -> int | None:
    """Id of the Spark cache entry that backs ``df`` as a whole, or None
    when ``df`` is not persisted (a frame derived from a cached one has no
    entry of its own)."""
    hit = df.sparkSession._jsparkSession.sharedState().cacheManager().lookupCachedData(df._jdf)
    if hit.isEmpty():
        return None
    return hit.get().cachedRepresentation().cacheBuilder().sizeInBytesStats().id()


def built_for(df: DataFrame, key: Hashable, build: Callable[[], M]) -> M:
    """``build()``'s state for ``df``, reused while ``df``'s cache entry
    is the one it was built from. ``key`` names the build and its
    build-side parameters (never score-side ones). ``build`` returns a
    DataFrame or a NamedTuple of DataFrames; a field the score step does
    not read may be None. For a persisted ``df`` each DataFrame is
    materialized before it is stored (see the module docstring)."""
    entry = _cache_entry_id(df)
    if entry is None:
        _MEMO.pop(df, None)
        return build()
    models = {k: v for k, v in _MEMO.get(df, {}).items() if v[0] == entry}
    if key not in models:
        models[key] = (entry, _held(build()))
    _MEMO[df] = models
    return models[key][1]


def broadcastable(df: DataFrame) -> bool:
    """Whether ``df`` is a table ``built_for`` holds whose stored size is
    within ``spark.sql.autoBroadcastJoinThreshold``."""
    stored = _STORED.get(df)
    return stored is not None and stored <= _conf_bytes(df, "spark.sql.autoBroadcastJoinThreshold")


def _held(state):
    """``state`` with each of its DataFrames materialized, as one
    partition when it is small enough (see the module docstring)."""
    if state is None:
        return None
    if not isinstance(state, DataFrame):
        return type(state)(*map(_held, state))
    held = state.localCheckpoint(eager=True)
    stored = _stored_bytes(held)
    if stored <= _conf_bytes(held, "spark.sql.adaptive.advisoryPartitionSizeInBytes"):
        held = held.coalesce(1).localCheckpoint(eager=True)
    _STORED[held] = stored
    return held


def _conf_bytes(df: DataFrame, key: str) -> int:
    """The session conf ``key`` of ``df``, a byte size, in bytes (-1
    stays -1, Spark's "off")."""
    spark = df.sparkSession
    value = spark.conf.get(key).strip()
    size = spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(value.lstrip("-"))
    return -size if value.startswith("-") else size


def _stored_bytes(held: DataFrame) -> int:
    """Bytes the block manager holds for ``held``, the result of an eager
    ``localCheckpoint``."""
    rdd_id = held._jdf.queryExecution().analyzed().rdd().id()
    infos = held.sparkSession.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos if i.id() == rdd_id)


def require_columns(who: str, what: str, df: DataFrame, cols: Iterable[str]) -> None:
    """Raise a ValueError naming ``who`` when ``df`` (described as
    ``what``) lacks any of ``cols``."""
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(f"{who}: {what} lacks column(s) {missing}; has {df.columns}")
