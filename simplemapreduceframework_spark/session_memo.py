"""The one owner of per-session cached state.

Operators reuse expensive session-scoped artifacts — row counts, index
directories, trained merges, persisted index frames — so repeated
invocations (bench passes, driver gates, test suites) pay for one copy.
Every such artifact lives here, under one lifecycle:

Keys. An entry is keyed by a tuple whose first element is its
*family* (``("bm25", "_bm25_pivot_shared", sf_dir)``,
``("table_rows", sf_dir, "customer")``). The entries of one session
live in ONE flat dict (``session_memo``), held in a
``WeakKeyDictionary`` on the live session object. Two other keyings
are WRONG for entries that hold DataFrames:

- ``applicationId``: shared by ``spark.newSession()`` siblings, so a
  sibling would receive a DataFrame bound to another session's catalog
  and state.
- ``id(spark)``: CPython reuses the addresses of freed objects, so an
  app that churns sessions could alias a dead session's entry onto a
  new session at the recycled address.

The weak session key makes entries unreachable from other sessions by
construction, and they die with their session. No module keeps a
per-session cache of its own (pure per-process tables such as
multimodal's JPEG decode-table cache hold no session state).

Plain values (``get_or_build``): counts, paths, merge lists, sketches,
and frames that are not persisted. An optional ``stamp`` (a source
mtime) keeps one live entry per key and rebuilds it when the stamp
changes.

Shared frames (``shared_frame``): the helper persists the built frame
and materializes it BEFORE returning it. A returned lineage can then
never read a cache entry that is not built yet, or one evicted under it
(the eviction-order class behind the BPE-loop and ``ann_search_ivf``
fixes), and every consumer's plan reads the same finished
InMemoryTableScan whichever query built the frame. ``shared_plan``
keys a shared frame by its own plan instead, for inputs with no
``sf_dir`` to name them.

``per_session(family, persist=...)`` wraps a ``(spark, sf_dir)``
builder into either form under the key ``(family, fn.__name__,
sf_dir)``. Persisted builders also register in ``BUILDERS[family]``,
which is where the plan canary (bench.py) finds each family's frames.

Release. ``release(spark, family)`` unpersists the frames this helper
persisted for that family and drops the family's entries;
``release(spark)`` does so for every family and then clears the
CacheManager, so frames persisted inside plain entries (a PageRank
degree frame, a global_row_number sort) go too — the clean slate of
the bench plan canary and the scale audit. Nothing is evicted
implicitly: a frame stays cached until its family is released or its
session dies.

Reads. ``recorded_reads()`` collects the families of the shared frames
a caller reads, directly or while building a plain entry — reads made
while building another shared frame belong to that frame, not to the
caller. tests/test_session_memo.py checks them against each query's
declared family (``registry.query``).
"""

from __future__ import annotations

import functools
import threading
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from typing import Any
from weakref import WeakKeyDictionary

from pyspark.sql import DataFrame, SparkSession

_MEMOS: "WeakKeyDictionary[SparkSession, dict[Any, Any]]" = (
    WeakKeyDictionary()
)
# the frames shared_frame persisted, per session — what release unpersists
_SHARED: "WeakKeyDictionary[SparkSession, dict[tuple, DataFrame]]" = (
    WeakKeyDictionary()
)
# family -> the persisted (spark, sf_dir) builders, in definition order
BUILDERS: dict[str, list[Callable[[SparkSession, str], DataFrame]]] = {}

# per thread: how many shared-frame builds are running, and the read
# set recorded_reads is collecting (if any)
_local = threading.local()


def session_memo(spark: SparkSession) -> dict[Any, Any]:
    """The flat entry dict owned by this SparkSession (created on first
    use, garbage-collected with the session)."""
    memo = _MEMOS.get(spark)
    if memo is None:
        memo = {}
        _MEMOS[spark] = memo
    return memo


def get_or_build(
    spark: SparkSession, key: tuple, build: Callable[[], Any], stamp: Any = None
) -> Any:
    """The entry at ``key``, built by ``build()`` on first use. With a
    ``stamp``, an entry built under a different stamp is rebuilt."""
    memo = session_memo(spark)
    if stamp is None:
        if key in memo:
            return memo[key]
        value = memo[key] = build()
        return value
    hit = memo.get(key)
    if hit is not None and hit[0] == stamp:
        return hit[1]
    value = build()
    memo[key] = (stamp, value)
    return value


def shared_frame(
    spark: SparkSession, key: tuple, build: Callable[[], DataFrame]
) -> DataFrame:
    """The persisted, materialized frame at ``key`` (family ``key[0]``),
    built by ``build()`` on first use."""
    reads = getattr(_local, "reads", None)
    if reads is not None and not getattr(_local, "depth", 0):
        reads.add(key[0])
    memo = session_memo(spark)
    if key in memo:
        return memo[key]
    _local.depth = getattr(_local, "depth", 0) + 1
    try:
        df = build().persist()
    finally:
        _local.depth -= 1
    try:
        df.count()
    except BaseException:
        df.unpersist()
        raise
    memo[key] = df
    _SHARED.setdefault(spark, {})[key] = df
    return df


def shared_plan(family: str, df: DataFrame) -> DataFrame:
    """The shared frame of ``df``'s plan, for frames that have no
    ``sf_dir`` to key on. Keyed by the plan's 32-bit ``semanticHash``;
    a different plan that collides on the hash takes the next slot, so
    a hit is always an exact (``sameSemantics``) match."""
    memo = session_memo(df.sparkSession)
    h, slot = df.semanticHash(), 0
    while (family, "plan", h, slot) in memo and not memo[
        (family, "plan", h, slot)
    ].sameSemantics(df):
        slot += 1
    return shared_frame(df.sparkSession, (family, "plan", h, slot), lambda: df)


def per_session(family: str, persist: bool = False):
    """Decorator: memoize a ``(spark, sf_dir)`` builder per session
    under ``(family, fn.__name__, sf_dir)`` — as a shared frame when
    ``persist``, else as a plain value."""

    def deco(fn: Callable[[SparkSession, str], Any]):
        get = shared_frame if persist else get_or_build

        @functools.wraps(fn)
        def wrapper(spark: SparkSession, sf_dir: str) -> Any:
            return get(
                spark, (family, fn.__name__, sf_dir), lambda: fn(spark, sf_dir)
            )

        if persist:
            BUILDERS.setdefault(family, []).append(wrapper)
        return wrapper

    return deco


def release(spark: SparkSession, family: str | None = None) -> None:
    """Unpersist the frames this helper persisted for ``family`` and
    drop that family's entries. With no family: every family, then the
    whole CacheManager."""
    memo = session_memo(spark)
    for key in [k for k in memo if family is None or k[0] == family]:
        del memo[key]
    shared = _SHARED.get(spark, {})
    for key in [k for k in shared if family is None or k[0] == family]:
        shared.pop(key).unpersist(blocking=True)
    if family is None:
        spark.catalog.clearCache()


@contextmanager
def recorded_reads() -> Iterator[set[str]]:
    """Collect the families of the shared frames read inside the block
    (not while building another shared frame)."""
    prev = getattr(_local, "reads", None)
    _local.reads = set()
    try:
        yield _local.reads
    finally:
        _local.reads = prev
