"""Driver-side, session-scoped caches: one owner, one lifetime rule.

Every memo the engine keeps between calls lives here, and every entry
belongs to the SparkContext that was active when it was stored: the first
access under a different context (test harnesses stop and start them)
drops them all, so no caller is ever served a handle bound to a stopped
JVM session.

- the **pool** keeps the last :data:`_POOL_CAP` persisted intermediates
  (:func:`scratch_persist`);
- the **seam memo** keeps the last :data:`_SEAM_CAP` eager results
  (:func:`scratch_checkpoint`, ``connected_components``);
- the **plan-only memos** hold parsed expressions (:func:`expr_cached`),
  table loads and probed values (:func:`plan_memo`); they hold no data.

:func:`reset_scratch` releases the pool and the seam memo and keeps the
plan-only memos, whose entries stay valid for the whole session.
"""

from __future__ import annotations

import uuid
from collections import OrderedDict
from collections.abc import Callable, Hashable

from pyspark import SparkContext, StorageLevel
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: 16, not 8: the deepest registered composition (training_corpus with
#: embeddings + corpus_split_audit on top) registers ~11 distinct
#: intermediates in one call — at cap 8 its own early stages were evicted
#: before the final action consumed them, forcing recompute inside a single
#: query run.  Still a hard bound on cache footprint; entries spill to disk.
_POOL_CAP = 16
_SEAM_CAP = 16
_EXPR_CAP = 512

_owner: SparkContext | None = None
#: semanticHash -> persisted DataFrame (insertion order = LRU order)
_pool: OrderedDict[Hashable, DataFrame] = OrderedDict()
#: (tag, semanticHash, input files, *extras) -> [(analyzed plan, result)]
_seams: OrderedDict[tuple, list] = OrderedDict()
#: SQL text -> parsed Column
_exprs: dict[str, Column] = {}
#: caller-chosen key -> table load or probed value
_plans: dict[Hashable, object] = {}


def _bind() -> None:
    """Drop every entry stored under another SparkContext."""
    global _owner
    sc = SparkContext._active_spark_context
    if sc is not _owner:
        for memo in (_pool, _seams, _exprs, _plans):
            memo.clear()
        _owner = sc


def _admit(memo: OrderedDict, key: Hashable, cap: int) -> list:
    """Mark ``key`` most recently used; pop and return the values beyond
    ``cap``, least recently used first."""
    memo.move_to_end(key)
    return [memo.popitem(last=False)[1] for _ in range(len(memo) - cap)]


def _unpersist(df: DataFrame) -> None:
    try:
        df.unpersist()
    except Exception:
        pass


def scratch_persist(df: DataFrame, level=None) -> DataFrame:
    """Persist a pipeline intermediate with a BOUNDED lifetime.

    Spark's CacheManager serves cached data to any semantically-equal plan,
    so re-running the same pipeline (a bench rep, a user retry) hits the
    warm cache without any plumbing.  What Spark does NOT do is release
    entries: a bare ``.persist()`` with no ``.unpersist()`` leaks blocks for
    the session lifetime.  The pool keeps the last :data:`_POOL_CAP`
    distinct intermediates alive and unpersists the least recently used
    beyond that.  (A per-result ``weakref.finalize`` was tried first and
    dropped: refcount-triggered unpersist fires the moment a composite
    operator's intermediate goes out of scope, forcing every re-run cold.)
    """
    _bind()
    df = df.persist(level or StorageLevel.MEMORY_AND_DISK)
    try:
        h = df._jdf.queryExecution().analyzed().semanticHash()
    except Exception:
        # plan not hashable (e.g. Spark Connect: no _jdf) — a unique key
        # keeps the cap on the footprint; only equal-plan reuse is lost
        h = ("nohash", uuid.uuid4().hex)
    _pool[h] = df
    for old in _admit(_pool, h, _POOL_CAP):
        _unpersist(old)
    return df


def seam_lookup(tag: str, df: DataFrame, extras: tuple = ()):
    """Return ``(key, analyzed_plan, memoized_result_or_None)`` for an
    eager seam over ``df``.

    A ``localCheckpoint`` materializes into a fresh RDD on every call, and
    an iterative fixpoint runs its jobs at construction time, so the
    CacheManager cannot serve a re-constructed eager seam — and every plan
    built downstream of a fresh checkpoint is rooted at a new RDD id,
    defeating the cache for the rest of the pipeline.  This memo extends
    the CacheManager contract to eager seams: bucket by ``semanticHash``,
    confirm with an exact ``sameResult`` comparison, serve the already
    materialized result.

    The key also carries the plan's input files: a parquet path appended
    to since the memoized read re-reads as a ``sameResult``-equal plan,
    but lists more files, so it misses and recomputes.

    ``key``/``analyzed_plan`` are opaque tokens for :func:`seam_put`; both
    are None when the plan is not introspectable (Spark Connect).
    """
    _bind()
    try:
        plan = df._jdf.queryExecution().analyzed()
        key = (tag, plan.semanticHash(), tuple(sorted(df.inputFiles())), *extras)
    except Exception:
        return None, None, None
    for old_plan, out in _seams.get(key, ()):
        if old_plan.sameResult(plan):
            _seams.move_to_end(key)
            return key, plan, out
    return key, plan, None


def seam_put(key, plan, out: DataFrame) -> None:
    if key is None:
        return
    _seams.setdefault(key, []).append((plan, out))
    _admit(_seams, key, _SEAM_CAP)


def scratch_checkpoint(df: DataFrame) -> DataFrame:
    """Eager ``localCheckpoint`` with the pool's reuse contract: one
    materialization per distinct (semantically-equal) input plan per
    session.  Re-constructions get the SAME checkpointed DataFrame back,
    so their downstream plans stay semantically equal to the previous
    construction's and keep hitting the scratch-persist caches."""
    key, plan, hit = seam_lookup("ckpt", df)
    if hit is not None:
        return hit
    out = df.localCheckpoint()
    seam_put(key, plan, out)
    return out


def expr_cached(sql: str) -> Column:
    """``F.expr`` with a memo of the parsed Column.

    The ANN/SemDeDup family inlines its quantizers and codebooks as SQL
    literal text, so a single query construction ships and PARSES tens of
    KB of SQL — measured ~1.3 s of driver time per ``ivfpq_residuals``
    construction, paid again on every re-construction of the same plan.
    A parsed Column is an immutable unresolved-expression handle, reusable
    across any number of plans in the same JVM.  Bounded at
    :data:`_EXPR_CAP` entries, reset wholesale: the strings are re-derivable.
    """
    _bind()
    col = _exprs.get(sql)
    if col is None:
        if len(_exprs) >= _EXPR_CAP:
            _exprs.clear()
        col = _exprs[sql] = F.expr(sql)
    return col


def plan_memo(key: Hashable, make: Callable[[], object]):
    """``make()``'s value, computed once per key per session: for values
    that depend only on plans and file metadata, never on cached data."""
    _bind()
    if key not in _plans:
        _plans[key] = make()
    return _plans[key]


def reset_scratch() -> None:
    """Release the pool and the seam memo.

    They exist so that ONE query's re-constructions (warm bench reps,
    composed capstones sharing a sub-pipeline) reuse work inside a
    session.  Shared across QUERIES they make a measurement
    unattributable: a later query's first rep either rides an earlier
    query's cache or pays its eviction churn.  Measurement harnesses call
    this between queries so every first rep is the query's own cold cost.

    Persisted blocks are unpersisted; checkpoint blocks are released by
    the ContextCleaner once the memo drops the last reference
    (Dataset.unpersist does not free localCheckpoint RDDs).  The plan-only
    memos are kept: clearing them would re-pay expression parsing and
    parquet footer reads on every query.
    """
    for df in _pool.values():
        _unpersist(df)
    _pool.clear()
    _seams.clear()
