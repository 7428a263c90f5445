"""Bounded persist slots for serving helpers.

Serving functions persist an intermediate that several returned frames
share (one scan feeding stats + histogram + listings).  The frames are
lazy, so the function can't unpersist after "the" action — but never
releasing means a long-lived session (driver correctness runs, bench
loops, a REPL) accumulates one orphaned cache per call (ADVICE r1).

``persist_slot`` keeps at most ONE live cache per named slot: the next
call through the same slot releases the previous handle.  If a caller
still holds frames over an evicted handle, Spark silently recomputes —
a perf cost only, never a correctness one (these persists are cache
hints, not lineage cuts; the lineage-cut persist in ``ml/dedup`` keeps
its own reuse-keyed slot for exactly that reason).
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame

_SLOTS: dict[str, DataFrame] = {}

#: extra teardown hooks run by :func:`release_all` — for module-local
#: caches that cannot live in ``_SLOTS`` (e.g. ``ml/dedup``'s
#: lineage-cut persist, which is reuse-keyed rather than slot-keyed).
#: Registering here guarantees no cache outlives a ``release_all()``
#: boundary, so nothing persists between bench runs.
_RELEASE_HOOKS: list[Callable[[], None]] = []


def register_release_hook(fn: Callable[[], None]) -> None:
    if fn not in _RELEASE_HOOKS:
        _RELEASE_HOOKS.append(fn)


#: Analyzed-DataFrame memo for ACTION-FREE query constructions, keyed on
#: (application id, sf_dir, key name) — the catalog._TABLE_CACHE
#: pattern lifted to whole queries.  Eligible keys
#: (plans/registry.MEMO_SAFE_KEYS) run ZERO Spark jobs at construction
#: (asserted by tests/test_plan_memo.py), so the memo caches a PLAN and
#: nothing else: no persisted data, no collected values — every
#: execution still computes from parquet, which is why release_all()
#: deliberately does NOT clear it.  Motivation (r11 VERDICT item 3):
#: several keys spend 1-5 s per call on Catalyst analysis of large
#: deterministic expression trees (q_random_projection ~4.6 s,
#: q_experiment_stats ~1.8 s); re-planning an identical tree per call is
#: pure driver waste at any scale.
_PLAN_MEMO: dict[tuple, DataFrame] = {}


def memoize_plan(name: str, fn):
    """Wrap an action-free ``(spark, sf_dir) -> DataFrame`` query
    builder with the analyzed-plan memo."""

    def wrapped(spark, sf_dir):
        key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir), name)
        df = _PLAN_MEMO.get(key)
        if df is None:
            df = fn(spark, sf_dir)
            _PLAN_MEMO[key] = df
        return df

    wrapped.__name__ = getattr(fn, "__name__", name)
    wrapped.__doc__ = fn.__doc__
    wrapped.__wrapped__ = fn
    return wrapped


def persist_slot(df: DataFrame, slot: str) -> DataFrame:
    prev = _SLOTS.get(slot)
    if prev is not None:
        prev.unpersist()
    out = df.persist()
    _SLOTS[slot] = out
    return out


def release_all() -> None:
    """Drop every slot's cache (e.g. at session teardown)."""
    for df in _SLOTS.values():
        df.unpersist()
    _SLOTS.clear()
    for fn in _RELEASE_HOOKS:
        fn()
