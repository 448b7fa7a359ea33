"""The one per-session memo: everything the engine reuses inside a
Spark application lives in one store.

Entries are keyed ``(applicationId, abspath(sf_dir), kind)``:

- table loads (``tables.load``, kind ``table_<name>``);
- session artifacts — corpus-pure index DataFrames (README
  "Session-artifact doctrine");
- collected driver values over those indexes (BPE vocabulary, LPA
  adjacency rows, scorer query set, the trade node count, corpus
  totals);
- rotated checkpoint generations, keyed ``(applicationId, "", site)``
  — one live generation per call site (``rotate_checkpoint``).

A miss counts one build of its kind in ``BUILDS``, so tests prove
sharing and audits prove rebuilds. ``clear()`` releases and drops
everything. One SparkContext runs per process, so entries of any
other applicationId are dead: they are released best-effort and
dropped the next time the store is touched.
"""

from __future__ import annotations

import os
from collections import Counter

from pyspark.sql import DataFrame

_STORE: dict[tuple[str, str, str], object] = {}
BUILDS: Counter[str] = Counter()  # cache misses per kind


def release_checkpoint(df) -> None:
    """Free a localCheckpoint-ed DataFrame's storage blocks
    (best-effort, never fatal). localCheckpoint persists its RDD at
    MEMORY_AND_DISK and nothing unpersists it until the JVM-side RDD
    is garbage-collected, so in a long-lived session every iterative
    query's superseded per-round checkpoints accumulate until storage
    exhausts (observed: an 8-heavy-query sf10 probe session died on
    exactly this). Call on a checkpoint the moment its successor is
    materialized, and on loop-scoped inputs when the final result no
    longer reads them. No-op for non-checkpoint plans.

    PRECONDITION — no live readers: a localCheckpoint RDD's lineage is
    TRUNCATED, so any still-unmaterialized DataFrame over the released
    checkpoint does not recompute — its next action fails hard with
    "checkpoint block not found". Release only after every downstream
    consumer has run its action (`iterate` materializes the successor
    round first; `rotate_checkpoint` defers release to the next
    invocation for exactly this reason)."""
    if df is None:
        return
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getName().endswith("LogicalRDD"):
            import logging

            logging.getLogger(__name__).debug(
                "release_checkpoint: unpersisting RDD %s (any live "
                "reader of this checkpoint now fails on its next action)",
                plan.rdd().id(),
            )
            plan.rdd().unpersist(False)
    except Exception:  # noqa: BLE001 — release is advisory
        pass


def iterate(state, step, rounds, until=None):
    """The one checkpointed round loop: ``state =
    step(state).localCheckpoint()`` up to ``rounds`` times, stopping
    after the first round where ``until(state)`` holds. Each round is
    materialized before the round it replaces is released; the
    caller's input is never released (a session artifact, or the
    caller's to free). Returns the last round, which the caller
    rotates when it backs the result (``rotate_checkpoint``)."""
    first = state
    for _ in range(rounds):
        prev, state = state, step(state).localCheckpoint()
        if prev is not first:
            release_checkpoint(prev)
        if until is not None and until(state):
            break
    return state


def _release(value) -> None:
    """Unpersist and free the checkpoint blocks of every DataFrame in
    an entry (a value, or a checkpoint generation's list)."""
    for df in value if isinstance(value, list) else (value,):
        if isinstance(df, DataFrame):
            try:
                df.unpersist()
            except Exception:  # noqa: BLE001 — a dead session is fine here
                pass
            release_checkpoint(df)


def _prune(app: str) -> None:
    """Release and drop every entry left by another (dead) application."""
    for key in [k for k in _STORE if k[0] != app]:
        _release(_STORE.pop(key))


def session_memo(spark, sf_dir: str, kind: str, build, persist: bool = False):
    """``build()`` once per (application, sf_dir, kind), then the memo.

    ``persist=True`` persists a DataFrame result unless the plan-audit
    mode is on (the environment flag read below, set by
    ``tools/plan_audit.py``): a persist() registers a cache entry
    whose canonicalized plan substitutes into OTHER queries' matching
    subplans (aliases are stripped in canonicalization), turning their
    stats-based broadcast decisions into unknown-size SMJs and making
    the audit order-dependent."""
    app = spark.sparkContext.applicationId
    _prune(app)
    key = (app, os.path.abspath(sf_dir), kind)
    if key not in _STORE:
        BUILDS[kind] += 1
        value = build()
        if persist and not os.environ.get("SPARK_GRAFT_NO_PERSIST"):
            value = value.persist()
        _STORE[key] = value
    return _STORE[key]


def session_artifact(spark, sf_dir: str, kind: str, build, persist: bool = True):
    """A session artifact: a corpus-pure index DataFrame that dedup /
    ANN / graph jobs PROBE instead of re-deriving per query.
    ``persist=False`` for builders whose result is already
    materialized (localCheckpoint)."""
    return session_memo(spark, sf_dir, kind, build, persist)


def clear() -> None:
    """Release and drop every entry so the next probe rebuilds from
    scratch. Audits that must prove a re-execution property use this —
    e.g. the partition-count invariance audit, where an artifact (or a
    driver value collected from one) built under the OLD shuffle width
    would otherwise be silently reused by the second run, weakening
    PASS to "probe of a stale index matched". Same precondition as
    ``release_checkpoint``: no live readers (callers clear only between
    from-scratch runs)."""
    for value in _STORE.values():
        _release(value)
    _STORE.clear()


def rotate_checkpoint(key: str, *dfs):
    """Register ``dfs`` (localCheckpoint-backed DataFrames produced by
    THIS invocation of call site ``key``) as the site's live
    generation, releasing the previous generation's blocks.

    Query functions whose RESULT is backed by a per-invocation
    localCheckpoint cannot release it before returning (the caller's
    action still reads it), so the NEXT invocation of the same site
    releases it. Bounds a long session at one live checkpoint per site
    instead of one per call (the sf10 session-death class: a 19-query
    probe session accumulated dead band-table checkpoints until
    storage exhausted).

    PRECONDITION — same as release_checkpoint, shifted one call: by
    the time a site is invoked again, every consumer of its PREVIOUS
    result must have materialized (the driver/bench/oracle harnesses
    collect each query's result before running the next; a caller that
    holds invocation N's lazy result across invocation N+1 fails hard
    on its next action). Returns the single df (or the tuple) for
    inline wrapping.

    Generations are keyed by applicationId like every entry, so after
    a session restart in the same process the first invocation does
    not "rotate" against a dead session's handles."""
    try:
        app = dfs[0].sparkSession.sparkContext.applicationId
    except Exception:  # noqa: BLE001 — a dying session still rotates
        app = ""
    _prune(app)
    site = (app, "", key)
    _release(_STORE.pop(site, []))
    _STORE[site] = list(dfs)
    return dfs[0] if len(dfs) == 1 else dfs
