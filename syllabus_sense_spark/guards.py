"""The one venue table: every size guard that sends work to the driver
or the cluster, or a join side to a broadcast or a shuffle, reads its
threshold here and records the side it took.

``decide(name, size)`` is True on the small side (``size <=
LIMITS[name]``: driver arithmetic, or a broadcast hint) and counts
``(name, side)`` in ``TAKEN``, the way ``memo.BUILDS`` counts builds.
The ``broadcast_*`` guards decide on a size. The ``driver_*`` guards go
through ``fetch(name, df)``, which collects at most ``LIMITS[name] + 1``
rows in one Spark job and returns the frame, or None when it is over
the limit, so a driver venue never counts and then collects. A fetch
kept in a session memo counts ``TAKEN`` once per session, on the memo
miss. To force the large side, lower the threshold and drop the session
memo (some guarded sizes and fetched rows, and artifacts built under a
decision, are memoized); a limit of -1 fetches no rows::

    monkeypatch.setitem(guards.LIMITS, "driver_edges", -1)
    memo.clear()

``TAKEN`` is a decision counter, not a session memo: it holds no Spark
data and nothing to release, so the module-level memo law
(``tests/test_artifact_laws.py``) does not flag it. Thresholds that pick
no venue stay with their code: ``ext_graph._UF_MAX_NODES`` flushes
union-find state inside Python workers, and ``ext_dedup.MINHASH_MAX_BUCKET``
drops mega-buckets by design.
"""

from __future__ import annotations

from collections import Counter
from typing import TYPE_CHECKING

if TYPE_CHECKING:
    import pandas as pd
    from pyspark.sql import DataFrame

LIMITS: dict[str, int] = {
    # connected_components and LPA: at or below this many edges the
    # dup/match graph or co-purchase adjacency is metadata-sized (a few
    # MB collected) and resolves on the driver with zero per-round
    # jobs. The sf1 match graph (15.7M edges) stays distributed.
    "driver_edges": 65536,
    # connected_components label side: two longs per row plus hash-
    # relation overhead keeps 20M rows near 1 GB, inside Spark's 8 GB
    # broadcast ceiling; above it the loop degrades to shuffle joins
    # instead of failing the job.
    "broadcast_labels": 20_000_000,
    # PageRank and BFS node tables: PageRank's unrolled job holds ~5
    # node-sized relations live, so 2M rows × ~100 B × 5 ≈ 1 GB. At
    # sf30 (~4.8M nodes) unguarded broadcasts OOM'd a 28 GB heap; at
    # sf10 (1.6M nodes) they stay.
    "broadcast_nodes": 2_000_000,
    # BPE merges: below this many word TYPES the merge loop runs as
    # driver arithmetic (2·N_MERGES distributed jobs over a tiny table
    # collapse to zero); Heap's-law vocabulary growth at corpus scale
    # takes the checkpointed distributed loop.
    "driver_types": 65536,
}

TAKEN: Counter[tuple[str, str]] = Counter()  # (guard, side) per decision

# the large side of each guard kind; the small side is the kind itself
_LARGE = {"driver": "cluster", "broadcast": "shuffle"}


def decide(name: str, size: int) -> bool:
    """True when ``size`` fits guard ``name``; counts the side taken."""
    small = size <= LIMITS[name]
    kind = name.partition("_")[0]
    TAKEN[name, kind if small else _LARGE[kind]] += 1
    return small


def fetch(name: str, df: DataFrame) -> pd.DataFrame | None:
    """``df`` as a pandas frame when it fits guard ``name``, else None;
    counts the side taken. ``toPandas`` keeps the bounded collect one
    job: ``collect()`` on a limit scans 1, then 4, then the rest of the
    partitions, one job each."""
    pdf = df.limit(LIMITS[name] + 1).toPandas()
    return pdf if decide(name, len(pdf)) else None
