"""Cross-engine numeric discipline.

Double summation is order-dependent, and Spark's reduction order is
nondeterministic across runs — so any query whose output came from
``SUM(double)`` could never hash-match a DuckDB oracle reliably. The
discipline used by every registered query:

1. cast 2-dp source doubles (money, quantities, rates) to
   ``DECIMAL(18,2)`` — exact, identical in both engines;
2. aggregate in decimal — exact, order-independent;
3. cast the final aggregate to double / do a single double division —
   single IEEE op on identical inputs → bit-identical outputs.

Multiplication chains keep factors narrow (rates as ``DECIMAL(3,2)``)
so products stay within 38 digits — no precision-loss divergence.
"""

from __future__ import annotations

import threading

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..memo import iterate, release_checkpoint, rotate_checkpoint  # noqa: F401 — re-exported


def epoch_us(col: str | Column) -> Column:
    """Exact integer microseconds since epoch, NTZ-safe.

    The harness parquet stores ``timestamp[us]`` without a timezone
    annotation, which Spark 4 reads as TIMESTAMP_NTZ — a type
    ``unix_micros`` rejects. The session timezone is pinned to UTC
    (session.py RUNTIME_CONF), so casting NTZ → TIMESTAMP is
    value-preserving and the result matches DuckDB ``epoch_us``.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.unix_micros(c.cast("timestamp"))


def dec2(col: str | Column) -> Column:
    """Exact 2-dp decimal view of a money/quantity/rate column."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("decimal(18,2)")


def rate(col: str | Column, plus: bool = False) -> Column:
    """``1 - x`` (or ``1 + x``) as a narrow exact decimal factor."""
    c = dec2(col)
    expr = (F.lit(1) + c) if plus else (F.lit(1) - c)
    return expr.cast("decimal(3,2)")


def dsum(col: Column) -> Column:
    """Exact decimal sum surfaced as double (bit-stable)."""
    return F.sum(col).cast("double")


# --------------------------------------------------------------------------
# Scaled-long exact aggregation — the fast twin of dsum.
#
# Spark's SUM over any DecimalType widens the buffer by 10 digits
# (sum over decimal(18,2) buffers decimal(28,2)), which exceeds the
# long-backed fast path: every row pays a boxed BigDecimal add, and
# the double→decimal input cast itself goes through Double.toString.
# Measured on q1 at sf0.1: 1.29 s of a 1.45 s query was this per-row
# decimal machinery; the same aggregation over scaled longs runs in
# 0.36 s with bit-identical output (guide §2.3 — shuffle/aggregate
# narrower types).
#
# The replacement keeps EXACT decimal semantics end to end:
#  * ``cents(c)`` extracts the scaled-long (2 dp) value of
#    ``dec2(c)`` using double arithmetic only. Equivalence law:
#    cents(c) == (dec2(c) * 100).cast("long") — pinned by
#    tests/test_scaled_long_agg.py both on adversarial doubles and on
#    every money column of the harness tables (both casts round
#    half-up on the shortest-roundtrip decimal repr; they can only
#    diverge for values whose repr carries >2 fractional digits AND
#    sits within one double ulp of a half-cent boundary — no generated
#    money/rate/quantity column does, and the law test would catch a
#    future harness change).
#  * products of scaled longs are exact integers (cents × hundredths
#    = 10^-4 units, ×hundredths again = 10^-6 units; |x| ≤ ~4e13 —
#    far from long overflow).
#  * the sum splits each value into (hi = x >> 23, lo = x & (2^23-1))
#    and sums the halves separately — two plain long sums, overflow-
#    safe to ~10^12 rows per group at charge magnitudes (hi ≤ 4.8e6,
#    lo < 8.4e6 per row vs the 9.2e18 long ceiling), i.e. beyond the
#    100 TB tier by orders of magnitude.
#  * per GROUP (not per row) the exact sum is reassembled in decimal
#    and cast to the very DecimalType Spark's decimal SUM would have
#    produced — min(38, prec+10) at the same scale — then to double:
#    identical value, identical type, identical bits.
# --------------------------------------------------------------------------

_SPLIT_SHIFT = 23
_SPLIT_MASK = (1 << _SPLIT_SHIFT) - 1


def cents(col: str | Column) -> Column:
    """Exact scaled-long (2 dp) twin of ``dec2(col)`` — see block
    comment above for the equivalence law."""
    c = F.col(col) if isinstance(col, str) else col
    a = F.floor(F.abs(c) * 100 + F.lit(0.5)).cast("long")
    return F.when(c < 0, -a).otherwise(a)


def hundredths(col: str | Column, plus: bool = False) -> Column:
    """Scaled-long (2 dp) twin of ``rate(col, plus)`` — 100·(1∓x)."""
    c = cents(col)
    return (F.lit(100).cast("long") + c) if plus else (F.lit(100).cast("long") - c)


def xsum_total(unscaled: Column, over=None) -> Column:
    """Exact integer total of a scaled-long column as decimal(36,0):
    two overflow-safe long sums (hi/lo split), reassembled. ``over``
    applies both sums over a WindowSpec (the running/frame variant)."""
    hi = F.shiftright(unscaled, _SPLIT_SHIFT)
    lo = unscaled.bitwiseAND(F.lit(_SPLIT_MASK))
    shi, slo = F.sum(hi), F.sum(lo)
    if over is not None:
        shi, slo = shi.over(over), slo.over(over)
    return (
        shi.cast("decimal(27,0)")
        * F.lit(1 << _SPLIT_SHIFT).cast("decimal(7,0)")
        + slo.cast("decimal(27,0)")
    )


def xsum_dec(unscaled: Column, scale: int, prec: int, over=None) -> Column:
    """Exact twin of ``F.sum(expr)`` (still decimal-typed) where
    ``expr`` is a decimal expression of DecimalType(prec, scale) and
    ``unscaled`` is the scaled-long 10^scale·expr. The result is cast
    to the very DecimalType Spark's decimal SUM produces —
    (min(38, prec+10), scale) — so downstream decimal arithmetic and
    casts behave identically. Type table used at call sites:
    dec2 → (2, 18); dec2·rate → (4, 22); dec2·rate·rate → (6, 26);
    dec2·dec2 → (4, 37)."""
    import decimal as _d

    total = xsum_total(unscaled, over=over)
    sum_prec = min(38, prec + 10)
    val = total * F.lit(_d.Decimal(1).scaleb(-scale))
    return val.cast(f"decimal({sum_prec},{scale})")


def xsum(unscaled: Column, scale: int, prec: int, over=None) -> Column:
    """Exact twin of ``dsum(expr)`` (double output) — see xsum_dec."""
    return xsum_dec(unscaled, scale, prec, over=over).cast("double")


def xavg(unscaled: Column, scale: int, prec: int) -> Column:
    """Exact sum / count in double — one IEEE division, bit-stable
    (same parameters as xsum)."""
    return xsum(unscaled, scale, prec) / F.count(F.lit(1))


def scaled_to_double(total: Column, scale: int, prec: int) -> Column:
    """Reassemble an already-summed scaled-long total (a LONG column,
    e.g. a materialized per-day cents total or a frame-sum of such
    totals) into the double a decimal expression of
    DecimalType(prec, scale) would cast to — identical value, type,
    bits."""
    import decimal as _d

    val = total.cast("decimal(36,0)") * F.lit(_d.Decimal(1).scaleb(-scale))
    return val.cast(f"decimal({prec},{scale})").cast("double")


_SCRATCH_ROOT: list[str] = []  # memo: this process's swept scratch root
_SCRATCH_LOCK = threading.Lock()


def _proc_start_token(pid: int) -> str | None:
    """Kernel start time of ``pid`` (clock ticks since boot,
    /proc/<pid>/stat field 22) — a token that distinguishes a live
    owner from an unrelated process that recycled its pid. Returns
    None when /proc is unavailable (non-Linux) or the pid is gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            stat = f.read()
        # comm (field 2) may contain spaces/parens; fields after the
        # LAST ')' are well-formed. starttime is field 22 overall =
        # index 19 of the post-comm tail.
        return stat.rsplit(b")", 1)[1].split()[19].decode()
    except (OSError, IndexError):
        return None


def scratch_dir(prefix: str) -> str:
    """``tempfile.mkdtemp`` with bounded lifetime — the temp-space
    discipline for every query that materializes a sink table,
    stream output, or checkpoint.

    A bare ``mkdtemp`` per query run leaks the directory forever:
    repeated harness/bench runs at sf1 accumulated unbounded parquet
    plus checkpoint state in /tmp (round-10 ADVICE, the static-enrich
    drain writes the full enriched corpus per run). This helper keeps
    mkdtemp's concurrency safety (unique dir per call — concurrent
    drivers can never collide) but scopes every dir under a per-PROCESS
    root that is

    - removed at interpreter exit (atexit), and
    - swept by the NEXT process if this one was SIGKILLed: on first
      use, sibling roots whose owner no longer runs are deleted.

    Owner liveness keys on (pid, kernel start time), not pid alone: a
    recycled pid owned by an unrelated live process would otherwise
    make a dead sibling's debris immortal (round-11 ADVICE). The
    start-time token is embedded in the root's directory name, so a
    name whose pid is alive but whose token differs from the CURRENT
    /proc/<pid>/stat start time is provably debris. Init is guarded
    by a lock so two threads racing the first call cannot both sweep
    and double-register the atexit hook.

    So accumulation is bounded by one process lifetime, crash debris
    by one generation.
    """
    import atexit
    import os
    import shutil
    import tempfile

    base = tempfile.gettempdir()
    with _SCRATCH_LOCK:
        if not _SCRATCH_ROOT:
            for name in os.listdir(base):
                if not name.startswith("sss-scratch-"):
                    continue
                parts = name.split("-")
                # current shape: sss-scratch-<pid>-<starttok>;
                # legacy shape (pre round-12): sss-scratch-<pid>
                try:
                    pid = int(parts[2])
                except (IndexError, ValueError):
                    continue
                token = parts[3] if len(parts) > 3 else None
                live = _proc_start_token(pid)
                if live is None:
                    try:
                        os.kill(pid, 0)
                    except ProcessLookupError:
                        pass  # dead -> sweep below
                    except OSError:
                        continue  # EPERM: alive but not ours; no /proc info
                    else:
                        continue  # alive (no token to compare)
                elif token is not None and live != token:
                    pass  # pid recycled by a different process -> debris
                elif token is None:
                    continue  # legacy name, pid alive -> leave it
                else:
                    continue  # alive and token matches -> owner running
                shutil.rmtree(os.path.join(base, name), ignore_errors=True)
            me = os.getpid()
            mytok = _proc_start_token(me) or "0"
            root = os.path.join(base, f"sss-scratch-{me}-{mytok}")
            os.makedirs(root, exist_ok=True)
            atexit.register(shutil.rmtree, root, ignore_errors=True)
            _SCRATCH_ROOT.append(root)
    return tempfile.mkdtemp(prefix=prefix, dir=_SCRATCH_ROOT[0])


def ser_checkpoint(df):
    """localCheckpoint with SERIALIZED MEMORY_AND_DISK storage — the
    posture for corpus-scale tables (band/kept tables, token tables,
    postings, pair streams, fat-vector cell tables).

    The default localCheckpoint level stores DESERIALIZED rows: at
    sf30 a ~24M-row band table is several GB of object graph, and any
    block evicted to disk re-inflates on every later read
    (BlockManager.maybeCacheDiskValuesInMemory) across all 32 task
    threads at once — the heap-death signature both sf30 probe
    sessions hit. Serialized blocks are a fraction of the size, evict
    and re-read as plain byte buffers, and cost one cheap
    UnsafeRow-level (de)serialization pass. Node-sized loop state
    keeps the default level — its working set is small and the
    deserialized read path is marginally faster there.

    Python's StorageLevel.MEMORY_AND_DISK is the serialized variant
    (deserialized=False); the JVM default is MEMORY_AND_DISK_DESER.
    """
    from pyspark.storagelevel import StorageLevel

    return df.localCheckpoint(eager=True, storageLevel=StorageLevel.MEMORY_AND_DISK)
