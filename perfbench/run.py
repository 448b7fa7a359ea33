"""Repo benchmark: run one workload in a fresh process and print its metrics.

    python3 perfbench/run.py --workload docx_questions --seed 1 --seconds 20 --trace 0

Run it from the root of a checkout. Workloads (see README.md):
``docx_questions``, ``curate_jsonl`` and ``registry_sf0.1``. One
client drives a closed loop: an op starts only after the previous one
finished. The registry repeats its pass in three rounds, each with cold
session memos, and reports every op's mean over them. With
``--trace 0`` the last line of stdout is a JSON object
with the end-to-end metrics; with ``--trace 1`` it carries the
per-layer metrics of a traced run instead.

Everything the run writes lives under ``.bench_build/perfbench/`` in
the checkout; the per-run directory is removed on exit. The fixed
registry tables and the oracle row counts are built once and kept.
"""

from __future__ import annotations

import argparse
import hashlib
import importlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import workloads  # noqa: E402
from spark_status import GroupStats, SparkStatus, busy_ms, cpu_count, vm_hwm_mb  # noqa: E402

# A run starts no op this long after it began, so on a much slower host
# it ends soon after, with fewer ops attempted, instead of running on.
DEADLINE_S = 150.0
DRIVER_MEMORY = "3g"
# With the JVM's default initial heap, G1's adaptive growth alone made
# peak_rss_mb spread 22-33% between seeds; from a 2 GB start it moves
# only when a run needs more heap than that, or more off-heap memory.
INITIAL_HEAP = "2g"
MB = 2**20

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "items_per_s": "1/s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "ok_ratio": "ratio",
    "peak_rss_mb": "MB",
    "shuffle_write_mb": "MB",
}

PER_LAYER = {
    "session.import_s": "s",
    "session.start_s": "s",
    "session.warm_s": "s",
    "sources.docx.scan_s": "s",
    "sources.docx.elements": "count",
    "sources.jsonl.read_s": "s",
    "sources.jsonl.quarantined": "count",
    "tables.load_s": "s",
    "operators.sessionize.s": "s",
    "operators.sessionize.topics": "count",
    "operators.batching.s": "s",
    "operators.packing.s": "s",
    "operators.packing.fill_ratio": "ratio",
    "pipeline.extract.s": "s",
    "pipeline.extract.subtopics": "count",
    "pipeline.plan.s": "s",
    "pipeline.plan.rows": "count",
    "pipeline.generate.s": "s",
    "pipeline.generate.valid_ratio": "ratio",
    "sinks.write_s": "s",
    "sinks.files": "count",
    "sinks.bytes_per_row": "B",
    "sinks.shard_skew": "ratio",
    **{
        f"queries.{fam}.{m}": u
        for fam in workloads.FAMILIES
        for m, u in (("construct_s", "s"), ("eager_jobs", "count"),
                     ("execute_s", "s"), ("shuffle_mb", "MB"))
    },
    "streaming.drain_s": "s",
    "streaming.batches": "count",
    "streaming.add_batch_ms": "ms",
    "streaming.planning_ms": "ms",
    "streaming.commit_ms": "ms",
    "streaming.state_rows": "count",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.tasks_failed": "count",
    "spark.spill_mb": "MB",
    "spark.executor_run_s": "s",
    "spark.core_util": "ratio",
    "spark.driver_only_s": "s",
    "trace.wall_s": "s",
    "trace.overhead_s": "s",
}


class Layers(dict):
    def add(self, name: str, value: float) -> None:
        self[name] = self.get(name, 0) + value


class Context:
    def __init__(self, root: str, seed: int):
        self.seed = seed
        self.build_dir = os.path.join(root, ".bench_build", "perfbench")
        self.work = os.path.join(self.build_dir, f"run-{os.getpid()}")
        self.inputs = os.path.join(self.work, "in")
        self.outputs = os.path.join(self.work, "out")
        # Keyed by the generator's source, so an edited generator rebuilds.
        with open(os.path.join(HERE, "gen_tables.py"), "rb") as fh:
            tag = hashlib.sha1(fh.read()).hexdigest()[:12]
        self.tables_dir = os.path.join(self.build_dir, f"sf0.1-{tag}")
        self.layers = Layers()
        self.sinks: list[tuple[int, int, int, float]] = []
        self.spark = None
        self.status = None
        for d in (self.inputs, self.outputs, os.path.join(self.work, "tmp")):
            os.makedirs(d, exist_ok=True)

    def add_sink(self, path: str, rows: int) -> None:
        files, size, skew = workloads.sink_layout(path)
        self.sinks.append((files, size, rows, skew))


def set_environment(root: str, ctx: Context) -> None:
    """Process environment the engine's JVM and Python workers inherit."""
    tmp = os.path.join(ctx.work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(cpu_count())
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_*.
    os.environ["SPARK_SUBMIT_OPTS"] = (
        f"-Djava.io.tmpdir={tmp} -Xms{INITIAL_HEAP} -XX:-UsePerfData"
    )
    sys.path.insert(0, root)
    os.chdir(ctx.work)  # spark-warehouse/ and metastore files land here


def tail(latencies: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    ops beyond it. Below 20 ops that percentile would fall under the
    median, so the slowest op stands in for the tail (p100)."""
    xs = sorted(latencies)
    n = len(xs)
    if n < 20:
        return xs[-1], 100.0
    return xs[n - 11], 100.0 * (n - 10) / n


def stop_spark(spark) -> None:
    """Stop the session and wait for the gateway JVM (and with it the
    Python workers it forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


@dataclass
class Pass:
    latencies: dict = field(default_factory=dict)  # op key -> seconds, one per round
    items: dict = field(default_factory=dict)  # op key -> items
    attempted: int = 0
    ok: int = 0
    failed: int = 0
    stats: GroupStats = field(default_factory=GroupStats)
    driver_only_ms: float = 0.0
    trace_s: float = 0.0


def set_up(wl, ctx: Context, trace: bool):
    """Import, start and warm the engine; return (setup_s, listener)."""
    t0 = time.perf_counter()
    for mod in wl.MODULES:
        importlib.import_module(mod)
    wl.import_extra()
    from syllabus_sense_spark.session import get_spark

    t1 = time.perf_counter()
    ctx.spark = get_spark()
    ctx.spark.sparkContext.setLogLevel("ERROR")
    t2 = time.perf_counter()
    ctx.status = SparkStatus(ctx.spark)
    listener = None
    if trace:
        from spark_status import drain_listener

        listener = drain_listener()
        ctx.spark.streams.addListener(listener)
    for name, value in wl.warm(ctx).items():
        ctx.layers.add(name, value)
    t3 = time.perf_counter()
    ctx.layers.update({"session.import_s": t1 - t0, "session.start_s": t2 - t1,
                       "session.warm_s": t3 - t2})
    return t3 - t0, listener


def run_pass(wl, ctx: Context, ops: list, trace: bool, t_start: float) -> Pass:
    """The closed loop: time each op, then read its Spark counters, check
    its output and, in a traced run, split it into layers."""
    p = Pass()
    current = 0
    for op in ops:
        if time.perf_counter() - t_start > DEADLINE_S:
            print(f"deadline: {len(ops) - p.attempted} ops not started", file=sys.stderr)
            break
        if op.round != current:
            wl.start_round(ctx, op.round)
            current = op.round
        p.attempted += 1
        ctx.status.group(op.name)
        w0 = time.time()
        t0 = time.perf_counter()
        try:
            wl.run_op(ctx, op)
        except Exception:  # noqa: BLE001 — a failed op is counted, not fatal
            traceback.print_exc()
            p.failed += 1
            continue
        dt = time.perf_counter() - t0
        w1 = time.time()
        p.latencies.setdefault(op.key, []).append(dt)
        p.items[op.key] = op.items
        op.stats = {g: ctx.status.stats(g) for g in wl.op_groups(op)}
        st = GroupStats()
        for g in op.stats.values():
            st.add(g)
        p.stats.add(st)
        p.driver_only_ms += (w1 - w0) * 1000 - busy_ms(st.intervals, w0 * 1000, w1 * 1000)
        try:
            good = wl.check(ctx, op)
        except Exception:  # noqa: BLE001 — a crashing check is a failed check
            traceback.print_exc()
            good = False
        p.ok += good
        p.failed += not good
        print(f"op {op.name}: {dt:.3f} s, {'ok' if good else 'CHECK FAILED'}", file=sys.stderr)
        if trace:
            t1 = time.perf_counter()
            wl.trace_op(ctx, op)
            p.trace_s += time.perf_counter() - t1
    if not p.latencies:
        raise RuntimeError("no op completed")
    return p


def op_latencies(p: Pass) -> list[float]:
    """One latency per op: its mean over the rounds it ran in."""
    return [statistics.fmean(xs) for xs in p.latencies.values()]


def rounds(p: Pass) -> int:
    return max(len(xs) for xs in p.latencies.values())


def end_to_end(ctx: Context, p: Pass, setup_s: float) -> dict:
    lat = op_latencies(p)
    wall_s = sum(lat)
    return {
        "setup_s": setup_s,
        "wall_s": wall_s,
        "items_per_s": sum(p.items.values()) / wall_s,
        "op_p50_s": statistics.median(lat),
        "op_tail_s": tail(lat)[0],
        "ok_ratio": p.ok / p.attempted,
        "peak_rss_mb": vm_hwm_mb(ctx.status.jvm_pid()) + vm_hwm_mb(),
        "shuffle_write_mb": p.stats.shuffle_write_bytes / MB / rounds(p),
    }


# Per-layer values measured at set-up, and ratios; every other per-layer
# value is a sum over the run's ops, reported per round.
NOT_PER_ROUND = {
    "session.import_s", "session.start_s", "session.warm_s", "tables.load_s",
    "operators.packing.fill_ratio", "pipeline.generate.valid_ratio",
    "sinks.bytes_per_row", "sinks.shard_skew", "spark.core_util", "trace.wall_s",
}


def per_layer(ctx: Context, p: Pass, listener) -> dict:
    L = ctx.layers
    busy_s = sum(sum(xs) for xs in p.latencies.values())
    L.update({
        "spark.jobs": p.stats.jobs,
        "spark.tasks": p.stats.tasks,
        "spark.tasks_failed": p.stats.tasks_failed,
        "spark.spill_mb": p.stats.spill_bytes / MB,
        "spark.executor_run_s": p.stats.executor_run_ms / 1000,
        "spark.core_util": p.stats.executor_run_ms / 1000 / (busy_s * cpu_count()),
        "spark.driver_only_s": p.driver_only_ms / 1000,
        "trace.overhead_s": p.trace_s,
    })
    ctx.status.drain()
    L.update({
        "streaming.batches": listener.batches,
        "streaming.add_batch_ms": listener.add_batch_ms,
        "streaming.planning_ms": listener.planning_ms,
        "streaming.commit_ms": listener.commit_ms,
        "streaming.state_rows": listener.state_rows,
    })
    if ctx.sinks:
        files, size, rows, skews = zip(*ctx.sinks)
        L.update({
            "sinks.files": sum(files),
            "sinks.bytes_per_row": sum(size) / max(1, sum(rows)),
            "sinks.shard_skew": statistics.median(skews),
        })
    if L.get("pipeline.generate.rows"):
        L["pipeline.generate.valid_ratio"] = (
            L.pop("pipeline.generate.valid") / L.pop("pipeline.generate.rows")
        )
    if L.get("operators.packing.capacity"):
        L["operators.packing.fill_ratio"] = (
            L.pop("operators.packing.tokens") / L.pop("operators.packing.capacity")
        )
    n = rounds(p)
    out = {name: L.get(name, 0) / (1 if name in NOT_PER_ROUND else n) for name in PER_LAYER}
    out["trace.wall_s"] = sum(op_latencies(p)) + out["trace.overhead_s"]
    return out


def run(args) -> dict:
    t_start = time.perf_counter()
    root = os.getcwd()
    wl = workloads.WORKLOADS[args.workload]()
    ctx = Context(root, args.seed)
    try:
        ops = wl.plan(args.seed, args.seconds)
        wl.make_inputs(ctx, ops)
        set_environment(root, ctx)
        setup_s, listener = set_up(wl, ctx, bool(args.trace))
        p = run_pass(wl, ctx, ops, bool(args.trace), t_start)
        pct = tail(op_latencies(p))[1]
        print(f"{wl.name}: {len(p.latencies)} ops x {rounds(p)} rounds, "
              f"{sum(p.items.values())} {wl.item_unit} a round; "
              f"op_tail_s is p{pct:.0f} over {len(p.latencies)} ops")
        if args.trace:
            metrics, units = per_layer(ctx, p, listener), PER_LAYER
        else:
            metrics, units = end_to_end(ctx, p, setup_s), END_TO_END
        stop_spark(ctx.spark)
        ctx.spark = None
        return {
            "correct": p.failed == 0,
            "attempted": p.attempted,
            "failed": p.failed,
            "metrics": {
                name: {"value": float(metrics[name]), "unit": units[name]} for name in units
            },
        }
    finally:
        if ctx.spark is not None:
            try:
                stop_spark(ctx.spark)
            except Exception:  # noqa: BLE001 — best effort on the error path
                traceback.print_exc()
        os.chdir(root)
        shutil.rmtree(ctx.work, ignore_errors=True)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(os.getcwd(), "syllabus_sense_spark")):
        print("run from the root of a checkout holding syllabus_sense_spark/", file=sys.stderr)
        return 2
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
