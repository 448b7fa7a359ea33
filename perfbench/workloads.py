"""The three workloads: inputs, set-up, ops, output checks and layer chains.

Every workload follows one shape, driven by ``run.py``:

- ``plan`` sizes the pass from ``--seconds`` with a fixed per-op cost
  model (seconds per op on a 4-core host), so the measured phase lasts
  about ``--seconds`` there while the work itself never depends on the
  clock. A workload may repeat its pass in rounds: an op's ``key``
  names the same work in every round, and ``start_round`` prepares a
  round outside the timed region;
- ``make_inputs`` writes the pass's inputs before any timer starts;
- importing ``MODULES`` (and ``import_extra``), then
  ``session.get_spark``, then ``warm`` are the three set-up phases;
- ``run_op`` is the timed op and ``check`` its output check, which runs
  outside the timed region;
- ``trace_op`` (traced runs only) splits an op into its layers.

The engine is driven only through its public functions.
"""

from __future__ import annotations

import contextlib
import hashlib
import io
import json
import os
import random
import shutil
import subprocess
import sys
import time
from dataclasses import dataclass, field

import gen_docx
import gen_jsonl
from spark_status import cpu_count

KEEP_LANGS = ",".join(gen_jsonl.KEEP_LANGS)


@dataclass
class Op:
    name: str  # unique in the run; also the op's job group
    items: int  # input docs, input lines, or 1 for a query
    key: str = ""  # the same work in every round (default: ``name``)
    round: int = 0
    input: str = ""
    output: str = ""
    manifest: dict = field(default_factory=dict)
    result: object = None
    stats: dict = field(default_factory=dict)  # job group -> GroupStats

    def __post_init__(self):
        self.key = self.key or self.name


def _quiet(fn, *args) -> str:
    """Call ``fn`` with stdout captured, so the benchmark's own JSON stays
    the last line of stdout; return the captured text."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        fn(*args)
    return buf.getvalue()


def _link_copy(src: str, dst: str) -> None:
    """Hard-link ``src`` (file or flat directory) to a new path, so an op
    reads the same bytes under a path no cache or memo has seen."""
    if os.path.isdir(src):
        os.makedirs(dst)
        for name in os.listdir(src):
            os.link(os.path.join(src, name), os.path.join(dst, name))
    else:
        os.link(src, dst)


def sink_layout(path: str) -> tuple[int, int, float]:
    """(data files, total bytes, largest partition dir bytes / mean)."""
    per_dir: dict[str, int] = {}
    files = 0
    for root, _, names in os.walk(path):
        for name in names:
            if name.endswith(".parquet"):
                files += 1
                size = os.path.getsize(os.path.join(root, name))
                per_dir[root] = per_dir.get(root, 0) + size
    total = sum(per_dir.values())
    skew = max(per_dir.values()) / (total / len(per_dir)) if per_dir else 0.0
    return files, total, skew


class Chain:
    """Prefix materialisation for a traced op: each step's output is
    persisted and counted under its own job group, so the next step
    starts from it and a step's time is its layer's self time."""

    def __init__(self, ctx, tag: str):
        self.ctx, self.tag = ctx, tag
        self.held = []

    def step(self, layer: str, df):
        self.ctx.status.group(f"{self.tag}:{layer}")
        t0 = time.perf_counter()
        df = df.persist()
        rows = df.count()
        dt = time.perf_counter() - t0
        self.held.append(df)
        return df, rows, dt

    def timed(self, layer: str, fn, *args) -> float:
        self.ctx.status.group(f"{self.tag}:{layer}")
        t0 = time.perf_counter()
        fn(*args)
        return time.perf_counter() - t0

    def release(self) -> None:
        for df in self.held:
            df.unpersist()


class Workload:
    name = ""
    item_unit = ""
    MODULES: tuple[str, ...] = ()

    def import_extra(self) -> None:
        """Imports beyond ``MODULES`` that belong to set-up."""

    def start_round(self, ctx, r: int) -> None:
        """Untimed preparation before the first op of round ``r`` > 0."""

    def op_groups(self, op: Op) -> list[str]:
        """Job groups ``run_op`` ran the op under."""
        return [op.name]


# --------------------------------------------------------------------------
# docx_questions


class DocxQuestions(Workload):
    """The reference's own job: ``main([drop_dir, out_dir])`` per op."""

    name = "docx_questions"
    item_unit = "docs"
    SMALL = (1, 3, 2, 4)
    LARGE = (10, 16, 12)
    # Cost model: fixed seconds per job plus seconds per document.
    FIXED_S, PER_DOC_S = 7.5, 0.4
    MODULES = (
        "syllabus_sense_spark.__main__",
        "syllabus_sense_spark.operators.sessionize",
        "syllabus_sense_spark.pipeline.flagship",
        "syllabus_sense_spark.session",
        "syllabus_sense_spark.sinks",
        "syllabus_sense_spark.sources.docx",
    )

    def plan(self, seed: int, seconds: float) -> list[Op]:
        """Pairs of one small and one large drop, as many pairs as fit."""
        pair_s = 2 * self.FIXED_S + self.PER_DOC_S * (self.SMALL[0] + self.LARGE[0])
        ops: list[Op] = []
        for k in range(max(1, round(seconds / pair_s))):
            for sizes in (self.SMALL, self.LARGE):
                n = sizes[k % len(sizes)]
                ops.append(Op(f"drop{len(ops):02d}", items=n))
        return ops

    def make_inputs(self, ctx, ops: list[Op]) -> None:
        self.prime = os.path.join(ctx.inputs, "prime")
        gen_docx.write_drop(self.prime, ctx.seed, 999, 1)
        for i, op in enumerate(ops):
            op.input = os.path.join(ctx.inputs, op.name)
            op.output = os.path.join(ctx.outputs, op.name)
            op.manifest = gen_docx.write_drop(op.input, ctx.seed, i, op.items)

    def warm(self, ctx) -> dict:
        from syllabus_sense_spark.__main__ import main

        _quiet(main, [self.prime, os.path.join(ctx.outputs, "prime")])
        return {}

    def run_op(self, ctx, op: Op) -> None:
        from syllabus_sense_spark.__main__ import main

        _quiet(main, [op.input, op.output])

    def check(self, ctx, op: Op) -> bool:
        import numpy as np
        import pyarrow.compute as pc
        import pyarrow.dataset as ds

        t = ds.dataset(op.output, format="parquet", partitioning="hive").to_table(
            columns=["question_id", "choices", "topic"]
        )
        choices = t["choices"].combine_chunks()
        lengths = pc.list_value_length(choices)
        if t.num_rows == 0 or pc.min(lengths).as_py() != 4 or pc.max(lengths).as_py() != 4:
            return False
        flat = pc.list_flatten(choices)
        correct = np.asarray(pc.struct_field(flat, "is_correct")).astype(bool)
        parents = np.asarray(pc.list_parent_indices(choices))
        per_q = np.bincount(parents[correct], minlength=t.num_rows)
        topics = set(t["topic"].to_pylist())
        return bool(
            (per_q == 1).all()
            and len(topics) == gen_docx.TOPICS_PER_DOC * op.manifest["docs"]
            and topics == set(op.manifest["titles"])
            and pc.count_distinct(t["question_id"]).as_py() == t.num_rows
        )

    def trace_op(self, ctx, op: Op) -> None:
        from pyspark.sql import functions as F

        from syllabus_sense_spark.operators.batching import assign_batches, mark_batch_status
        from syllabus_sense_spark.operators.sessionize import group_topics, sessionize_elements
        from syllabus_sense_spark.pipeline.extract import (
            extract_subtopics,
            generate_questions,
            plan_questions,
        )
        from syllabus_sense_spark.sinks import write_questions_parquet
        from syllabus_sense_spark.sources.docx import docx_topics

        src = op.input + "_trace"
        _link_copy(op.input, src)
        spark, L = ctx.spark, ctx.layers
        c = Chain(ctx, f"{op.name}:trace")
        # The chain of flagship_from_elements, one public function a step.
        el, n_el, dt = c.step("sources.docx", docx_topics(spark, src))
        L.add("sources.docx.scan_s", dt)
        L.add("sources.docx.elements", n_el)
        topics, n_top, dt = c.step("operators.sessionize", group_topics(sessionize_elements(el)))
        L.add("operators.sessionize.s", dt)
        L.add("operators.sessionize.topics", n_top)
        subs, n_sub, dt = c.step("pipeline.extract", extract_subtopics(topics))
        L.add("pipeline.extract.s", dt)
        L.add("pipeline.extract.subtopics", n_sub)
        plan, n_plan, dt = c.step("pipeline.plan", plan_questions(subs))
        L.add("pipeline.plan.s", dt)
        L.add("pipeline.plan.rows", n_plan)
        batched, _, dt = c.step(
            "operators.batching",
            mark_batch_status(
                assign_batches(plan, batch_size=5, group_cols=("topic",), order_col="question_id")
            ),
        )
        L.add("operators.batching.s", dt)
        context = subs.select("subtopic_name", "academic_class")
        enriched = (
            batched.join(F.broadcast(context), batched.subtopic == context.subtopic_name)
            .drop("subtopic_name")
            .repartition(spark.sparkContext.defaultParallelism)
        )
        questions, n_q, dt = c.step("pipeline.generate", generate_questions(enriched))
        L.add("pipeline.generate.s", dt)
        one_correct = F.size(F.filter("choices", lambda ch: ch["is_correct"])) == 1
        L.add("pipeline.generate.valid", questions.filter((F.size("choices") == 4) & one_correct).count())
        L.add("pipeline.generate.rows", n_q)
        out = op.output + "_trace"
        L.add("sinks.write_s", c.timed("sinks", write_questions_parquet, questions, out))
        ctx.add_sink(out, n_q)
        c.release()


# --------------------------------------------------------------------------
# curate_jsonl


class CurateJsonl(Workload):
    """The ``curate`` entry point: one distinct JSONL dump per op."""

    name = "curate_jsonl"
    item_unit = "lines"
    SIZES = (10_000, 20_000, 30_000)
    PRIME_LINES = 5_000
    SHARDS = 8
    CAPACITY = 4096
    FIXED_S, PER_KLINE_S = 1.6, 0.012
    MODULES = (
        "syllabus_sense_spark.__main__",
        "syllabus_sense_spark.operators.packing",
        "syllabus_sense_spark.session",
        "syllabus_sense_spark.sinks.shards",
        "syllabus_sense_spark.sources.jsonl",
    )

    def plan(self, seed: int, seconds: float) -> list[Op]:
        ops: list[Op] = []
        cost = 0.0
        while cost < seconds or len(ops) < 2:
            n = self.SIZES[len(ops) % len(self.SIZES)]
            ops.append(Op(f"dump{len(ops):02d}", items=n))
            cost += self.FIXED_S + self.PER_KLINE_S * n / 1000
        return ops

    def make_inputs(self, ctx, ops: list[Op]) -> None:
        self.prime = os.path.join(ctx.inputs, "prime.jsonl")
        gen_jsonl.write_dump(self.prime, ctx.seed, 999, self.PRIME_LINES)
        for i, op in enumerate(ops):
            op.input = os.path.join(ctx.inputs, op.name + ".jsonl")
            op.output = os.path.join(ctx.outputs, op.name)
            op.manifest = gen_jsonl.write_dump(op.input, ctx.seed, i, op.items)

    def _argv(self, src: str, out: str) -> list[str]:
        return ["curate", src, out, "--langs", KEEP_LANGS,
                "--min-tokens", str(gen_jsonl.MIN_TOKENS),
                "--capacity", str(self.CAPACITY), "--shards", str(self.SHARDS)]

    def warm(self, ctx) -> dict:
        from syllabus_sense_spark.__main__ import main

        _quiet(main, self._argv(self.prime, os.path.join(ctx.outputs, "prime")))
        return {}

    def run_op(self, ctx, op: Op) -> None:
        from syllabus_sense_spark.__main__ import main

        op.result = _quiet(main, self._argv(op.input, op.output))

    def check(self, ctx, op: Op) -> bool:
        report = json.loads(op.result.strip().splitlines()[-1])
        funnel = {k: report[k] for k in ("quarantined", "ingested", "deduped")}
        expected = {k: op.manifest[k] for k in funnel}
        shards = [
            int(d.split("=", 1)[1]) for d in os.listdir(op.output) if d.startswith("shard=")
        ]
        return funnel == expected and bool(shards) and all(0 <= s < self.SHARDS for s in shards)

    def trace_op(self, ctx, op: Op) -> None:
        from pyspark.sql import functions as F

        from syllabus_sense_spark.operators.packing import pack_sequences
        from syllabus_sense_spark.sinks.shards import write_shards
        from syllabus_sense_spark.sources.jsonl import read_documents_jsonl, split_quarantine

        src = op.input + ".trace"
        _link_copy(op.input, src)
        spark, L = ctx.spark, ctx.layers
        c = Chain(ctx, f"{op.name}:trace")
        clean, quarantined = split_quarantine(read_documents_jsonl(spark, src))

        def read():
            L.add("sources.jsonl.quarantined", quarantined.count())
            clean.count()

        L.add("sources.jsonl.read_s", c.timed("sources.jsonl", read))
        # The filter and exact dedup of ``__main__.curate``, which has
        # no public function of its own.
        toks = F.filter(F.split("text", " "), lambda x: F.length(x) > 0)
        kept = clean.filter(
            F.col("lang").isin(*gen_jsonl.KEEP_LANGS) & (F.size(toks) >= gen_jsonl.MIN_TOKENS)
        )
        deduped, _, _ = c.step(
            "curate.dedup",
            kept.groupBy(F.md5("text").alias("content_hash")).agg(
                F.min("doc_id").alias("doc_id"),
                F.first("source").alias("source"),
                F.first("lang").alias("lang"),
                F.min(F.size(toks)).alias("n_tok"),
            ),
        )
        packed, n_rows, dt = c.step(
            "operators.packing",
            pack_sequences(
                deduped.select("doc_id", "source", "lang", "n_tok"),
                size_col="n_tok",
                capacity=self.CAPACITY,
            ),
        )
        L.add("operators.packing.s", dt)
        agg = packed.agg(
            F.sum("n_tok").alias("tok"),
            F.count_distinct("source", "pack_id").alias("packs"),
        ).first()
        L.add("operators.packing.tokens", agg["tok"])
        L.add("operators.packing.capacity", agg["packs"] * self.CAPACITY)
        out = op.output + "_trace"
        L.add("sinks.write_s", c.timed("sinks", write_shards, packed, out, self.SHARDS))
        ctx.add_sink(out, n_rows)
        c.release()


# --------------------------------------------------------------------------
# registry_sf0.1

# The 44 headline queries of ``bench.py`` and its 4 streaming drains,
# pinned here with their family and their cold seconds in a fresh
# session on a 4-core host (the first op of a family pays the memo and
# artifact builds it shares with the others). The list order is the
# inclusion priority when ``--seconds`` cannot hold all 48 (a cold pass
# of all of them takes about 95 s there). First come the ops that later
# work is most likely to move: the scorer's query-set memo, a stateful
# streaming drain, the label-propagation loop (an iterative graph query
# with its own adjacency memo) and the persisted-artifact memo of the
# semantic dedup. Then a cheap op of each remaining family, and after
# them the families take turns.
REGISTRY = [
    ("similarity_topk_bruteforce", "similarity", 0.8),
    ("streaming_session_windows_drain", "streaming", 2.1),
    ("graph_label_propagation", "graph", 3.6),
    ("dedup_semantic_clusters", "dedup", 2.5),
    ("training_bpe_merges", "training", 0.6),
    ("join_broadcast_lookup", "relational", 0.6),
    ("events_conversion_within_7d", "events", 0.5),
    ("curation_pipeline_summary", "pipeline", 0.6),
    ("dq_table_fingerprint", "dq_sketch", 0.9),
    ("q1_pricing_summary", "relational", 1.5),
    ("events_sessionize_gap30m", "events", 1.1),
    ("streaming_interval_join_drain", "streaming", 5.5),
    ("events_asof_last_order", "events", 1.0),
    ("pipeline_sessionize_topics", "pipeline", 0.9),
    ("training_hard_negatives", "similarity", 0.5),
    ("pack_sequences_greedy", "training", 0.3),
    ("dq_check_orders", "dq_sketch", 1.0),
    ("text_ngram_novelty", "dedup", 3.0),
    ("graph_pagerank_trade", "graph", 3.1),
    ("streaming_static_enrich_drain", "streaming", 1.6),
    ("agg_rollup_region_nation", "relational", 0.6),
    ("embedding_random_projection", "similarity", 0.3),
    ("training_shuffle_shards", "training", 0.2),
    ("sketch_countmin_heavy_hitters", "dq_sketch", 1.1),
    ("dedup_containment", "dedup", 3.1),
    ("graph_triangle_census", "graph", 1.5),
    ("streaming_tumbling_hourly_drain", "streaming", 2.8),
    ("q3_shipping_priority", "relational", 0.9),
    ("events_stickiness_dau_wau", "events", 0.8),
    ("ml_pca_power_iteration", "similarity", 1.8),
    ("training_preference_pairs", "training", 0.4),
    ("dedup_repeated_passages", "dedup", 1.9),
    ("graph_bfs_levels", "graph", 4.0),
    ("q5_local_supplier_volume", "relational", 1.6),
    ("events_asof_next_order", "events", 0.9),
    ("training_importance_selection", "training", 1.1),
    ("dedup_prefix_filter", "dedup", 3.8),
    ("sample_stratified_hamilton", "training", 0.9),
    ("window_running_total", "relational", 1.8),
    ("events_asof_nearest_order", "events", 1.5),
    ("training_temperature_mixture", "training", 2.0),
    ("dedup_simhash", "dedup", 6.4),
    ("match_fuzzy_parts_capped", "relational", 1.8),
    ("events_sessionize_dynamic_gap", "events", 1.2),
    ("text_winnow_fingerprints", "dedup", 4.2),
    ("bitmap_distinct_users", "relational", 0.6),
    ("dedup_minhash_lsh", "dedup", 6.7),
    ("pipeline_flagship_questions", "pipeline", 7.5),
]
FAMILIES = ("relational", "events", "pipeline", "dedup", "similarity", "graph",
            "training", "dq_sketch")


class Registry(Workload):
    """Registered queries at sf0.1, each ``fn()`` plus a noop write, cold."""

    name = "registry_sf0.1"
    item_unit = "ops"
    MODULES = ("syllabus_sense_spark.session", "syllabus_sense_spark.tables",
               "syllabus_sense_spark.queries")

    # Every op runs once per round. Each round reads the tables under a
    # path of its own (hard links to the same files), and the session
    # memos are cleared before it, so every round starts with cold memos
    # the way a user's job does. A run reports each op's mean over the
    # rounds. The first round also pays the engine's JIT warm-up and
    # takes about twice as long as the later ones.
    ROUNDS = 3
    # A round's modelled cost fits this share of ``--seconds``; the three
    # rounds then measured 1.4 times ``--seconds`` on a shared 4-core host.
    ROUND_SHARE = 0.45

    def plan(self, seed: int, seconds: float) -> list[Op]:
        budget = seconds * self.ROUND_SHARE
        chosen, cost = [], 0.0
        for name, family, secs in REGISTRY:
            if chosen and cost + secs > budget:
                break
            chosen.append((name, family))
            cost += secs
        rng = random.Random(f"registry:{seed}")
        ops = []
        for r in range(self.ROUNDS):
            rng.shuffle(chosen)
            ops += [Op(f"{name}@{r}", items=1, key=name, round=r,
                       manifest={"family": family}) for name, family in chosen]
        return ops

    def make_inputs(self, ctx, ops: list[Op]) -> None:
        """Write the fixed tables once per checkout, in a child process so
        this process's import timing starts cold; link one copy a round."""
        if not os.path.exists(os.path.join(ctx.tables_dir, "_SUCCESS")):
            tmp = f"{ctx.tables_dir}.tmp-{os.getpid()}"
            script = os.path.join(os.path.dirname(os.path.abspath(__file__)), "gen_tables.py")
            subprocess.run([sys.executable, script, tmp], check=True)
            open(os.path.join(tmp, "_SUCCESS"), "w").close()
            shutil.rmtree(ctx.tables_dir, ignore_errors=True)
            os.replace(tmp, ctx.tables_dir)
        self.round_dirs = []
        for r in range(self.ROUNDS):
            d = os.path.join(ctx.inputs, f"sf0.1-r{r}")
            _link_copy(ctx.tables_dir, d)
            self.round_dirs.append(d)
        self.sf_dir = self.round_dirs[0]

    def import_extra(self) -> None:
        from syllabus_sense_spark import queries

        queries.load_all_queries()

    def _load_tables(self, ctx) -> None:
        """Load every table and fill the copies the loader caches, one
        job per table and as many at once as there are cores."""
        from concurrent.futures import ThreadPoolExecutor

        from syllabus_sense_spark.tables import TABLE_NAMES, load

        dfs = [load(ctx.spark, self.sf_dir, table) for table in TABLE_NAMES]
        with ThreadPoolExecutor(cpu_count()) as pool:
            list(pool.map(lambda df: df.count(), [df for df in dfs if df.is_cached]))

    def start_round(self, ctx, r: int) -> None:
        from syllabus_sense_spark import tables
        from syllabus_sense_spark.queries import ext_dedup

        ext_dedup.clear_session_artifacts()
        tables.clear_load_cache()
        ctx.spark.catalog.clearCache()
        self.sf_dir = self.round_dirs[r]
        self._load_tables(ctx)

    def warm(self, ctx) -> dict:
        t0 = time.perf_counter()
        self._load_tables(ctx)
        load_s = time.perf_counter() - t0

        def echo(batches):
            yield from batches

        n = ctx.spark.sparkContext.defaultParallelism
        noop(ctx.spark.range(0, 16 * n, numPartitions=n).mapInPandas(echo, "id long"))
        return {"tables.load_s": load_s}

    def run_op(self, ctx, op: Op) -> None:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from syllabus_sense_spark.queries import QUERIES

        ctx.status.group(f"{op.name}:construct")
        t0 = time.perf_counter()
        df = QUERIES[op.key](ctx.spark, self.sf_dir)
        t1 = time.perf_counter()
        ctx.status.group(f"{op.name}:execute")
        obs = Observation(f"rows_{op.key}_{op.round}")
        noop(df.observe(obs, F.count(F.lit(1)).alias("n")))
        op.result = {"construct_s": t1 - t0, "execute_s": time.perf_counter() - t1,
                     "rows": obs.get["n"]}

    def check(self, ctx, op: Op) -> bool:
        want = oracle_count(ctx, op.key)
        return op.result["rows"] == want if want is not None else op.result["rows"] > 0

    def op_groups(self, op: Op) -> list[str]:
        return [f"{op.name}:construct", f"{op.name}:execute"]

    def trace_op(self, ctx, op: Op) -> None:
        """The construct/execute split is recorded by ``run_op``'s job
        groups, so a registry op needs no extra chain."""
        L, fam, r = ctx.layers, op.manifest["family"], op.result
        construct, execute = (op.stats[g] for g in self.op_groups(op))
        if fam == "streaming":
            L.add("streaming.drain_s", r["construct_s"] + r["execute_s"])
            return
        L.add(f"queries.{fam}.construct_s", r["construct_s"])
        L.add(f"queries.{fam}.eager_jobs", construct.jobs)
        L.add(f"queries.{fam}.execute_s", r["execute_s"])
        L.add(f"queries.{fam}.shuffle_mb",
              (construct.shuffle_write_bytes + execute.shuffle_write_bytes) / 2**20)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def oracle_count(ctx, name: str) -> int | None:
    """Row count of the DuckDB oracle for ``name`` over the same
    parquet, cached per (tables, oracle SQL) in the build directory."""
    from syllabus_sense_spark.queries import ORACLE

    sql = ORACLE.get(name)
    if sql is None:
        return None
    key = hashlib.sha1((ctx.tables_dir + "\0" + sql).encode()).hexdigest()
    cache_path = os.path.join(ctx.build_dir, "oracle_counts.json")
    cache = {}
    if os.path.exists(cache_path):
        with open(cache_path) as fh:
            cache = json.load(fh)
    if key not in cache:
        import duckdb

        from syllabus_sense_spark.tables import TABLE_NAMES

        with duckdb.connect() as con:
            for t in TABLE_NAMES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{ctx.tables_dir}/{t}.parquet')"
                )
            cache[key] = len(con.execute(sql).fetchall())
        tmp = cache_path + f".{os.getpid()}"
        with open(tmp, "w") as fh:
            json.dump(cache, fh)
        os.replace(tmp, cache_path)
    return cache[key]


WORKLOADS = {cls.name: cls for cls in (DocxQuestions, CurateJsonl, Registry)}
