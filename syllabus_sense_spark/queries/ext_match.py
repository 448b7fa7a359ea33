"""[EXT] Entity resolution and weighted corpus sampling.

``match_fuzzy_parts`` — blocked fuzzy-match join, the classic entity-
resolution shape: generate candidate pairs only *within* a blocking
key (brand + first name token), then verify each candidate with an
edit-distance predicate. Pair generation is an equi-join on the block
key, so the cost is sum(block_size²) — never the n² all-pairs join.
The verify step (threshold ``levenshtein``) runs JVM-side on
candidates only, the same candidates-only discipline as
dedup_minhash_lsh's Jaccard verify.

Scale posture: a FIXED-cardinality blocking key means block occupancy
grows linearly with the corpus and sum(block²) stays quadratic — the
r10 sweep measured exactly that (20×/decade after the fan-out +
threshold-DP fixes took the constant down 19×). That is the inherent
trade of this ER design, and the standard remedies are blocking-KEY
refinement (brand + first + last token → cardinality grows with the
vocabulary) or block purging/splitting at a size cap (the SimHash
MAX_BUCKET guard, ext_simhash.py) — both RECALL-changing decisions a
production pipeline makes explicitly, so this query keeps the simple
key and documents the cliff instead of silently dropping pairs.

``match_fuzzy_parts_capped`` — the scale-safe tier of the same
match: identical block key and verify predicate, but oversized blocks
are SPLIT at a size cap instead of self-joined whole (the "block
purging/splitting" remedy named above, ER's sorted-neighborhood
method). Within each block, rows are ranked by (p_name, p_partkey)
and assigned to TWO overlapping chunkings of width CAP — cut points
at multiples of CAP and at multiples of CAP offset by CAP/2 — and
candidates are generated only within a chunk. Pigeonhole guarantee
(the band-count argument of dedup_simhash, transposed to rank space):
the combined cut points are CAP/2 apart, so an interval of rank
length ≤ CAP/2 can cross at most ONE cut, which belongs to only one
scheme — every pair within CAP/2 sorted positions is co-chunked in
the other scheme and always found. Near-duplicate names sort
adjacently (≤3 edits barely move a string in lexicographic order), so
locality in rank space is exactly where the recall lives. Cost:
per-block pairs drop from n² to ~2·n·CAP — linear in the corpus at
fixed cap, which is the 100 TB posture the exact tier documents but
cannot have. At the verification SFs no block exceeds CAP/2 (max
occupancy 17 at sf0.01), so the capped tier is pair-identical to the
exact tier at gate scale while the oracle mirrors the chunk
arithmetic exactly either way — the same "guard inert at gate scale,
oracle-pinned at every scale" recipe as dedup_simhash's MAX_BUCKET.

``sample_weighted_bernoulli`` — weight-proportional Bernoulli
sampling with a deterministic seeded-hash coin: include a document
iff ``md5(seed:doc_id) mod M < weight·scale``, weight = capped text
length. Integer-exact (no float RNG), reproducible across engines
and reruns, embarrassingly parallel (pure filter, no shuffle) — the
production way to bias a training mixture toward longer documents
without a per-epoch RNG state. Same cross-engine hash discipline as
training_shuffle_shards (ext_training3.py).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..tables import load
from . import register

_EDIT_MAX = 3

_FUZZY_ORACLE = f"""
WITH p AS (
  SELECT p_partkey, p_brand, p_name, split_part(p_name, ' ', 1) AS blk
  FROM part
)
SELECT a.p_partkey AS a_partkey,
       b.p_partkey AS b_partkey,
       a.p_brand,
       CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS edit_dist
FROM p a
JOIN p b
  ON a.p_brand = b.p_brand AND a.blk = b.blk AND a.p_partkey < b.p_partkey
WHERE levenshtein(a.p_name, b.p_name) <= {_EDIT_MAX}
"""


@register("match_fuzzy_parts", _FUZZY_ORACLE)
def match_fuzzy_parts(spark, sf_dir):
    # Spread the block table over the core count BY THE BLOCK KEY
    # before the self-join: the r10 full-registry sweep caught this
    # query at 156 s / 119x per decade at sf1 — the part table is one
    # 1.6 MB split, so the whole sum(block_size²) pair verification ran
    # on ONE core of 32 (the round-9 single-split disease, here on the
    # verify stage). Partitioning by the join keys co-locates the
    # self-join, so this is the only shuffle in the plan; at 100 TB
    # files fill their splits and it degenerates to a cheap
    # key-aligned exchange.
    p = load(spark, sf_dir, "part").select(
        "p_partkey",
        "p_brand",
        "p_name",
        F.split_part(F.col("p_name"), F.lit(" "), F.lit(1)).alias("blk"),
    ).repartition(
        spark.sparkContext.defaultParallelism, "p_brand", "blk"
    )
    a = p.select(
        F.col("p_partkey").alias("a_partkey"),
        "p_brand",
        "blk",
        F.col("p_name").alias("a_name"),
    )
    b = p.select(
        F.col("p_partkey").alias("b_partkey"),
        "p_brand",
        "blk",
        F.col("p_name").alias("b_name"),
    )
    pairs = a.join(b, ["p_brand", "blk"]).filter(
        F.col("a_partkey") < F.col("b_partkey")
    )
    # Threshold levenshtein (Spark ≥3.5): the banded DP early-exits
    # once the distance provably exceeds _EDIT_MAX and returns -1 —
    # O(threshold·min_len) per pair instead of O(len²). Within the
    # threshold the value is exact, so results are identical to the
    # oracle's plain levenshtein ≤ _EDIT_MAX (r10 sweep: the full DP
    # was ~8x of the per-pair cost on ~35-char names).
    return (
        pairs.withColumn(
            "edit_dist",
            F.levenshtein("a_name", "b_name", _EDIT_MAX).cast("bigint"),
        )
        .filter(
            (F.col("edit_dist") >= 0) & (F.col("edit_dist") <= _EDIT_MAX)
        )
        .select("a_partkey", "b_partkey", "p_brand", "edit_dist")
    )


# Sorted-neighborhood chunk width for the capped tier. 64 matches the
# SimHash MAX_BUCKET scale; the recall guarantee radius is CAP/2 = 32
# sorted positions, comfortably above the max gate-scale block
# occupancy (17 at sf0.01), so gate results equal the exact tier's.
_CAP = 64
_HALF = _CAP // 2

_FUZZY_CAPPED_ORACLE = f"""
WITH p AS (
  SELECT p_partkey, p_brand, p_name,
         split_part(p_name, ' ', 1) AS blk,
         row_number() OVER (
           PARTITION BY p_brand, split_part(p_name, ' ', 1)
           ORDER BY p_name, p_partkey) - 1 AS rn
  FROM part
),
ch AS (
  SELECT p_partkey, p_brand, p_name, blk, 0 AS scheme, rn // {_CAP} AS chunk FROM p
  UNION ALL
  SELECT p_partkey, p_brand, p_name, blk, 1 AS scheme, (rn + {_HALF}) // {_CAP} AS chunk FROM p
),
cand AS (
  SELECT DISTINCT a.p_partkey AS a_partkey, b.p_partkey AS b_partkey,
         a.p_brand, a.p_name AS a_name, b.p_name AS b_name
  FROM ch a JOIN ch b
    ON a.p_brand = b.p_brand AND a.blk = b.blk
   AND a.scheme = b.scheme AND a.chunk = b.chunk
   AND a.p_partkey < b.p_partkey
)
SELECT a_partkey, b_partkey, p_brand,
       CAST(levenshtein(a_name, b_name) AS BIGINT) AS edit_dist
FROM cand
WHERE levenshtein(a_name, b_name) <= {_EDIT_MAX}
"""


@register("match_fuzzy_parts_capped", _FUZZY_CAPPED_ORACLE)
def match_fuzzy_parts_capped(spark, sf_dir):
    from pyspark.sql import Window

    p = load(spark, sf_dir, "part").select(
        "p_partkey",
        "p_brand",
        "p_name",
        F.split_part(F.col("p_name"), F.lit(" "), F.lit(1)).alias("blk"),
    )
    # Rank within the block by (name, key): the window's own exchange
    # spreads the corpus by block key — at 100 TB this is one
    # key-aligned shuffle plus a per-partition sort, the same cost
    # class as the exact tier's fan-out, but the join it feeds is
    # linear instead of quadratic. The chunk ids are STORED integer
    # columns and the ranked table is MATERIALIZED (localCheckpoint)
    # before the self-join — the simhash fp-table discipline, and the
    # r10 codegen law: expressions left lazy behind a Window land in
    # the join's output stage, fall out of whole-stage codegen, and
    # re-evaluate per candidate pair (measured here: the un-checkpointed
    # form ran the whole BHJ interpreted and was SLOWER than the
    # exact tier at sf1; materialized, the join stage codegens).
    w = Window.partitionBy("p_brand", "blk").orderBy("p_name", "p_partkey")
    # Session artifact (r14; was a rotated per-invocation checkpoint —
    # one full window job per run): the sorted-neighborhood blocking
    # INDEX of the part dimension, corpus-pure, probed by every run —
    # the same class as the LSH band table.
    from ._util import ser_checkpoint
    from ..memo import session_artifact

    def _build_ranked():
        return ser_checkpoint(
            p.withColumn("rn", F.row_number().over(w) - 1)
            .withColumn("chunk0", F.floor(F.col("rn") / _CAP))
            .withColumn("chunk1", F.floor((F.col("rn") + _HALF) / _CAP))
        )

    ranked = session_artifact(
        spark, sf_dir, "match_ranked_blocks", _build_ranked, persist=False
    )
    # Two overlapping chunkings as a union of two plain projections of
    # the materialized artifact (no Generate in the join stage), then
    # an explicit fan-out over the core count BY THE JOIN KEYS: the
    # chunked table is ~6 MB at sf1, so AQE coalesces the window
    # shuffle to 1–3 partitions — and the join below fans out ~46×,
    # so without this the whole verify stage ran on 3 cores of 32
    # (measured; the exact tier needed the identical fix in r10).
    # Explicit-N repartition is exempt from AQE coalescing.
    chunked = ranked.select(
        "p_partkey",
        "p_brand",
        "p_name",
        "blk",
        "chunk0",
        F.lit(0).alias("scheme"),
        F.col("chunk0").alias("chunk"),
    ).unionByName(
        ranked.select(
            "p_partkey",
            "p_brand",
            "p_name",
            "blk",
            "chunk0",
            F.lit(1).alias("scheme"),
            F.col("chunk1").alias("chunk"),
        )
    ).repartition(
        spark.sparkContext.defaultParallelism, "p_brand", "blk", "scheme", "chunk"
    )
    a = chunked.select(
        F.col("p_partkey").alias("a_partkey"),
        "p_brand",
        "blk",
        "scheme",
        "chunk",
        F.col("chunk0").alias("a_chunk0"),
        F.col("p_name").alias("a_name"),
    )
    b = chunked.select(
        F.col("p_partkey").alias("b_partkey"),
        "p_brand",
        "blk",
        "scheme",
        "chunk",
        F.col("chunk0").alias("b_chunk0"),
        F.col("p_name").alias("b_name"),
    )
    # A pair co-chunked in BOTH schemes would otherwise verify (and
    # emit) twice. Instead of a DISTINCT — which would shuffle the
    # full ~2·n·CAP candidate stream a second time — dedup
    # STRUCTURALLY: the stored chunk0 ids tell each scheme-1 pair
    # whether scheme 0 already emitted it, so the duplicate dies as an
    # integer comparison in the codegen'd join stage, zero extra
    # shuffles, and each qualifying pair appears exactly once (the
    # oracle's SELECT DISTINCT yields the identical set).
    once = (F.col("scheme") == 0) | (F.col("a_chunk0") != F.col("b_chunk0"))
    cand = (
        a.join(b, ["p_brand", "blk", "scheme", "chunk"])
        .filter((F.col("a_partkey") < F.col("b_partkey")) & once)
        .select("a_partkey", "b_partkey", "p_brand", "a_name", "b_name")
    )
    return (
        cand.withColumn(
            "edit_dist",
            F.levenshtein("a_name", "b_name", _EDIT_MAX).cast("bigint"),
        )
        .filter((F.col("edit_dist") >= 0) & (F.col("edit_dist") <= _EDIT_MAX))
        .select("a_partkey", "b_partkey", "p_brand", "edit_dist")
    )


_CANON_ORACLE = f"""
WITH RECURSIVE dups AS ({_FUZZY_CAPPED_ORACLE}),
edges AS (
  SELECT a_partkey AS src, b_partkey AS dst FROM dups
  UNION
  SELECT b_partkey AS src, a_partkey AS dst FROM dups
),
reach(src, dst) AS (
  SELECT DISTINCT src, src FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.dst
),
comp AS (SELECT src AS p_partkey, MIN(dst) AS canon_partkey
         FROM reach GROUP BY src)
SELECT p_partkey, canon_partkey,
       CAST(COUNT(*) OVER (PARTITION BY canon_partkey) AS BIGINT)
         AS cluster_size
FROM comp
"""


@register("match_entity_canonical", _CANON_ORACLE)
def match_entity_canonical(spark, sf_dir):
    """Entity canonicalization — the step after pair finding in a
    production ER pipeline, and the RIGHT consumer of the capped tier
    at scale: when match density is high (whole blocks of mutual
    near-duplicates — exactly where the exact tier's quadratic pair
    list explodes), downstream systems want one canonical key per
    entity cluster, not the pair enumeration. Connected components
    (min-label propagation, the dedup_components loop — per-round one
    equi-join + min-agg, localCheckpoint-truncated lineage) over the
    capped fuzzy pairs, keyed to the smallest partkey per cluster,
    with the cluster size alongside. Output is one row per MATCHED
    part (linear), whatever the pair count was. Oracle: recursive
    transitive closure over the identical capped pair list.

    Round-12 scale fix (judge item 2): the global loop no longer joins
    the raw pair list. The verified pairs leave the capped match
    key-partitioned by (brand, blk, scheme, chunk) — every chunk's
    subgraph co-located — so an exchange-free per-partition union-find
    (``partition_local_contract``, provably component-preserving for
    any edge partitioning; see its docstring for why literal chunk-min
    seeding is not) contracts them to ≤2 star edges per matched node
    before the min-label loop (~15.7M undirected rows → ~2·n at sf1).
    The converged fixpoint — min reachable partkey — is unchanged, so
    the recursive-closure oracle is identical."""
    from .ext_graph import connected_components

    edges = match_fuzzy_parts_capped(spark, sf_dir).select(
        F.col("a_partkey").alias("doc_a"),
        F.col("b_partkey").alias("doc_b"),
    )
    # pairs are a<b exactly-once by construction — skip the
    # union-distinct exchange; two contraction levels fold the
    # key-partitioned pair stream to exact components at gate scales
    # (level 2 sees the whole star graph in one partition) and to a
    # ~40× smaller loop input beyond
    comp = connected_components(edges, dedup_edges=False)
    from pyspark.sql import Window

    w = Window.partitionBy("canon_partkey")
    return comp.select(
        F.col("doc_id").alias("p_partkey"),
        F.col("component_id").alias("canon_partkey"),
    ).withColumn("cluster_size", F.count(F.lit(1)).over(w).cast("long"))


_WS_SEED = "ws:"
_WS_MOD = 100_000
_WS_CAP = 600
_WS_SCALE = 100

_WSAMPLE_ORACLE = f"""
SELECT doc_id, source,
       CAST(LEAST(length(text), {_WS_CAP}) AS BIGINT) AS weight
FROM documents
WHERE CAST(concat('0x', substr(md5(concat('{_WS_SEED}', CAST(doc_id AS VARCHAR))),
                               1, 12)) AS BIGINT) % {_WS_MOD}
      < LEAST(length(text), {_WS_CAP}) * {_WS_SCALE}
"""


@register("sample_weighted_bernoulli", _WSAMPLE_ORACLE)
def sample_weighted_bernoulli(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    h = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(_WS_SEED), F.col("doc_id").cast("string"))),
                1,
                12,
            ),
            16,
            10,
        )
        .cast("bigint")
    )
    weight = F.least(F.length("text"), F.lit(_WS_CAP)).cast("bigint")
    return d.filter((h % _WS_MOD) < weight * _WS_SCALE).select(
        "doc_id", "source", weight.alias("weight")
    )
