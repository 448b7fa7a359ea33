"""[EXT] Similarity search over the ``embeddings`` table
(vec_id, embedding: array<float>, label).

- ``similarity_topk_bruteforce``: exact cosine top-k — the correctness
  baseline. The query set ships in the task closure; a mapInArrow
  matrix kernel scores each candidate partition.
- ``similarity_cosine_blocked``: embedding-cosine near-dup with label
  blocking — the IVF-ish shape: candidates only within a block, so
  the pairwise cost is n^2/n_blocks instead of n^2.
- ``similarity_ann_lsh`` (rows-only): sign-random-projection LSH — the
  100 TB path; recall vs brute force is asserted in tests.

Float discipline: embeddings are float32; every product of two
float32s is exact in float64, and both engines fold arrays
left-to-right, so dot products match bit-for-bit; the final cosine is
rounded to 6 dp anyway for hash robustness.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from ..tables import load
from . import register


DIM = 64  # embeddings.embedding width (TESTDATA.md)


def _dot_sql(a: str, b: str, dim: int = DIM) -> str:
    return " + ".join(
        f"element_at({a}, {i}) * element_at({b}, {i})" for i in range(1, dim + 1)
    )


def _dot_unrolled(a, b, dim: int = DIM):
    """Dot product as a statically-unrolled sum of products — stays
    inside whole-stage codegen instead of the interpreted higher-order
    aggregate. Left-associated addition, so the result is bit-identical
    to a left-to-right fold from 0.0 (IEEE: 0.0 + x == x).

    Pass column NAMES (plain or alias-qualified) where possible: the
    whole sum is then ONE ``F.expr`` parse JVM-side instead of ~3·dim
    py4j round trips — with dim=64 and three dots per query, the
    Column-by-Column build costs ~0.5 s of driver time per plan
    construction, which is pure waste for a resident pipeline.
    Column inputs (e.g. literal hyperplane arrays) keep the loop."""
    if isinstance(a, str) and isinstance(b, str):
        return F.expr(_dot_sql(a, b, dim))
    out = F.element_at(a, 1) * F.element_at(b, 1)
    for i in range(2, dim + 1):
        out = out + F.element_at(a, i) * F.element_at(b, i)
    return out


def _norm(v, dim: int = DIM):
    if isinstance(v, str):
        return F.expr(f"sqrt({_dot_sql(v, v, dim)})")
    return F.sqrt(_dot_unrolled(v, v, dim))


_SQL_COSINE = (
    "list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
)

def _query_set(spark, sf_dir):
    """(qids, qlabels, qmat, qn) for the vec_id % 100 == 0 query tier,
    collected once per session (``memo.session_memo``) — r15 (guide
    §2.4, §1.2): both Arrow matrix scorers (similarity_topk_bruteforce,
    training_hard_negatives) re-ran the filter+collect corpus scan per
    invocation to rebuild the identical |Q| = N/100 query tier.
    Corpus-pure input in the doctrine's driver-memo class (BPE
    vocabulary, importance totals) and the same memory class as the
    broadcast relation the r14 kernels replaced. Norms accumulate per
    DIMENSION in index order — the bit-exactness device both scorers
    rely on (each query's norm is the identical left-associated IEEE
    sum as the unrolled JVM dot / DuckDB fold)."""
    from ..memo import session_memo

    def build():
        import numpy as np

        q_pdf = (
            load(spark, sf_dir, "embeddings")
            .filter(F.col("vec_id") % 100 == 0)
            .select("vec_id", "label", "embedding")
            .toPandas()
        )
        qids = q_pdf["vec_id"].to_numpy(dtype=np.int64)
        qlabels = q_pdf["label"].to_numpy()
        qmat = np.stack(
            [np.asarray(v, dtype=np.float64) for v in q_pdf["embedding"]]
        ) if len(q_pdf) else np.zeros((0, DIM))
        if len(qids):
            qacc = qmat[:, 0] * qmat[:, 0]
            for i in range(1, DIM):
                qacc = qacc + qmat[:, i] * qmat[:, i]
            qn = np.sqrt(qacc)
        else:
            qn = np.zeros(0)
        return qids, qlabels, qmat, qn

    return session_memo(spark, sf_dir, "sim_query_set", build)


_BRUTE_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id % 100 = 0
),
c AS (SELECT vec_id, label, embedding::DOUBLE[] AS cv FROM embeddings),
scored AS (
  SELECT
    q.query_id,
    c.vec_id AS neighbor_id,
    c.label AS neighbor_label,
    {_SQL_COSINE.format(a="q.qv", b="c.cv")} AS sim
  FROM q JOIN c ON c.vec_id <> q.query_id
),
ranked AS (
  SELECT *,
    CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id)
         AS BIGINT) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, neighbor_label, rank,
       CAST(floor(sim * 1e6) AS BIGINT) AS sim_e6
FROM ranked WHERE rank <= 5
"""


@register("similarity_topk_bruteforce", _BRUTE_ORACLE)
def similarity_topk_bruteforce(spark, sf_dir):
    """Exact cosine top-k. r14 shape (guide §4.2 + §2.3): the scorer is
    a mapInArrow matrix kernel over the candidate partitions with the
    query set shipped in the task closure — the same memory class as
    the ``F.broadcast(q)`` nested-loop join it replaces (|Q| = N/100 is
    the documented query tier; the broadcast relation was
    driver-collected anyway). Each task emits only its LOCAL top-5 per
    query, so the rank window's exchange carries ≤ 5·|Q| rows per
    partition instead of every scored pair — at the sf1 probe that is
    3 000 rows instead of 4M. The former plan's per-pair unrolled
    64-term dot also pushed whole-stage codegen to its limits (the r10
    finding); the kernel sidesteps codegen entirely.

    Bit-exactness with the DuckDB oracle (same device as
    ``similarity_cosine_blocked``): dots and norms accumulate per
    DIMENSION in index order — each pair's dot is the identical
    left-associated IEEE sum as ``list_dot_product`` / the unrolled JVM
    form; division and floor are single IEEE ops; float32→float64 is
    exact. Local-then-global top-5 is lossless because both tiers order
    by (sim DESC, neighbor_id ASC): the global top-5 of a union is
    contained in the union of per-partition top-5s under the same total
    order. Verified against the DuckDB oracle (hash + rows) at sf0.001,
    sf0.01 AND sf0.1 after the rewrite."""
    import numpy as np
    import pyarrow as pa

    e = load(spark, sf_dir, "embeddings")
    # query tier from the session memo (r15): one collect per
    # (session, sf_dir) instead of one corpus scan per invocation
    qids, _qlabels, qmat, qn = _query_set(spark, sf_dir)

    def _topk_batches(it):
        for b in it:
            n = len(b)
            if n == 0 or len(qids) == 0:
                continue
            ids = b.column("vec_id").to_numpy(zero_copy_only=False)
            labels = b.column("label").to_numpy(zero_copy_only=False)
            flat = b.column("embedding").flatten().to_numpy(
                zero_copy_only=False
            )
            cmat = flat.reshape(n, DIM).astype(np.float64)
            cacc = cmat[:, 0] * cmat[:, 0]
            dots = np.outer(cmat[:, 0], qmat[:, 0])
            for i in range(1, DIM):
                cacc = cacc + cmat[:, i] * cmat[:, i]
                dots = dots + np.outer(cmat[:, i], qmat[:, i])
            cn = np.sqrt(cacc)
            sims = dots / np.outer(cn, qn)
            out_q, out_id, out_lab, out_sim = [], [], [], []
            for j in range(len(qids)):
                mask = ids != qids[j]
                cand_ids = ids[mask]
                if cand_ids.size == 0:
                    continue
                cand_sims = sims[mask, j]
                order = np.lexsort((cand_ids, -cand_sims))[:5]
                out_q.append(np.full(order.size, qids[j], dtype=np.int64))
                out_id.append(cand_ids[order])
                out_lab.append(labels[mask][order])
                out_sim.append(cand_sims[order])
            if not out_q:
                continue
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.concatenate(out_q), type=pa.int64()),
                    pa.array(np.concatenate(out_id), type=pa.int64()),
                    pa.array(np.concatenate(out_lab), type=pa.int32()),
                    pa.array(np.concatenate(out_sim), type=pa.float64()),
                ],
                names=["query_id", "neighbor_id", "neighbor_label", "sim"],
            )

    # Fan the candidate side out BEFORE the scorer: input splits are
    # sized by BYTES (maxPartitionBytes), but each candidate row costs
    # |Q| 64-term dots here — at the sf1 probe the whole 4M-pair scorer
    # ran on the ONE split a 15 MB parquet file gets (65 s single-core;
    # ~4 s after). The fan-out is SCALE-ADAPTIVE (guide §2): estimated
    # pairwise flops ≈ rows²·DIM/100 from the on-disk size, one task
    # per ~50M flops, capped at the session's core count — so sf0.1
    # runs 1 task instead of paying a 32-Python-worker stampede for 62
    # rows each, while sf1+ still spreads to every core.
    import os as _os

    from ..tables import _disk_size

    rows_est = max(
        1, _disk_size(_os.path.join(sf_dir, "embeddings.parquet")) // 300
    )
    flops_est = rows_est * rows_est * DIM // 100
    parts = max(
        1,
        min(
            spark.sparkContext.defaultParallelism,
            int(flops_est // 50_000_000) + 1,
        ),
    )
    cand = e.select("vec_id", "label", "embedding").repartition(parts)
    scored = cand.mapInArrow(
        _topk_batches,
        "query_id long, neighbor_id long, neighbor_label int, sim double",
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
        .select(
            "query_id",
            "neighbor_id",
            "neighbor_label",
            "rank",
            F.floor(F.col("sim") * F.lit(1e6)).cast("bigint").alias("sim_e6"),
        )
    )


_BLOCKED_ORACLE = f"""
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings)
SELECT
  a.vec_id AS vec_a,
  b.vec_id AS vec_b,
  a.label,
  CAST(floor({_SQL_COSINE.format(a="a.v", b="b.v")} * 1e6) AS BIGINT) AS sim_e6
FROM e a
JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE {_SQL_COSINE.format(a="a.v", b="b.v")} > 0.25
"""


@register("similarity_cosine_blocked", _BLOCKED_ORACLE)
def similarity_cosine_blocked(spark, sf_dir):
    """Embedding-cosine near-dup, blocked by label: the equi-join on
    the block key keeps candidate generation a shuffle join (never a
    cross join); at scale the block key is an IVF centroid id."""
    import numpy as np
    import pandas as pd

    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    ).withColumn("nrm", _norm("v"))

    # Per-block MATRIX scoring via applyInPandas, not a pairwise join:
    # the self-join form materializes |block|²/2 rows each carrying two
    # 64-double vectors through the join (≈20 GB at the sf1 probe,
    # ~100 s regardless of the scoring expression — the row copying IS
    # the cost, and salting only spreads it). Here Arrow ships each
    # block ONCE (N rows, ~10 MB at sf1), the |block|² work happens as
    # 64 vectorized outer-product accumulations inside numpy, and only
    # the filtered pairs come back (sf1: 100 s → ~5 s). Bit-exactness
    # with the DuckDB oracle is preserved by accumulating per
    # DIMENSION in index order — each pair's dot is the same
    # left-associated IEEE sum as list_dot_product / the unrolled JVM
    # form — and division/floor are single IEEE ops in both engines.
    # Memory: one |block|² float64 matrix per task (32 MB at 2 000
    # vectors); the block key bounds it by DESIGN — at corpus scale
    # the key is an IVF cell id (bounded occupancy), exactly as the
    # docstring above states, so the matrix never outgrows a worker.
    def _block_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["vec_id"].to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        vecs = np.stack(
            [np.asarray(x, dtype=np.float64) for x in pdf["v"].to_numpy()]
        )[order]
        nrm = pdf["nrm"].to_numpy()[order]
        n, dim = vecs.shape
        if n < 2:
            return pd.DataFrame(
                {"vec_a": [], "vec_b": [], "label": [], "sim_e6": []}
            ).astype(
                {
                    "vec_a": "int64",
                    "vec_b": "int64",
                    "label": "int32",
                    "sim_e6": "int64",
                }
            )
        dots = np.multiply.outer(vecs[:, 0], vecs[:, 0])
        for k in range(1, dim):
            dots += np.multiply.outer(vecs[:, k], vecs[:, k])
        sim = dots / np.multiply.outer(nrm, nrm)
        ia, ib = np.triu_indices(n, 1)  # sorted ids -> vec_a < vec_b
        s = sim[ia, ib]
        m = s > 0.25
        lab = int(pdf["label"].iloc[0])
        return pd.DataFrame(
            {
                "vec_a": ids[ia[m]],
                "vec_b": ids[ib[m]],
                "label": np.full(int(m.sum()), lab, dtype="int32"),
                "sim_e6": np.floor(s[m] * 1e6).astype("int64"),
            }
        )

    # Null labels never block with anything (the oracle's equi-join
    # drops them); filter them out so the grouped-map never sees a
    # NULL group (current data has none — this pins the semantics).
    return (
        e.filter(F.col("label").isNotNull())
        .groupBy("label")
        .applyInPandas(
            _block_pairs, "vec_a long, vec_b long, label int, sim_e6 long"
        )
    )


@register("similarity_ann_lsh")  # rows-only: LSH bucketing is engine-specific
def similarity_ann_lsh(spark, sf_dir):
    """Sign-random-projection ANN: 8 seeded hyperplanes → 8-bit bucket;
    top-k within the probed buckets. Multi-probe: each query probes
    its own bucket plus the 8 buckets at Hamming distance 1 (the SRP
    property: a near neighbor differs in few sign bits, so the
    adjacent buckets are exactly where boundary-straddling neighbors
    land) — 9/256 of the corpus scored per query instead of 1/256,
    still pure equi-joins on the bucket id (buckets are disjoint, so
    no candidate dedup is needed). Recall vs brute force is asserted
    in tests/test_dedup_similarity.py."""
    import numpy as np

    rng = np.random.default_rng(42)
    planes = rng.standard_normal((8, 64)).tolist()

    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )

    def bucket(v):
        bits = [
            F.when(
                _dot_unrolled(v, F.array(*[F.lit(float(x)) for x in plane])) >= 0,
                F.lit(1),
            ).otherwise(F.lit(0))
            * F.lit(2**i)
            for i, plane in enumerate(planes)
        ]
        out = bits[0]
        for b in bits[1:]:
            out = out + b
        return out

    # Materialized: the bucket column is ~8×64 unrolled dot terms;
    # left lazy it recomputes on both consumers (query side + corpus
    # side) and inlines into the probe-join key, where the interpreted
    # Predicate path evaluates it per candidate row (measured ~2.5 s
    # extra at sf0.1).
    # Session artifact (r14; was a rotated per-invocation checkpoint):
    # the SRP bucket INDEX of the corpus — the LSH hash table an ANN
    # service persists and probes.
    from ._util import ser_checkpoint
    from ..memo import session_artifact

    def _build_bucketed():
        return ser_checkpoint(
            e.withColumn("bucket", bucket(F.col("v"))).withColumn(
                "nrm", _norm("v")
            )
        )

    bucketed = session_artifact(
        spark, sf_dir, "srp_lsh_buckets", _build_bucketed, persist=False
    )
    probe_arr = "array(qbucket, " + ", ".join(
        f"qbucket ^ {1 << i}" for i in range(8)
    ) + ")"
    q = (
        bucketed.filter(F.col("vec_id") % 100 == 0)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            F.col("bucket").alias("qbucket"),
            F.col("nrm").alias("qn"),
        )
        .select(
            "query_id",
            "qv",
            "qn",
            F.explode(F.expr(probe_arr)).alias("pbucket"),
        )
    )
    scored = (
        bucketed.join(
            F.broadcast(q),
            (F.col("bucket") == F.col("pbucket"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .withColumn(
            "sim",
            _dot_unrolled("qv", "v") / (F.col("qn") * F.col("nrm")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "rank",
            F.floor(F.col("sim") * F.lit(1e6)).cast("bigint").alias("sim_e6"),
        )
    )


# --------------------------------------------------------------------------
# IVF (inverted-file) ANN — the production scale path: a coarse
# quantizer assigns every vector to its nearest centroid cell; a query
# probes its 2 nearest cells (multi-probe, the standard recall lever —
# same trick ext_semdedup uses for cross-cell duplicate pairs).
# Centroids here are the "iteration 0" of a k-means: the 8 vectors
# with vec_id ≡ 0 (mod 251) — deterministic and derivable in SQL, so
# unlike most ANN indexes this one is fully oracle-checkable. At
# 100 TB: centroids come from a sampled k-means, the assignment is one
# broadcast join + argmax, and each probe is an equi-join on cell_id —
# never a cross join; probe-2 doubles the scored candidates (still
# n²/n_cells-bounded) and leaves the shuffle shape unchanged.
# --------------------------------------------------------------------------

_IVF_CENTROID_PRED = "vec_id % 251 = 0"
_IVF_NPROBE = 2

_IVF_ORACLE = f"""
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
cent AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE {_IVF_CENTROID_PRED}),
assigned AS (
  SELECT vec_id, label, v, cent_id,
    ROW_NUMBER() OVER (
      PARTITION BY vec_id
      ORDER BY {_SQL_COSINE.format(a="v", b="cv")} DESC, cent_id
    ) AS cent_rank
  FROM e CROSS JOIN cent
),
cells AS (SELECT vec_id, label, v, cent_id FROM assigned WHERE cent_rank = 1),
q AS (
  SELECT vec_id AS query_id, v AS qv, cent_id AS qcell
  FROM assigned WHERE vec_id % 100 = 0 AND cent_rank <= {_IVF_NPROBE}
),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         {_SQL_COSINE.format(a="q.qv", b="c.v")} AS sim
  FROM q JOIN cells c ON c.cent_id = q.qcell AND c.vec_id <> q.query_id
),
ranked AS (
  SELECT *, CAST(ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank, CAST(floor(sim * 1e6) AS BIGINT) AS sim_e6
FROM ranked WHERE rank <= 3
"""


def ivf_assignments(spark, sf_dir):
    """The IVF index as a session artifact: (vec_id, label, v, nrm,
    cent_id, cent_rank) for each vector's ``_IVF_NPROBE`` nearest
    cells. Shared by every consumer of the index — the similarity
    probe below and the hard-negative miner in ext_training10 — so
    the quantization subtree runs once per (application, corpus).

    Coarse quantization: top-2 cosine cells per vector. Two scale
    decisions, both measured on the sf1 probe (tools/make_scale_data):

    1. The rank is computed over NARROW (vec_id, cent_id, sim) rows
       with a map-side-combinable sort_array+slice aggregate, NOT a
       row_number window over the crossJoin output — the window
       shuffles N×n_cells rows each dragging the 64-double vector
       along; the narrow plan shuffles 24-byte triples and re-joins
       vectors ONCE by vec_id. Ordering matches the oracle
       bit-exactly: sort ascending on (-sim, cent_id) = ORDER BY sim
       DESC, cent_id (IEEE negation is exact).

    2. The assignment table is a SESSION ARTIFACT (the memo the PQ
       codebook, dedup fingerprints, and graph edges already use):
       both the cell side and the query side of the probe derive
       from it, and without the memo Catalyst executes the whole
       crossJoin+agg+join subtree once per consumer — at sf1 that
       was ~2/3 of a 30 s runtime. Production shape: the IVF index
       is built once and probed by every search, never re-derived
       per query."""
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    ).withColumn("nrm", _norm("v"))
    cent = e.filter(F.expr(_IVF_CENTROID_PRED)).select(
        F.col("vec_id").alias("cent_id"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("cnrm"),
    )
    def _build_assigned():
        # Batched numpy GEMM over mapInPandas, not the N×n_cells
        # crossJoin with per-row expression dots (sixth-decade fix —
        # the sf30 probe measured the expression path at ~350 ns/pair
        # either as a window or as the earlier narrow sort_array
        # aggregate; one (batch×64)@(64×C) BLAS call per Arrow batch
        # is ~100× cheaper per pair, the FAISS IVF-assignment shape).
        # Selection parity with the oracle's ROW_NUMBER: centroids
        # enter the matrix sorted by cent_id and the per-row argsort
        # is STABLE on -sim (exact ties -> smaller cent_id); near-tie
        # margins are pinned by tests/test_semdedup_margin.py.
        import numpy as np
        import pandas as pd

        cent_rows = cent.select("cent_id", "cv", "cnrm").collect()
        cent_rows.sort(key=lambda r: r.cent_id)
        cent_ids = np.array([r.cent_id for r in cent_rows], dtype=np.int64)
        cmat = np.array([r.cv for r in cent_rows], dtype=np.float64)
        cnrm_arr = np.array([r.cnrm for r in cent_rows], dtype=np.float64)
        bc = spark.sparkContext.broadcast((cent_ids, cmat, cnrm_arr))

        def assign(batches):
            ids, mat, nr = bc.value
            for pdf in batches:
                if not len(pdf):
                    continue
                m = np.stack(pdf["v"].to_numpy()).astype(np.float64)
                vn = pdf["nrm"].to_numpy().astype(np.float64)
                s = (m @ mat.T) / np.outer(vn, nr)
                top = np.argsort(-s, axis=1, kind="stable")[:, :_IVF_NPROBE]
                vid = pdf["vec_id"].to_numpy()
                k = top.shape[1]
                yield pd.DataFrame(
                    {
                        "vec_id": np.repeat(vid, k),
                        "cent_id": ids[top].ravel(),
                        "cent_rank": np.tile(
                            np.arange(1, k + 1, dtype=np.int64), len(vid)
                        ),
                    }
                )

        return (
            e.select("vec_id", "v", "nrm")
            .mapInPandas(assign, "vec_id long, cent_id long, cent_rank long")
            .join(e, "vec_id")
            .select("vec_id", "label", "v", "nrm", "cent_id", "cent_rank")
        )

    from ..memo import session_artifact

    return session_artifact(spark, sf_dir, "ivf_cell_assign", _build_assigned)


@register("similarity_ivf_cells", _IVF_ORACLE)
def similarity_ivf_cells(spark, sf_dir):
    assigned = ivf_assignments(spark, sf_dir)
    cells = assigned.filter(F.col("cent_rank") == 1).drop("cent_rank")
    # Multi-probe: each query fans out to its 2 nearest cells; cells
    # are disjoint, so the probe join yields each candidate pair once.
    q = assigned.filter(
        (F.col("vec_id") % 100 == 0) & (F.col("cent_rank") <= _IVF_NPROBE)
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
        F.col("cent_id").alias("qcell"),
    )
    scored = cells.join(
        F.broadcast(q),
        (F.col("cent_id") == F.col("qcell")) & (F.col("vec_id") != F.col("query_id")),
    ).withColumn(
        "sim", _dot_unrolled("qv", "v") / (F.col("qn") * F.col("nrm"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "rank",
            F.floor(F.col("sim") * F.lit(1e6)).cast("bigint").alias("sim_e6"),
        )
    )
