"""[EXT] SimHash near-duplicate detection.

56-bit SimHash over word-bigram features: each feature hashes to 56
bits (14 md5 hex digits); per document, each bit position accumulates
+1/-1 votes across features; the sign vector is the fingerprint.
Near-duplicates differ in few bits (small Hamming distance), so
candidate generation blocks on exact-match 7-bit bands of the
fingerprint (any of 8 bands equal → candidate), then filters on
bit_count(xor) — both equi-joins and integer ops, no pairwise scan.

Band width is the candidate-volume lever: 4-bit bands (the earlier
32-bit form) give only 16 buckets per band, ~8M candidate pairs at
sf0.1; 7-bit bands give 128, cutting candidates ~8× at identical
recall structure (the pigeonhole guarantee below is band-COUNT
bound, not band-width bound).

Cross-engine determinism: the 32 feature-hash bits are derived from
md5 hex digits with pure integer arithmetic (instr on the hex
alphabet, shift, mask), so Spark and the DuckDB oracle compute
identical fingerprints bit for bit.

Feature choice: word bigrams, not unigrams — the synthetic corpus
draws from a small vocabulary, so unigram feature sets barely differ
between documents; bigrams give ~|doc| features from a quadratically
larger space.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from . import register
from .ext_dedup import _SQL_CORPUS, _corpus, shingle_docs, sql_shingles

# 8 bands x 7 bits: the pigeonhole guarantee finds every pair with
# hamming < 8 (7 flipped bits cannot touch all 8 bands); pairs up to
# MAX_HAMMING are still found with high probability. 56 bits, not 64:
# the fingerprint is a SUM of 2^j terms and 2^63 would overflow
# signed 64-bit in both engines; 56 also hex-aligns (14 md5 digits).
N_BITS = 56
N_BANDS = 8
BAND_BITS = N_BITS // N_BANDS
MAX_HAMMING = 17  # same ~0.31 relative threshold as 10/32

_HEX = "0123456789abcdef"


def _bit_votes_spark():
    """Per-feature ±1 vote columns for each of the 32 bits, from md5
    hex digits of the `shingle` column."""
    md5 = F.md5(F.col("shingle"))
    votes = []
    for j in range(N_BITS):
        digit = F.instr(F.lit(_HEX), F.substring(md5, 1 + j // 4, 1)) - 1
        bit = F.shiftright(digit, j % 4).bitwiseAND(F.lit(1))
        votes.append((bit * 2 - 1).alias(f"v{j}"))
    return votes


def simhash_fingerprints(shingled):
    """(doc_id, simhash): sign-aggregated 32-bit fingerprint."""
    voted = shingled.select("doc_id", *_bit_votes_spark())
    aggs = [F.sum(F.col(f"v{j}")).alias(f"s{j}") for j in range(N_BITS)]
    sums = voted.groupBy("doc_id").agg(*aggs)
    fingerprint = None
    for j in range(N_BITS):
        bit = F.when(F.col(f"s{j}") > 0, F.lit(2**j).cast("long")).otherwise(F.lit(0).cast("long"))
        fingerprint = bit if fingerprint is None else fingerprint + bit
    return sums.select("doc_id", fingerprint.alias("simhash"))


def _sql_fingerprints() -> str:
    vote_cols = []
    for j in range(N_BITS):
        digit = f"(instr('{_HEX}', substr(md5(shingle), {1 + j // 4}, 1)) - 1)"
        bit = f"(({digit} >> {j % 4}) & 1)"
        vote_cols.append(f"SUM({bit} * 2 - 1) AS s{j}")
    fingerprint = " + ".join(
        f"(CASE WHEN s{j} > 0 THEN CAST({2**j} AS BIGINT) ELSE 0 END)"
        for j in range(N_BITS)
    )
    return f"""
sums AS (
  SELECT doc_id, {', '.join(vote_cols)}
  FROM sh GROUP BY doc_id
),
fp AS (SELECT doc_id, {fingerprint} AS simhash FROM sums)
"""


# Frequent-bucket cap: a band value shared by more than MAX_BUCKET
# documents is a corpus-wide common bit pattern, not a duplication
# signal — 7-bit bands have only 128 values, so bucket size grows
# linearly with the corpus and the self-join quadratically (the sf1
# probe measured 114M candidate pairs, 12 s, before the cap; ~2M
# after). Skipping oversized buckets is the standard LSH frequent-
# bucket guard (same family as dedup_prefix_filter's max-df cap);
# pairs whose ONLY collision is a mega-bucket are dropped — at the
# verification SFs no bucket reaches the cap (max 29 at sf0.001, 22 at
# sf0.01), so gate-scale results are unchanged, and the oracle mirrors
# the cap exactly either way.
MAX_BUCKET = 64

_SIMHASH_ORACLE = f"""
WITH corpus AS ({_SQL_CORPUS}),
sh AS ({sql_shingles(2)}),
{_sql_fingerprints()},
bands AS (
  {' UNION ALL '.join(
      f"SELECT doc_id, {b} AS band_idx, (simhash >> {b * BAND_BITS}) & {2**BAND_BITS - 1} AS band_val, simhash FROM fp"
      for b in range(N_BANDS)
  )}
),
kept AS (
  SELECT band_idx, band_val FROM bands
  GROUP BY band_idx, band_val HAVING COUNT(*) <= {MAX_BUCKET}
),
banded AS (
  SELECT b.doc_id, b.band_idx, b.band_val, b.simhash
  FROM bands b JOIN kept k
    ON b.band_idx = k.band_idx AND b.band_val = k.band_val
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS sim_a, b.simhash AS sim_b
  FROM banded a JOIN banded b
    ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST(bit_count(xor(sim_a, sim_b)) AS BIGINT) AS hamming
FROM cand
WHERE bit_count(xor(sim_a, sim_b)) <= {MAX_HAMMING}
"""


def simhash_fp_table(spark, sf_dir):
    """Session-persisted (doc_id, simhash) artifact — like the minhash
    fingerprint table, the 56-bit signature is a per-corpus index a
    production dedup job probes, not something each run re-derives.

    Both checkpoints inside the build are load-bearing, measured at
    sf0.1:
    - shingled: left lazy, the 56 vote expressions collapse into the
      un-materialized explode+distinct pipeline and the md5 is
      re-evaluated per vote column (~13 s); on a materialized input
      the same projection runs codegen'd with subexpression
      elimination in ~0.2 s.
    - fp: one compact row per doc; left lazy it would recompute on
      both sides of the band self-join and inline the 56-term
      fingerprint expression into the band-val join keys and the
      hamming join-condition filter (interpreted Predicate path).
    """
    from ..memo import session_artifact

    def build():
        from ._util import release_checkpoint

        shingled = shingle_docs(_corpus(spark, sf_dir), n=2).localCheckpoint()
        fp = simhash_fingerprints(shingled).localCheckpoint()
        # the shingle table (corpus-token-sized) is dead once the
        # compact fp table materializes — only fp survives the session
        release_checkpoint(shingled)
        return fp

    return session_artifact(spark, sf_dir, "simhash_fp", build, persist=False)


@register("dedup_simhash", _SIMHASH_ORACLE)
def dedup_simhash(spark, sf_dir):
    fp = simhash_fp_table(spark, sf_dir)
    bands = fp.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.shiftright(F.col("simhash"), b * BAND_BITS)
                        .bitwiseAND(F.lit(2**BAND_BITS - 1))
                        .alias("band_val"),
                    )
                    for b in range(N_BANDS)
                ]
            )
        ).alias("band"),
    ).select(
        "doc_id",
        F.col("band.band_idx").alias("band_idx"),
        F.col("band.band_val").alias("band_val"),
    )
    # Frequent-bucket cap (see MAX_BUCKET above): the kept-bucket list
    # is at most N_BANDS × 2^BAND_BITS rows — broadcast-sized at any
    # corpus size, so the guard costs one tiny semi-join.
    kept = (
        bands.groupBy("band_idx", "band_val")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") <= MAX_BUCKET)
        .select("band_idx", "band_val")
    )
    banded = bands.join(F.broadcast(kept), ["band_idx", "band_val"])
    a = banded.alias("a")
    b = banded.alias("b")
    # The band join carries doc ids ONLY — the fingerprints re-attach
    # from the broadcast-sized fp table INSIDE the join stage, so the
    # hamming verify runs BEFORE the pair-dedup exchange (r15, guide
    # §2.3): measured at sf0.1, the band self-join emits 630k
    # candidate pairs of which the multi-band DISTINCT removes only 2%
    # while the hamming filter removes 96% — the old
    # distinct-then-verify order shuffled 618k rows to dedup what the
    # filter reduces to 25.6k. Filter and distinct commute (hamming is
    # a pure function of the pair), so the result set is identical;
    # the broadcast probes and the codegen'd bit_count are evaluated
    # per pre-distinct candidate (2% more evaluations) in exchange for
    # a 24x smaller dedup shuffle.
    fa = fp.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sim_a"))
    fb = fp.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sim_b"))
    hamming = F.bit_count(F.expr("sim_a ^ sim_b")).cast("long")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .join(F.broadcast(fa), "doc_a")
        .join(F.broadcast(fb), "doc_b")
        .withColumn("hamming", hamming)
        .filter(F.col("hamming") <= MAX_HAMMING)
        .select("doc_a", "doc_b", "hamming")
        .distinct()
    )
