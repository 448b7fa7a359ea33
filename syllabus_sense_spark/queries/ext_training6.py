"""[EXT] BPE vocabulary induction — distributed tokenizer training.

The missing member of the training-ops family: `bpe_pair_counts`
(ext_training4.py) counts symbol pairs once; this operator runs the
actual *iterative* merge loop (Sennrich et al. 2016): count adjacent
symbol pairs over the word-type table, merge the most frequent pair
everywhere, repeat. Three unrolled iterations, like
`graph_pagerank_trade` — an inherently iterative algorithm made
hash-checkable because every step is exact integer/string work.

Determinism is the engineering content:

1. word-type table: tokenize the corpus (split on space), group to
   (word, freq) — map-side-combined, the only pass over the corpus;
2. initial symbolization: characters joined by single spaces
   (`regexp_replace(word, '(.)', '$1 ')` + trim) — no end-of-word
   marker, documented simplification;
3. pair counting: adjacent symbol pairs weighted by word freq —
   explode + groupBy, partial aggregation does the heavy lifting;
4. argmax with a TOTAL tiebreak (count DESC, left symbol ASC, right
   symbol ASC) so the chosen merge is engine-independent;
5. the merge itself is pure string algebra, identical in any SQL
   engine: double every separator, replace the single-space-bounded
   pattern ``' a  b '`` with ``' ab '`` (doubling makes adjacent
   pair occurrences non-overlapping, so replace-all scans left to
   right exactly like greedy BPE), then collapse doubles and trim.

Two registered queries share the loop:
- `training_bpe_merges` — the merge table itself (iteration, pair,
  merged symbol, weighted count): the artifact a tokenizer-training
  job persists;
- `training_bpe_encode` — the ENCODE side: corpus token mass before
  vs after applying the learned merges (what the token-budget /
  packing operators consume, and the compression the training run
  reports).

The DuckDB oracles unroll the same iterations as CTEs and must match
bit-for-bit.

Scale posture (the real thing is this loop run 30k times): the
corpus is touched ONCE (stage 1); every iteration after that runs on
the word-TYPE table (≪ corpus, Zipf), kept as a localCheckpoint so
lineage doesn't deepen with the merge count; the argmax is a tiny
all-to-one TakeOrdered; the chosen pair broadcasts back as a 1-row
dimension. No stage shuffles anything larger than the type table.

Reference parity: the reference has no tokenizer, but its pipeline
feeds an LLM (syllabus_ai_graph.py:260); vocabulary induction is the
canonical pretraining-side counterpart of that seam.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..tables import load
from . import register

_N_MERGES = 3

# One iteration of the oracle, templated on the round number.
_ITER_CTE = r"""
s{k} AS (SELECT string_split(seq, ' ') AS sym, freq FROM w{k}),
p{k} AS (
  SELECT sym[i] AS a, sym[i+1] AS b, CAST(SUM(freq) AS BIGINT) AS cnt
  FROM s{k}, UNNEST(range(1, len(sym))) AS r(i)
  GROUP BY 1, 2
),
b{k} AS (SELECT a, b, cnt FROM p{k} ORDER BY cnt DESC, a, b LIMIT 1),
w{next} AS (
  SELECT trim(replace(replace(
           ' ' || replace(w{k}.seq, ' ', '  ') || ' ',
           ' ' || x.a || '  ' || x.b || ' ',
           ' ' || x.a || x.b || ' '), '  ', ' ')) AS seq,
         w{k}.freq AS freq
  FROM w{k}, b{k} x
)"""

# Shared CTE chain: tokens → w1 → (p1,b1,w2) → … → w{N+1}
_CTES = (
    r"""
WITH tokens AS (
  SELECT t.word AS word, CAST(COUNT(*) AS BIGINT) AS freq
  FROM documents d, UNNEST(string_split(d.text, ' ')) AS t(word)
  WHERE t.word <> ''
  GROUP BY t.word
),
w1 AS (
  SELECT trim(regexp_replace(word, '(.)', '\1 ', 'g')) AS seq, freq
  FROM tokens
),"""
    + ",".join(_ITER_CTE.format(k=k, next=k + 1) for k in range(1, _N_MERGES + 1))
)

_BPE_ORACLE = _CTES + "".join(
    f"""
SELECT CAST({k} AS BIGINT) AS iter, a AS pair_left, b AS pair_right,
       a || b AS merged, cnt AS pair_count
FROM b{k}
{"UNION ALL" if k < _N_MERGES else ""}"""
    for k in range(1, _N_MERGES + 1)
)

_ENCODE_ORACLE = (
    _CTES
    + f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_word_types,
       CAST(SUM(freq) AS BIGINT) AS n_words,
       CAST(SUM(freq * len(string_split(seq, ' '))) AS BIGINT)
         AS tokens_before,
       CAST((SELECT SUM(freq * len(string_split(seq, ' ')))
             FROM w{_N_MERGES + 1}) AS BIGINT) AS tokens_after
FROM w1
"""
)


def _pair_counts(words):
    """(a, b, cnt): adjacent symbol pairs weighted by word freq."""
    return (
        words.select(F.split("seq", " ").alias("sym"), "freq")
        .filter(F.size("sym") >= 2)
        .select(
            "freq",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(sym)-2),"
                    " i -> struct(sym[i] AS a, sym[i+1] AS b))"
                )
            ).alias("p"),
        )
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("freq").alias("cnt"))
    )


def _merge_best(words, best):
    """Apply the 1-row broadcast merge to every word sequence."""
    return words.crossJoin(F.broadcast(best)).select(
        F.expr(
            "trim(replace(replace("
            " ' ' || replace(seq, ' ', '  ') || ' ',"
            " ' ' || a || '  ' || b || ' ',"
            " ' ' || a || b || ' '), '  ', ' '))"
        ).alias("seq"),
        "freq",
    )


def _word_types(spark, sf_dir):
    """The corpus's word-TYPE frequency table (char-spaced seq, freq)
    as a session artifact — the tokenizer-training input every BPE
    query reads. Re-deriving it per invocation re-ran the corpus
    explode+groupBy each time (r14); the merge LOOP below stays live
    per invocation (its state is the query's result path)."""
    from ..memo import session_artifact
    from ._util import ser_checkpoint

    def build():
        docs = load(spark, sf_dir, "documents").select("text")
        return ser_checkpoint(
            docs.select(F.explode(F.split("text", " ")).alias("word"))
            .filter(F.col("word") != "")
            .groupBy("word")
            .agg(F.count(F.lit(1)).alias("freq"))
            .select(
                F.trim(F.regexp_replace("word", "(.)", "$1 ")).alias("seq"),
                "freq",
            )
        )

    return session_artifact(spark, sf_dir, "bpe_word_types", build, persist=False)


def _collected_types(spark, sf_dir):
    """The vocabulary as a list[(seq, freq)] when it fits under the
    ``driver_types`` guard (the merge loop then runs as driver
    arithmetic), else None. Memoized per session
    (``memo.session_memo``): one bounded fetch per session, over the
    word-type artifact (a serialized checkpoint, not the corpus)."""
    from ..guards import fetch
    from ..memo import session_memo

    def build():
        pdf = fetch("driver_types", _word_types(spark, sf_dir))
        if pdf is None:
            return None
        return list(zip(pdf["seq"].tolist(), pdf["freq"].tolist()))

    return session_memo(spark, sf_dir, "bpe_collected_types", build)


def _driver_merges(types):
    """The merge loop as exact driver arithmetic on the collected
    vocabulary. Semantics identical to the distributed/SQL path:
    greedy left-to-right non-overlapping merge (what the
    space-doubled replace computes), argmax with the (cnt DESC,
    a ASC, b ASC) total tiebreak compared on UTF-8 BYTES (Spark's
    UTF8String and DuckDB's binary collation both compare bytes),
    integer counts throughout. Returns (merge table rows, final
    types)."""
    cur = list(types)
    merges = []
    for k in range(1, _N_MERGES + 1):
        counts: dict = {}
        for seq, freq in cur:
            sym = seq.split(" ")
            for i in range(len(sym) - 1):
                p = (sym[i], sym[i + 1])
                counts[p] = counts.get(p, 0) + freq
        if not counts:
            # mirror the distributed path: an empty argmax empties the
            # word table (crossJoin with zero rows) and contributes no
            # merge row — subsequent rounds stay empty
            cur = []
            continue
        (a, b), cnt = min(
            counts.items(),
            key=lambda kv: (-kv[1], kv[0][0].encode(), kv[0][1].encode()),
        )
        merges.append((k, a, b, a + b, cnt))
        nxt = []
        for seq, freq in cur:
            sym = seq.split(" ")
            out = []
            i = 0
            while i < len(sym):
                if i + 1 < len(sym) and sym[i] == a and sym[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            nxt.append((" ".join(out), freq))
        cur = nxt
    return merges, cur


def _run_merges(spark, sf_dir):
    """Shared DISTRIBUTED loop (the above-guard path). Returns
    (per-iteration best rows, initial word table w1, final word table
    w{N+1})."""
    from ._util import iterate, rotate_checkpoint

    bests = []

    def merge(words):
        best = (
            _pair_counts(words)
            .orderBy(F.desc("cnt"), "a", "b")
            .limit(1)
            .localCheckpoint()
        )
        bests.append(best)
        return _merge_best(words, best)

    # w1 is the session artifact: iterate never releases it (the
    # encode query reads it; memo.clear does)
    initial = _word_types(spark, sf_dir)
    words = iterate(initial, merge, _N_MERGES)
    # survivors back the returned DataFrames; the next invocation
    # rotates them out as one generation
    rotate_checkpoint("ext_training6._run_merges", words, *bests)
    merge_rows = [
        best.select(
            F.lit(k).cast("bigint").alias("iter"),
            F.col("a").alias("pair_left"),
            F.col("b").alias("pair_right"),
            F.concat("a", "b").alias("merged"),
            F.col("cnt").alias("pair_count"),
        )
        for k, best in enumerate(bests, 1)
    ]
    return merge_rows, initial, words


@register("training_bpe_merges", _BPE_ORACLE)
def training_bpe_merges(spark, sf_dir):
    types = _collected_types(spark, sf_dir)
    if types is not None:
        merges, _ = _driver_merges(types)
        # literal JVM rows, NOT createDataFrame: a python-list
        # DataFrame is an ExistingRDD of pickled rows that spins a
        # Python worker on every action (~0.4 s/write measured);
        # range+inline(literals) is pure JVM local work
        if not merges:
            return spark.range(0, 0, 1, 1).select(
                F.lit(0).cast("bigint").alias("iter"),
                F.lit("").alias("pair_left"),
                F.lit("").alias("pair_right"),
                F.lit("").alias("merged"),
                F.lit(0).cast("bigint").alias("pair_count"),
            )
        return spark.range(0, 1, 1, 1).select(
            F.inline(
                F.array(
                    *[
                        F.struct(
                            F.lit(k).cast("bigint").alias("iter"),
                            F.lit(a).alias("pair_left"),
                            F.lit(b).alias("pair_right"),
                            F.lit(m).alias("merged"),
                            F.lit(c).cast("bigint").alias("pair_count"),
                        )
                        for (k, a, b, m, c) in merges
                    ]
                )
            )
        )
    merge_rows, _, _ = _run_merges(spark, sf_dir)
    out = merge_rows[0]
    for m in merge_rows[1:]:
        out = out.unionAll(m)
    return out


@register("training_bpe_encode", _ENCODE_ORACLE)
def training_bpe_encode(spark, sf_dir):
    types = _collected_types(spark, sf_dir)
    if types is not None:
        _, final = _driver_merges(types)
        return spark.range(0, 1, 1, 1).select(
            F.lit(len(types)).cast("bigint").alias("n_word_types"),
            F.lit(sum(f for _, f in types)).cast("bigint").alias("n_words"),
            F.lit(sum(f * (s.count(" ") + 1) for s, f in types))
            .cast("bigint")
            .alias("tokens_before"),
            F.lit(sum(f * (s.count(" ") + 1) for s, f in final))
            .cast("bigint")
            .alias("tokens_after"),
        )
    _, initial, final = _run_merges(spark, sf_dir)
    before = initial.agg(
        F.count(F.lit(1)).alias("n_word_types"),
        F.sum("freq").alias("n_words"),
        F.sum(F.col("freq") * F.size(F.split("seq", " ")))
        .cast("bigint")
        .alias("tokens_before"),
    )
    after = final.agg(
        F.sum(F.col("freq") * F.size(F.split("seq", " ")))
        .cast("bigint")
        .alias("tokens_after")
    )
    return before.crossJoin(F.broadcast(after))
