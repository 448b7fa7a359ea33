"""CLI entry — the engine's equivalent of the reference's driver
script (/root/reference/main.py:14-22: parse one DOCX, run the
workflow, save next to it).

    python -m syllabus_sense_spark DOCX_PATH_OR_DIR OUTPUT_DIR \
        [--marker "Core element"] [--topics N] [--format parquet|json]

Differences are exactly the Spark recasting: the input may be a
directory of documents (the scan distributes file-per-task), the limit
is a plan-level ``LIMIT``, and the sink is a partitioned append
instead of a whole-file rewrite.

A second subcommand runs the training-data curation chain over a
JSONL corpus dump (every stage is an operator verified in isolation;
this is the production composition):

    python -m syllabus_sense_spark curate CORPUS_JSONL OUTPUT_DIR \
        [--langs en,fr,es] [--min-tokens 5] [--capacity 4096] [--shards 8]

ingest+quarantine → lang/length filter → exact dedup → sequence
packing → balanced shard export, with a one-line JSON funnel report.
The whole chain is one Spark execution, the shard write: the report's
``quarantined``/``ingested`` counts and its ``deduped`` row count are
observations (``DataFrame.observe``) collected on that write, so
nothing is cached, counted separately or read back.
"""

from __future__ import annotations

import argparse
import json
import sys


def curate(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(prog="syllabus_sense_spark curate")
    ap.add_argument("input", help="JSONL corpus dump (file or directory)")
    ap.add_argument("output", help="shard output directory")
    ap.add_argument("--langs", default="en,fr,es", help="comma-separated keep set")
    ap.add_argument("--min-tokens", type=int, default=5)
    ap.add_argument("--capacity", type=int, default=4096, help="pack size (tokens)")
    ap.add_argument("--shards", type=int, default=8)
    args = ap.parse_args(argv)

    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from .functions.text import space_token_count
    from .operators.packing import pack_sequences
    from .session import get_spark
    from .sinks.shards import write_shards
    from .sources.jsonl import observe_quarantine, read_documents_jsonl

    spark = get_spark("syllabus-sense-curate")
    funnel, sink = Observation("curate_funnel"), Observation("curate_sink")
    clean = observe_quarantine(read_documents_jsonl(spark, args.input), funnel)

    n_tok = space_token_count(F.col("text"))
    kept = clean.filter(
        F.col("lang").isin(*args.langs.split(",")) & (n_tok >= args.min_tokens)
    )
    # Every surviving field comes from one line, the one with the least
    # non-NULL doc_id (ties broken by source, lang), whatever order the
    # shuffle delivers the duplicates in. One struct min rather than a
    # min_by per field, which would shuffle a copy of doc_id per field.
    survivor = F.struct(F.col("doc_id").isNull(), "doc_id", "source", "lang")
    deduped = kept.groupBy(F.md5("text").alias("content_hash")).agg(
        F.min(survivor).alias("s"), F.min(n_tok).alias("n_tok")
    )
    packed = pack_sequences(
        deduped.select("s.doc_id", "s.source", "s.lang", "n_tok"),
        size_col="n_tok",
        capacity=args.capacity,
    )
    write_shards(
        packed.observe(sink, F.count(F.lit(1)).alias("rows")),
        args.output,
        n_shards=args.shards,
    )
    print(
        json.dumps(
            {
                "quarantined": funnel.get["quarantined"],
                "ingested": funnel.get["ingested"],
                "deduped": sink.get["rows"],
                "shards": args.shards,
                "output": args.output,
            }
        )
    )
    return 0


def main(argv: list[str] | None = None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if argv and argv[0] == "curate":
        return curate(argv[1:])
    ap = argparse.ArgumentParser(prog="syllabus_sense_spark")
    ap.add_argument("input", help="a .docx file or a directory of them")
    ap.add_argument("output", help="output directory (partitioned by topic)")
    ap.add_argument("--marker", default="Core element", help="topic marker text")
    ap.add_argument("--topics", type=int, default=None, help="limit topics (A19)")
    ap.add_argument("--format", choices=("parquet", "json"), default="parquet")
    ap.add_argument("--subject", default="chemistry", help="subject context (A8)")
    ap.add_argument(
        "--batch-size", type=int, default=5, help="generation micro-batch size (A10)"
    )
    args = ap.parse_args(argv)

    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from .operators.sessionize import group_topics, sessionize_elements
    from .pipeline.flagship import flagship_from_elements
    from .session import get_spark
    from .sinks import write_questions_json, write_questions_parquet
    from .sources.docx import docx_topics

    spark = get_spark("syllabus-sense-cli")
    elements = docx_topics(spark, args.input, marker=args.marker)
    if args.topics is not None:
        # A19: driver limit on topics — plan-level, not a collect loop.
        sess = sessionize_elements(elements)
        keep = (
            group_topics(sess)
            .select("doc_id", "topic_id")
            .orderBy("doc_id", "topic_id")
            .limit(args.topics)
        )
        sess = sess.join(F.broadcast(keep), ["doc_id", "topic_id"], "left_semi")
        questions = flagship_from_elements(
            sess.drop("topic_id"), doc_col="doc_id",
            subject=args.subject, batch_size=args.batch_size,
        )
    else:
        questions = flagship_from_elements(
            elements, doc_col="doc_id",
            subject=args.subject, batch_size=args.batch_size,
        )

    writer = (
        write_questions_parquet if args.format == "parquet" else write_questions_json
    )
    # Count the rows this run writes as a side metric of the write
    # job itself: re-reading the append-mode sink would count every
    # earlier run's rows too, and costs a partition-discovery job.
    written = Observation("cli_sink")
    writer(questions.observe(written, F.count(F.lit(1)).alias("rows")), args.output)
    print(f"wrote questions to {args.output} ({written.get['rows']} rows)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
