"""spark-submit entry point for the training-corpus cleaning chain
(operators/compose.py::training_corpus): documents parquet in,
cleaned + deduped + reweighted + shard-packed corpus parquet out.

Usage (cluster):
    spark-submit --py-files gocrd_spark.zip -m gocrd_spark.jobs.corpus_job \
        --input s3://bucket/documents --output s3://bucket/training \
        --budget-tokens 4096 --min-quality 0.3 \
        --rate crawl=0.3 --rate books=1.0 --default-rate 0.5

Usage (sandbox):
    python -m gocrd_spark.jobs.corpus_job --input /tmp/docs --output /tmp/corpus

Output is partitioned by shard_id (each training shard is its own
parquet partition, readable independently by a data loader). The
summary JSON on stdout carries stage counters; a rerun with the same
output dir refuses unless --overwrite (the chain is deterministic, so
a finished output never needs recomputing).
"""

from __future__ import annotations

import argparse
import json
import os


def _parse_rate(kv: str) -> tuple[str, float]:
    source, _, rate = kv.partition("=")
    if not source or not rate:
        raise argparse.ArgumentTypeError(f"expected SOURCE=RATE, got {kv!r}")
    return source, float(rate)


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description="gocrd-spark training-corpus job")
    parser.add_argument("--input", required=True, help="documents table (parquet dir)")
    parser.add_argument("--output", required=True, help="output dir (partitioned by shard_id)")
    parser.add_argument("--jaccard-threshold", type=float, default=0.5)
    parser.add_argument("--chunk-words", type=int, default=8)
    parser.add_argument("--rate", type=_parse_rate, action="append", default=[],
                        metavar="SOURCE=RATE", help="per-source sampling rate (repeatable)")
    parser.add_argument("--default-rate", type=float, default=1.0)
    parser.add_argument("--seed", default="mix1", help="sampling seed (new seed = new mix)")
    parser.add_argument("--budget-tokens", type=int, default=2048)
    parser.add_argument("--min-quality", type=float, default=0.3)
    parser.add_argument("--star-bucket", type=int, default=None,
                        help="mega-bucket star valve for the MinHash stage: "
                             "LSH buckets larger than this emit linear hub-star "
                             "candidate edges instead of quadratic pairs "
                             "(cluster-identical for boilerplate page classes; "
                             "see operators.dedup.minhash_candidates)")
    parser.add_argument("--out-format", default="parquet", choices=["parquet", "jsonl"],
                        help="parquet (default) or gzip JSONL shards (the "
                             "training-data interchange format)")
    parser.add_argument("--overwrite", action="store_true")
    parser.add_argument("--master", default=None, help="override spark master")
    args = parser.parse_args(argv)

    if os.path.exists(os.path.join(args.output, "_SUCCESS")) and not args.overwrite:
        parser.error(f"output {args.output} already complete (pass --overwrite)")

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from gocrd_spark import pins
    from gocrd_spark.operators.compose import training_corpus
    from gocrd_spark.session import get_spark

    # only stop a session this job created — under pytest (or any host
    # process with a live session) getOrCreate returns the caller's
    # session, which must survive the call
    owns_session = SparkSession.getActiveSession() is None
    spark = get_spark(master=args.master, app_name="gocrd-corpus")
    try:
        with pins.scope(spark):
            docs = spark.read.parquet(args.input)
            # kept: one chain execution feeds both the write and the stats
            out = pins.keep(training_corpus(
                docs,
                jaccard_threshold=args.jaccard_threshold,
                chunk_words=args.chunk_words,
                rates=dict(args.rate),
                default_rate=args.default_rate,
                seed=args.seed,
                budget_tokens=args.budget_tokens,
                min_quality=args.min_quality,
                star_bucket=args.star_bucket,
            ))
            writer = out.write.mode(
                "overwrite" if args.overwrite else "errorifexists"
            ).partitionBy("shard_id")
            if args.out_format == "jsonl":
                writer.option("compression", "gzip").json(args.output)
            else:
                writer.parquet(args.output)
            # stats from the (deterministic, now-cached) chain itself, not
            # a read-back: an all-filtered run writes only _SUCCESS and an
            # empty partitioned dir cannot infer a schema on read. The
            # input_docs count remains a zero-column parquet scan of the
            # input — cheap next to the chain, which now runs ONCE.
            stats = out.agg(
                F.count(F.lit(1)).alias("docs"),
                F.sum("n_tokens").alias("tokens"),
                F.countDistinct("shard_id").alias("shards"),
            ).collect()[0]
            print(
                json.dumps(
                    {
                        "input_docs": docs.count(),
                        "kept_docs": stats["docs"],
                        "total_tokens": int(stats["tokens"] or 0),
                        "shards": stats["shards"],
                        "output": args.output,
                    }
                )
            )
        return 0
    finally:
        if owns_session:
            spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
