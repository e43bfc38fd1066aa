"""Streaming ingestion that maintains the durable near-dup index —
the crawl-frontier shape: documents arrive as a stream, each
micro-batch is near-dup-checked against EVERYTHING ingested before it
(durable banded MinHash table, operators/dedup.py), and then folded
into that table so the next batch sees it. The pieces are the already
oracle-checked batch operators; this module is only the foreachBatch
glue, engineered so a micro-batch RETRY (Structured Streaming's
failure mode) cannot corrupt anything:

- signature fold-in is :func:`minhash_append` — its commit-marker
  batches are idempotent by construction (a re-run of batch N sees the
  marker and no-ops);
- the docs store and pairs output write to per-batch subdirectories
  with mode=overwrite — a retry overwrites its own partial output
  instead of duplicating rows;
- the pairs emitted for batch N involve at least one batch-N doc (the
  incremental contract). Within the stream a retry happens BEFORE the
  next batch starts, so the re-run replaces exactly the same pair set;
  an out-of-band re-run (manual backfill after later batches) may
  additionally see later docs in the table and emit those pairs too —
  consumers therefore key pairs by (doc_a, doc_b), and the pytest
  exercises exactly this harsher case.

At crawl scale every step inherits the batch operators' accounting:
candidate cost is |batch| x bucket density (never corpus²), the
verify join carries candidate docs only, and the table grows by one
parquet append per batch.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DOCS_STREAM_SCHEMA = "doc_id long, ts timestamp, text string"


def _batch_dir(root: str, batch_id: int) -> str:
    return os.path.join(root, f"batch={batch_id}")


def ingest_dedup_batch(
    batch: DataFrame,
    batch_id: int,
    table_path: str,
    store_dir: str,
    pairs_dir: str,
    threshold: float = 0.5,
) -> None:
    """Process ONE micro-batch (callable directly for tests / backfill):
    near-dup pairs vs (durable table + this batch), then fold the batch
    into table + docs store. Idempotent per batch_id."""
    from gocrd_spark import pins
    from gocrd_spark.operators.dedup import minhash_append, minhash_incremental

    spark = batch.sparkSession
    with pins.scope(spark):  # releases this micro-batch's pins
        docs = pins.keep(batch.select("doc_id", "text"))
        if docs.isEmpty():
            return
        # corpus text for verification = previously ingested + this
        # batch. Existence is checked EXPLICITLY (scheme-agnostic fsio):
        # a bare except here once classified transient read failures as
        # "first batch", silently dropping every new-vs-old pair while
        # the batch still committed — a real IO error must surface
        from gocrd_spark import fsio

        if fsio.exists(spark, store_dir):
            prior = spark.read.parquet(store_dir).select("doc_id", "text")
        else:  # genuinely the first batch: store not created yet
            prior = spark.createDataFrame([], "doc_id long, text string")
        # dropDuplicates: on an out-of-band retry the store already
        # holds this batch's docs — verification must see each doc once
        corpus = prior.unionByName(docs).dropDuplicates(["doc_id"])
        pairs = minhash_incremental(
            docs, corpus, table_path, threshold=threshold
        )
        # per-batch overwrite => a retried micro-batch replaces its own
        # output instead of appending duplicates
        pairs.write.mode("overwrite").parquet(_batch_dir(pairs_dir, batch_id))
        docs.write.mode("overwrite").parquet(_batch_dir(store_dir, batch_id))
        minhash_append(docs, table_path, batch_id=f"stream-{batch_id}")


def run_ingest_dedup(
    spark: SparkSession,
    input_dir: str,
    table_path: str,
    store_dir: str,
    pairs_dir: str,
    checkpoint_dir: str,
    threshold: float = 0.5,
) -> None:
    """availableNow drain of a document stream through the incremental
    near-dup pipeline. Setup contract: the durable table at
    ``table_path`` must already exist (create it from a seed corpus —
    possibly empty — with :func:`operators.dedup.minhash_signatures`),
    and ``store_dir`` must hold the TEXT of every doc already in the
    table (write the seed docs to ``store_dir + "/batch=seed"``) —
    verification joins shingles from the store, so a table doc missing
    from the store can bucket-collide but never emit a verified pair.
    ``store_dir`` and ``pairs_dir`` then accumulate per-batch
    subdirectories."""
    stream = (
        spark.readStream.schema(DOCS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
    )

    def sink(batch: DataFrame, batch_id: int) -> None:
        ingest_dedup_batch(
            batch, batch_id, table_path, store_dir, pairs_dir, threshold
        )

    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def ingested_pairs(spark: SparkSession, pairs_dir: str) -> DataFrame:
    """All pairs emitted so far (union of the per-batch outputs)."""
    return spark.read.option("basePath", pairs_dir).parquet(
        pairs_dir + "/batch=*"
    )
