"""SparkSession construction with the engine's scale defaults.

Tuned for the document-extraction workload (SURVEY.md §4.2-§4.3):
rows are megabyte-scale XML payloads, so Arrow batches are capped low;
AQE handles post-shuffle coalescing and skew splits.
"""

from __future__ import annotations

import os
from typing import Optional

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


DEFAULT_ARROW_ROWS = 128
# Spark 4's direct bound on Arrow batch PAYLOAD: with the row cap alone,
# 128 megabyte-scale crawl rows could hold ~hundreds of MB per batch;
# the byte cap splits fat batches regardless of row count, so the row
# cap can sit where SMALL rows are efficient. 64 MiB keeps worst-case
# per-worker batch memory bounded; inert for KB-scale rows.
DEFAULT_ARROW_BYTES = 64 * 1024 * 1024


def get_spark(
    master: Optional[str] = None,
    app_name: str = "gocrd-spark",
    shuffle_partitions: int = DEFAULT_SHUFFLE_PARTITIONS,
    arrow_batch_rows: int = DEFAULT_ARROW_ROWS,
    extra: Optional[dict[str, str]] = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    - ``arrow_batch_rows`` caps ``maxRecordsPerBatch`` and
      ``maxBytesPerBatch`` caps the payload: r05 ran 64-row batches as
      the only guard against megabyte-scale document rows; with the
      byte cap carrying that guard, the row cap moves to 128 — measured
      +26% extraction throughput at local[32] on the bench corpus
      (16.7k -> 21.1k docs/s salted plan; 2->8 scaling pair holds >=
      0.83), because KB-scale rows were paying per-batch Python
      round-trip overhead at 64.
    - AQE on: coalesces small post-shuffle partitions and splits skewed
      ones at runtime — the salted url-hash shuffle benefits directly.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    # shuffle/spill to tmpfs when available: this VM's root disk is slow and
    # the salted-repartition shuffle is I/O-bound through it (a real cluster
    # would use local NVMe); /dev/shm holds the whole working set here
    local_dir = "/dev/shm/spark-local" if os.path.isdir("/dev/shm") else None
    builder = (
        SparkSession.builder.master(master or f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # pin UTC so timestamp truncation/casts match the DuckDB oracles'
        # naive-UTC semantics on any host timezone (engine-parity contract)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # InferFiltersFromGenerate inserts `size(g)>0 AND isnotnull(g)`
        # under every explode and pushes it through projections to the
        # scan — for this suite's generators (tokenize + n-gram-shingle
        # HOF chains) that evaluates the generator expression ~3x per
        # row (twice in the inferred filter, once in the projection;
        # measured 12x on contamination_flags, 5.5s -> 0.5s). The rows
        # it would prune (documents whose shingle array is empty) are
        # ~zero in any real corpus, at every scale, so the rule is pure
        # cost here.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch_rows))
        .config("spark.sql.execution.arrow.maxBytesPerBatch", str(DEFAULT_ARROW_BYTES))
        # parquet source tuning for the fat-binary-column layout
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    for key, value in (extra or {}).items():
        builder = builder.config(key, value)
    return builder.getOrCreate()


def stop_spark() -> None:
    session = SparkSession.getActiveSession()
    if session is not None:
        session.stop()
