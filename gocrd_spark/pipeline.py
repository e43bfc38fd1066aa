"""The extraction pipeline — declarative plan + resumable runner.

Shape (SURVEY.md §3.2, §4.3-§4.4): one columnar narrow map.

    pages (Iceberg/parquet scan; column-pruned to url+html,
           partition-pruned on warc_ts)
      -> [optional] salted repartition by xxhash64(url, salt)   # the ONE wide shuffle
      -> mapInPandas(row_kernel(extract_row))                   # Arrow batches, zero per-row Python
      -> parquet/Iceberg sink (resumable mode: executor-side
         per-commit-group writes + commit log)

Resumability (SURVEY.md §4.4): rows are assigned a deterministic
commit-group ``g = pmod(xxhash64(url, salt), n_groups)``; each group is
written atomically (tmp file + rename) followed by a commit marker
``_commits/g=<g>.json`` carrying counters. A restart lists commit
markers and anti-filters completed groups — committed work is never
recomputed, failed documents never fail the job (they emit error rows,
mirroring page/page.go:144-146 tolerance).
"""

from __future__ import annotations

import json
import os
import time
import uuid
from functools import partial
from typing import Iterator, Optional

import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .kernel import (
    EXTRACTED_SCHEMA,
    FEED_ITEMS_SCHEMA,
    HTML_TABLES_SCHEMA,
    JSONLD_BLOCKS_SCHEMA,
    METS_FILES_SCHEMA,
    PAGE_META_SCHEMA,
    SITEMAP_URLS_SCHEMA,
    extract_batch,
    extract_row,
    feed_items_kernel,
    group_id,
    html_tables_kernel,
    jsonld_blocks_kernel,
    mets_rows,
    page_meta_batch,
    page_meta_kernel,
    row_kernel,
    salted_partition_key,
    sitemap_urls_kernel,
)


def load_pages(
    spark: SparkSession, path: str, input_format: str = "parquet"
) -> DataFrame:
    """Source scan. ``parquet`` (default) prefers an Iceberg table
    identifier (catalog present) and falls back to a parquet directory —
    same 5-column schema either way. ``warc`` reads a directory of raw
    Common-Crawl shards (``*.warc`` / ``*.warc.gz``) with Spark's
    binaryFile source and parses them into the page shape via
    :func:`gocrd_spark.warc.warc_to_pages` — one shard per task, a pure
    narrow map; a malformed record yields one error page (html empty)
    alongside the shard's salvaged good pages, never a job failure."""
    if input_format == "warc":
        from gocrd_spark.warc import warc_to_pages

        shards = (
            spark.read.format("binaryFile")
            .option("pathGlobFilter", "*.warc*")
            .load(path)
            .select(
                F.xxhash64("path").alias("warc_id"),
                F.col("content").alias("warc"),
            )
        )
        pages = warc_to_pages(shards)
        # kernel contract: html is non-null bytes, so a warc-level
        # error row carries empty bytes (the kernel then emits its own
        # deterministic error row for it); the shard's parse
        # diagnostic survives in the extra `warc_error` column for
        # callers that read pages directly — downstream selects that
        # only take (url, html) simply drop it
        return pages.select(
            "url",
            "warc_ts",
            F.coalesce("html", F.lit(b"")).alias("html"),
            F.col("error").alias("warc_error"),
        )
    if input_format != "parquet":
        raise ValueError(f"unknown input_format: {input_format!r}")
    if "://" not in path and not os.path.exists(path) and "." in path:
        try:
            return spark.read.format("iceberg").load(path)
        except Exception:
            pass
    return spark.read.parquet(path)


def prune_warc_ts(df: DataFrame, start: Optional[str] = None, end: Optional[str] = None) -> DataFrame:
    """Time-range pruning on warc_ts.

    - Iceberg ``days(warc_ts)`` / day-partitioned parquet layout
      (``warc_day=YYYY-MM-DD`` directories, datagen.write_pages_partitioned):
      the derived warc_day predicate prunes whole partitions at planning
      time (PartitionFilters in .explain);
    - flat parquet: the warc_ts predicate pushes down as a row-group
      min/max filter (PushedFilters).
    Both predicates are applied when applicable — directory pruning cuts
    I/O, the row filter keeps exactness at day boundaries.
    """
    has_day = "warc_day" in df.columns
    if start:
        df = df.filter(F.col("warc_ts") >= F.lit(start).cast("timestamp"))
        if has_day:
            df = df.filter(F.col("warc_day") >= F.date_format(F.lit(start).cast("timestamp"), "yyyy-MM-dd"))
    if end:
        df = df.filter(F.col("warc_ts") < F.lit(end).cast("timestamp"))
        if has_day:
            df = df.filter(F.col("warc_day") <= F.date_format(F.lit(end).cast("timestamp"), "yyyy-MM-dd"))
    return df


def extract_pages(
    df: DataFrame,
    salt: int = 42,
    num_partitions: Optional[int] = None,
    oversize_bytes: Optional[int] = None,
    max_doc_bytes: Optional[int] = None,
) -> DataFrame:
    """The declarative extraction plan: project to (url, html) — column
    pruning reaches the scan — then the Arrow batch kernel.

    ``num_partitions`` triggers the salted url-hash repartition; leave
    None for shuffle-free operation when input splits are already
    balanced (the scan's own partitioning is reused — zero payload
    shuffles; on this box that is +23% throughput at 8 cores and 2->8
    scaling 0.94 vs 0.85, BENCH.md run F — and at 100 TB a blanket
    payload shuffle is the most expensive op a plan can carry).

    ``oversize_bytes`` enables two-tier routing (SURVEY.md §4.3
    document-size skew): documents larger than the threshold go through
    their own repartition so a handful of giant pages cannot straggle a
    partition full of normal ones. Output is the union of both tiers —
    row-for-row identical to the single-tier plan. Combined with
    num_partitions=None this is the 100 TB default: narrow map for the
    ~all-of-the-bytes small tier, a shuffle only for the giant tail.

    ``max_doc_bytes`` converts pathologically large payloads into error
    rows before parsing (executor OOM guard).
    """
    kernel = row_kernel(partial(extract_row, max_doc_bytes=max_doc_bytes or None), EXTRACTED_SCHEMA)
    sel = df.select("url", "html")
    if oversize_bytes:
        key = salted_partition_key(salt)
        size = F.coalesce(F.octet_length("html"), F.lit(0))  # null html -> small tier
        small = sel.filter(size <= oversize_bytes)
        if num_partitions:
            small = small.repartition(num_partitions, key)
        # With num_partitions=None the small tier stays a SHUFFLE-FREE
        # narrow map on the scan's own splits — at 100 TB a blanket
        # payload shuffle is the single most expensive op in the plan
        # (measured on the bench box: -23% throughput at 8 cores and
        # 2->8 scaling 0.85 vs 0.94 without, BENCH.md run F) — while the
        # oversize TAIL (a sliver of rows) still gets its own shuffle so
        # giant documents cannot straggle a scan partition.
        big = sel.filter(size > oversize_bytes).repartition(
            max((num_partitions or sel.sparkSession.sparkContext.defaultParallelism) // 4, 1),
            key,
        )
        return small.mapInPandas(kernel, EXTRACTED_SCHEMA).unionByName(
            big.mapInPandas(kernel, EXTRACTED_SCHEMA)
        )
    if num_partitions:
        sel = sel.repartition(num_partitions, salted_partition_key(salt))
    return sel.mapInPandas(kernel, EXTRACTED_SCHEMA)


def page_metadata(df: DataFrame) -> DataFrame:
    """Head-metadata extraction tier: (url, warc_ts, html) ->
    (url, warc_ts_epoch, title, description, canonical_url, og_title,
    lang_attr, robots, noindex, nofollow, error) via the page_meta
    Arrow batch kernel (htmlextract._MetaParser). Same plan shape as
    extract_pages: column-pruned scan -> narrow mapInPandas. Non-HTML
    payloads (PAGE-XML, METS, garbage) produce all-null metadata rows,
    not errors — at crawl scale absence of a <title> is data the
    curation tier filters on, not a failure path."""
    return df.select(
        "url", F.unix_timestamp("warc_ts").alias("warc_ts_epoch"), "html"
    ).mapInPandas(page_meta_kernel, PAGE_META_SCHEMA)


def feed_items(df: DataFrame) -> DataFrame:
    """Syndication extraction tier: (url, html) -> one row per RSS/Atom
    feed ITEM (url, feed_type, feed_title, item_idx, item_title,
    item_link, item_published, item_summary, error) via the
    feed_items_kernel Arrow batch kernel (gocrd_spark/feed.py — the
    namespace-blind xmlwalk walker, same machinery as METS/PAGE). Same
    plan shape as page_metadata: column-pruned scan -> narrow
    mapInPandas; the item fan-out happens inside the task, so payload
    bytes never move. Non-feed payloads produce one all-null row with
    the error string — at crawl scale "not a feed" is data the
    discovery tier filters on, not a failure path."""
    return df.select("url", "html").mapInPandas(feed_items_kernel, FEED_ITEMS_SCHEMA)


def sitemap_urls(df: DataFrame) -> DataFrame:
    """Sitemap-protocol extraction tier: (url, html) -> one row per
    <urlset>/<sitemapindex> entry (url, kind, entry_idx, loc, lastmod,
    changefreq, priority, error) via the sitemap_urls_kernel Arrow batch
    kernel (gocrd_spark/feed.py::parse_sitemap, the namespace-blind
    xmlwalk walker). Same narrow no-shuffle plan shape as feed_items;
    chain after robots_sitemaps discovery to seed the frontier."""
    return df.select("url", "html").mapInPandas(sitemap_urls_kernel, SITEMAP_URLS_SCHEMA)


def mets_files(
    df: DataFrame,
    use: str = "",
    file_id: str = "",
    mimetype: str = "",
) -> DataFrame:
    """Relational surface of Mets.Find (mets/mets.go:53-59): narrow
    flat-map from pages to matched file entries; empty predicate fields
    are wildcards. Predicate evaluated inside the tree walk (the
    reference pushes filters into its XPath the same way)."""
    rows = partial(mets_rows, use=use, file_id=file_id, mimetype=mimetype)
    return df.select("url", "html").mapInPandas(
        row_kernel(rows, METS_FILES_SCHEMA), METS_FILES_SCHEMA
    )


# ---------------------------------------------------------------------------
# Resumable runner: executor-side atomic group writes + commit log
# ---------------------------------------------------------------------------

def _commit_dir(output_dir: str) -> str:
    return os.path.join(output_dir, "_commits")


def committed_groups(output_dir: str) -> set[int]:
    cdir = _commit_dir(output_dir)
    if not os.path.isdir(cdir):
        return set()
    done = set()
    for name in os.listdir(cdir):
        if name.startswith("g=") and name.endswith(".json"):
            done.add(int(name[2 : -len(".json")]))
    return done


def read_commit_stats(output_dir: str) -> list[dict]:
    cdir = _commit_dir(output_dir)
    out = []
    if not os.path.isdir(cdir):
        return out
    for name in sorted(os.listdir(cdir)):
        if name.startswith("g=") and name.endswith(".json"):
            with open(os.path.join(cdir, name)) as fh:
                out.append(json.load(fh))
    return out


def run_extract_job(
    spark: SparkSession,
    input_path: str,
    output_dir: str,
    n_groups: int = 64,
    salt: int = 42,
    ts_start: Optional[str] = None,
    ts_end: Optional[str] = None,
    fail_group: Optional[int] = None,
    input_format: str = "parquet",
    with_metadata: bool = False,
) -> dict:
    """Resumable extraction run. Returns a summary dict of counters.

    ``with_metadata`` additionally writes the head-metadata side table
    (``meta/g=<g>/part-*.parquet``, kernel.page_meta_batch) in the SAME
    pass over the payload bytes — one scan, two tables, one commit
    marker per group covering both (the marker is written only after
    both files publish, so resume can never see a half-written group).

    Each commit group ``g`` (deterministic function of url+salt+n_groups)
    is written by exactly one task — ``repartition(n_groups, g)``
    co-locates all of a group's rows — as ``data/g=<g>/part-<uuid>.parquet``
    via tmp+rename, then marked done in the commit log. A rerun skips
    committed groups entirely (anti-filter on a column predicate, so
    Catalyst can prune before the shuffle).

    ``fail_group`` injects a mid-job failure for the kill/resume test.

    At 10^12-document scale: n_groups scales to O(100k); the commit dir
    maps to an object-store prefix; listing is one LIST call; group size
    = input/n_groups stays within executor memory because the kernel
    streams Arrow batches straight into an open ParquetWriter (no
    per-group buffering).
    """
    os.makedirs(os.path.join(output_dir, "data"), exist_ok=True)
    if with_metadata:
        os.makedirs(os.path.join(output_dir, "meta"), exist_ok=True)
    os.makedirs(_commit_dir(output_dir), exist_ok=True)

    # The commit log is only meaningful under the partitioning that wrote
    # it: group id = pmod(xxhash64(url, salt), n_groups). Pin (n_groups,
    # salt) in a manifest and refuse to resume under different values —
    # otherwise committed ids would be reinterpreted against a different
    # layout, silently skipping or duplicating rows.
    manifest_path = os.path.join(_commit_dir(output_dir), "manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as fh:
            manifest = json.load(fh)
        if manifest["n_groups"] != n_groups or manifest["salt"] != salt:
            raise ValueError(
                f"resume mismatch: output was written with n_groups="
                f"{manifest['n_groups']}, salt={manifest['salt']}; got "
                f"n_groups={n_groups}, salt={salt}"
            )
    else:
        tmp = manifest_path + f".{uuid.uuid4().hex}.tmp"
        with open(tmp, "w") as fh:
            json.dump({"n_groups": n_groups, "salt": salt}, fh)
        os.replace(tmp, manifest_path)

    done = committed_groups(output_dir)
    pages = prune_warc_ts(
        load_pages(spark, input_path, input_format), ts_start, ts_end
    )
    df = pages.select("url", "html").withColumn("g", group_id(n_groups, salt))
    if done:
        df = df.filter(~F.col("g").isin(*[int(g) for g in done]))
    df = df.repartition(n_groups, F.col("g"))

    data_dir = os.path.join(output_dir, "data")
    meta_dir = os.path.join(output_dir, "meta")
    commit_dir = _commit_dir(output_dir)
    inject_fail = fail_group
    emit_meta = with_metadata

    def writer_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pyarrow as pa
        import pyarrow.parquet as pq

        arrow_schema = pa.schema(
            [
                pa.field("url", pa.string()),
                pa.field("text", pa.string()),
                pa.field(
                    "spans",
                    pa.list_(
                        pa.struct(
                            [
                                pa.field("region_id", pa.string()),
                                pa.field("index", pa.int64()),
                                pa.field("byte_start", pa.int64()),
                                pa.field("byte_end", pa.int64()),
                                pa.field("char_start", pa.int64()),
                                pa.field("char_end", pa.int64()),
                                pa.field(
                                    "bbox",
                                    pa.struct(
                                        [
                                            pa.field("x0", pa.int64()),
                                            pa.field("y0", pa.int64()),
                                            pa.field("x1", pa.int64()),
                                            pa.field("y1", pa.int64()),
                                        ]
                                    ),
                                ),
                            ]
                        )
                    ),
                ),
                pa.field("error", pa.string()),
            ]
        )
        meta_schema = pa.schema(
            [pa.field("url", pa.string())]
            + [
                pa.field(n, pa.string())
                for n in ("title", "description", "canonical_url",
                          "og_title", "lang_attr", "robots")
            ]
            + [pa.field("noindex", pa.int64()), pa.field("nofollow", pa.int64()),
               pa.field("error", pa.string())]
        )
        # state per commit group seen in this task
        writers: dict[int, tuple] = {}  # g -> (writer, tmp_path, final_path, stats)
        meta_writers: dict[int, tuple] = {}  # g -> (writer, tmp_path, final_path)
        t0 = time.time()

        def get_writer(g: int):
            if g not in writers:
                gdir = os.path.join(data_dir, f"g={g}")
                os.makedirs(gdir, exist_ok=True)
                # deterministic final name per group: a task RETRY (or a
                # speculative attempt) re-publishing the group atomically
                # OVERWRITES the previous attempt's file instead of adding
                # a duplicate — group contents are deterministic, so last
                # writer wins with identical bytes. Tmp name stays unique
                # per attempt so concurrent attempts never share a handle.
                fname = f"part-{g:05d}.parquet"
                tmp = os.path.join(gdir, f".part-{uuid.uuid4().hex}.tmp")
                final = os.path.join(gdir, fname)
                stats = {"g": g, "input_rows": 0, "ok_rows": 0, "err_rows": 0,
                         "bytes_in": 0, "bytes_out": 0}
                writers[g] = (pq.ParquetWriter(tmp, arrow_schema, compression="zstd"),
                              tmp, final, stats)
                if emit_meta:
                    mgdir = os.path.join(meta_dir, f"g={g}")
                    os.makedirs(mgdir, exist_ok=True)
                    mtmp = os.path.join(mgdir, f".part-{uuid.uuid4().hex}.tmp")
                    mfinal = os.path.join(mgdir, fname)
                    meta_writers[g] = (
                        pq.ParquetWriter(mtmp, meta_schema, compression="zstd"),
                        mtmp, mfinal,
                    )
            return writers[g]

        for pdf in batches:
            for g_value, grp in pdf.groupby("g", sort=False):
                g = int(g_value)
                if inject_fail is not None and g == inject_fail:
                    raise RuntimeError(f"injected failure for group {g}")
                result = extract_batch(grp)
                writer, _, _, stats = get_writer(g)
                stats["input_rows"] += len(grp)
                n_err = int(result["error"].notna().sum())
                stats["err_rows"] += n_err
                stats["ok_rows"] += len(result) - n_err
                stats["bytes_in"] += int(grp["html"].map(
                    lambda b: len(b) if b is not None else 0).sum())
                stats["bytes_out"] += int(result["text"].map(
                    lambda t: len(t.encode("utf-8")) if t is not None else 0).sum())
                writer.write_table(pa.Table.from_pandas(result, schema=arrow_schema,
                                                        preserve_index=False))
                if emit_meta:
                    meta_writers[g][0].write_table(
                        pa.Table.from_pandas(
                            page_meta_batch(grp), schema=meta_schema,
                            preserve_index=False,
                        )
                    )
        # close + atomic publish + commit markers (meta publishes BEFORE
        # the marker: a group is either fully present in both tables or
        # uncommitted — never half)
        summaries = []
        for g, (writer, tmp, final, stats) in writers.items():
            writer.close()
            os.replace(tmp, final)  # atomic on one filesystem
            if emit_meta:
                mwriter, mtmp, mfinal = meta_writers[g]
                mwriter.close()
                os.replace(mtmp, mfinal)
            stats["wall_ms"] = int((time.time() - t0) * 1000)
            marker = os.path.join(commit_dir, f"g={g}.json")
            marker_tmp = marker + f".{uuid.uuid4().hex}.tmp"
            with open(marker_tmp, "w") as fh:
                json.dump(stats, fh)
            os.replace(marker_tmp, marker)
            summaries.append(stats)
        yield pd.DataFrame(
            summaries
            or {k: [] for k in ("g", "input_rows", "ok_rows", "err_rows",
                                 "bytes_in", "bytes_out", "wall_ms")}
        )

    summary_schema = (
        "g int, input_rows long, ok_rows long, err_rows long, "
        "bytes_in long, bytes_out long, wall_ms long"
    )
    stats_rows = df.mapInPandas(writer_kernel, summary_schema).collect()
    agg = {
        "groups_committed_this_run": len(stats_rows),
        "groups_previously_done": len(done),
        "input_rows": sum(r.input_rows for r in stats_rows),
        "ok_rows": sum(r.ok_rows for r in stats_rows),
        "err_rows": sum(r.err_rows for r in stats_rows),
        "bytes_in": sum(r.bytes_in for r in stats_rows),
        "bytes_out": sum(r.bytes_out for r in stats_rows),
    }
    return agg


def read_extracted(spark: SparkSession, output_dir: str) -> DataFrame:
    """Read back a resumable run's output."""
    return spark.read.parquet(os.path.join(output_dir, "data"))


def read_metadata(spark: SparkSession, output_dir: str) -> DataFrame:
    """Read back the head-metadata side table of a
    ``with_metadata=True`` run."""
    return spark.read.parquet(os.path.join(output_dir, "meta"))


def filter_unprocessed(pages: DataFrame, extracted: DataFrame) -> DataFrame:
    """Incremental-crawl support: keep only pages whose url has no row in
    a previous extraction output (left-anti join on url). Runs BEFORE the
    kernel, so re-crawled snapshots only pay for new documents; combined
    with the commit log this gives snapshot-over-snapshot incrementality.
    At scale both sides are large -> a shuffle anti-join on url; for a
    small 'already done' side Catalyst broadcasts it automatically."""
    done = extracted.select("url")
    return pages.join(done, "url", "left_anti")


def _bloom_positions(key: Column, num_bits: int, num_hashes: int) -> Column:
    """k independent bit positions for a key: xxhash64(key, i) mod m —
    per-probe seeds via the extra hashed column, all JVM-side."""
    return F.array(
        *[
            F.pmod(F.xxhash64(key, F.lit(i)), F.lit(num_bits))
            for i in range(num_hashes)
        ]
    )


def bloom_filter_unprocessed(
    pages: DataFrame,
    extracted: DataFrame,
    key: str = "url",
    num_bits: int = 1 << 22,
    num_hashes: int = 5,
) -> DataFrame:
    """Bloom-prefiltered incremental ingest — EXACT output of
    :func:`filter_unprocessed` with a done-set that is only ever
    SCANNED, never shuffled. At crawl scale the already-extracted set
    is the biggest table in the system, and the plain anti-join
    re-shuffles all of it on every incremental run; this variant pays
    two map-side passes over it instead:

    1. BUILD: each done key sets ``num_hashes`` bits in an
       ``num_bits``-bit Bloom filter, materialized as a (word_idx,
       bits) BIGINT table via bit_or — at most num_bits/64 rows
       (4 MiB of longs at the 2^22 default), broadcastable like any
       real bloom bitmap. Pure DataFrame ops (Spark 4 registers no
       SQL might_contain; this is the same data structure as an
       explicit table).
    2. PROBE: every incoming key's positions broadcast-join the bitmap;
       a key with ANY unset bit is DEFINITELY new (Bloom filters have
       no false negatives) and skips the exact check entirely.
    3. BACKSTOP: the remaining maybes (true re-fetches + the fp rate)
       are checked exactly — but as ``done semi-join
       broadcast(maybe_keys)`` followed by a small anti-join, so the
       done side streams map-side here too.

    Output == plain anti-join output for EVERY sizing (the oracle
    checks this); num_bits only tunes how much of the work the exact
    backstop sees (~0.6^num_hashes fp rate at the classic 1 bit/key/
    hash load — size num_bits >= ~1.44 * num_hashes * |done| for that
    regime, and an undersized filter degrades smoothly toward the
    plain anti-join). The maybe-key broadcast bounds: maybes are the
    re-fetch fraction of the INCREMENT (small), not of the corpus; for
    increments where that still overflows a broadcast, fall back to
    :func:`filter_unprocessed`.

    Returns the ``pages`` rows whose ``key`` has no row in
    ``extracted`` (same contract as filter_unprocessed).
    """
    # two consumers (bitmap build + the maybe semi-join backstop) —
    # pinned so the done-set scan + distinct runs once (the multiply-
    # consumed-intermediate rule). Footprint: one row per distinct done
    # key, keys only (no payload), held MEMORY_AND_DISK so it spills
    # rather than fails; lineage is cut, so losing an executor loses
    # its blocks and fails the query instead of recomputing them.
    done = (
        extracted.select(F.col(key).alias("_k"))
        .filter(F.col("_k").isNotNull())
        .distinct()
        .localCheckpoint(eager=False)
    )
    # anti-join parity for NULL keys: NULL never equi-matches done, so
    # filter_unprocessed KEEPS such rows — route them straight to the
    # output (they can't participate in hashing or the semi-join)
    null_key_pages = pages.filter(F.col(key).isNull())
    pages_k = pages.filter(F.col(key).isNotNull())
    pos = F.explode(
        _bloom_positions(F.col("_k"), num_bits, num_hashes)
    ).alias("_pos")
    bitmap = (
        done.select(pos)
        .select(
            F.shiftright(F.col("_pos"), 6).alias("_word"),
            F.expr("shiftleft(1L, cast(_pos & 63 as int))").alias("_bit"),
        )
        .groupBy("_word")
        .agg(F.bit_or("_bit").alias("_bits"))
    )
    probes = (
        pages_k.select(F.col(key).alias("_k"))
        .distinct()
        .select("_k", pos)
        .select(
            "_k",
            F.shiftright(F.col("_pos"), 6).alias("_word"),
            F.expr("shiftleft(1L, cast(_pos & 63 as int))").alias("_bit"),
        )
        .join(F.broadcast(bitmap), "_word", "left")
        .select(
            "_k",
            (
                F.coalesce(F.col("_bits"), F.lit(0)).bitwiseAND(F.col("_bit"))
                != 0
            ).alias("_hit"),
        )
        .groupBy("_k")
        .agg(F.min(F.when(F.col("_hit"), 1).otherwise(0)).alias("_all_hit"))
        # NOT pinned despite the definite/maybe fan-out: a lazy
        # checkpoint here hides the bitmap-probe join behind a
        # LogicalRDD, blinding the plan pin that certifies the done
        # side only ever reaches joins as a broadcast shape — the
        # replayed chain is increment-keys-only and cheap
    )
    definite_new = probes.filter(F.col("_all_hit") == 0).select("_k")
    maybe = probes.filter(F.col("_all_hit") == 1).select("_k")
    # done streams map-side against the broadcast maybes; the final
    # anti-join is maybe-vs-(seen maybes) — both small
    seen_maybe = done.join(F.broadcast(maybe), "_k", "left_semi")
    new_keys = definite_new.unionByName(
        maybe.join(seen_maybe, "_k", "left_anti")
    )
    return pages_k.join(
        new_keys.select(F.col("_k").alias(key)), key, "left_semi"
    ).unionByName(null_key_pages)


def golden_compare(extracted: DataFrame, golden: DataFrame) -> DataFrame:
    """Byte-identity audit of an extraction run against a golden table
    ``(url, text)`` — the harness join from SURVEY.md §2.2: the golden
    side is small, so it broadcasts; the extracted side never shuffles.

    Returns per-url ``(url, match, got_sha, want_sha)`` where match is
    sha256 equality of the UTF-8 text (null text -> null sha -> False
    unless both null).
    """
    got = extracted.select(
        "url", F.sha2(F.encode(F.col("text"), "utf-8"), 256).alias("got_sha")
    )
    want = golden.select(
        "url",
        F.sha2(F.encode(F.col("text"), "utf-8"), 256).alias("want_sha"),
        F.lit(True).alias("audited"),  # distinguishes null-sha from no-golden-row
    )
    return got.join(F.broadcast(want), "url", "left").select(
        "url",
        (
            F.coalesce(F.col("audited"), F.lit(False))  # url absent from golden -> False
            & (
                F.coalesce(F.col("got_sha") == F.col("want_sha"), F.lit(False))
                | (F.col("got_sha").isNull() & F.col("want_sha").isNull())
            )
        ).alias("match"),
        "got_sha",
        "want_sha",
    )


def html_tables(df: DataFrame) -> DataFrame:
    """Structured-data mining tier: (url, html) -> one row per <table>
    CELL (url, table_idx, row_idx, col_idx, is_header, cell) via the
    html_tables_kernel Arrow batch kernel (htmlextract._TableParser —
    tag-soup-tolerant implied closes, nested-table isolation). Same
    column-pruned scan -> narrow mapInPandas plan shape as
    page_metadata/feed_items; pages without tables emit zero rows."""
    return df.select("url", "html").mapInPandas(html_tables_kernel, HTML_TABLES_SCHEMA)


def jsonld_blocks(df: DataFrame) -> DataFrame:
    """Schema.org structured-data tier: (url, html) -> one row per
    JSON-LD script block (url, block_idx, json). Field extraction is
    deliberately NOT in the kernel — downstream code uses the built-in
    JVM-side get_json_object/from_json over the 'json' column (the
    Spark-first split: Python only where the DOM walk demands it).
    Same zero-shuffle scan -> mapInPandas shape as the other
    extraction tiers."""
    return df.select("url", "html").mapInPandas(jsonld_blocks_kernel, JSONLD_BLOCKS_SCHEMA)


def extraction_report(out: DataFrame) -> DataFrame:
    """Extraction health summary — the monitoring table an extraction
    job publishes next to its output: one row per error class (NULL =
    extracted OK) with page counts and exact integer ppm shares.
    One key-only groupBy; the total is a 1-row broadcast scalar.
    Input is extract_pages shape (needs the ``error`` column)."""
    tot = out.agg(F.count(F.lit(1)).cast("long").alias("t"))
    return (
        out.groupBy("error")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pages"))
        .crossJoin(F.broadcast(tot))
        .select(
            "error",
            "n_pages",
            F.expr("(1000000 * n_pages) div t").alias("share_ppm"),
        )
    )
