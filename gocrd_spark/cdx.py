"""CDX(J) index support — the Common-Crawl INDEX format next to the
WARC shards (`warc.py`): one line per capture,

    <SURT urlkey> <14-digit timestamp> <JSON blob>

where the JSON carries url/mime/status/digest/length/offset/filename
(the byte range of the record inside its WARC file). Public format
(pywb CDXJ / Common Crawl cc-index); implemented from the spec, no
external libs, all columnar — the parse is split-limit-3 + from_json,
the SURT key is regexp/array ops, and the fetch planner is the
operator a 100 TB pipeline actually needs the index FOR: answer "which
byte ranges of which WARC files do I fetch for this url subset /
time range" WITHOUT touching the payload data.

Scale notes: cc-index shards are sorted by urlkey, so a urlkey-prefix
predicate is a pushed-down range scan (PushedFilters on a sorted
parquet materialization; partition pruning if the index is
urlkey-range-partitioned). The latest-only dedup is the same
max(struct(ts, tiebreak)) partial-agg shape as urls.url_dedup — the
shuffle carries (urlkey, struct) only. The per-file grouping bounds
its collect by records-per-WARC-file (a Common Crawl shard holds
~30-60k records), never corpus size.

SURT subset (documented like the xmlpath §1.3 subset): lowercase;
scheme dropped; a single leading ``www.`` label dropped; host labels
reversed and comma-joined; default ports dropped; path kept verbatim
(lowercased), query kept verbatim behind ``?``; no per-param sorting.
That matches cc-index keys for the overwhelming host/path case; the
full SURT spec's param canonicalization is out of scope and would
only change key EQUALITY for querystring captures.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

CDX_JSON_SCHEMA = (
    "url string, mime string, status string, digest string, "
    "length string, offset string, filename string"
)

PARSED_SCHEMA_COLS = (
    "urlkey",
    "ts",
    "url",
    "mime",
    "status",
    "digest",
    "length",
    "offset",
    "filename",
)


def surt_key(url: Column) -> Column:
    """SURT canonical key for a url (subset above): reversed comma-host
    + ')' + lowercased path[?query]."""
    u = F.lower(url)
    # strip scheme, then a single leading www.
    rest = F.regexp_replace(u, r"^[a-z][a-z0-9+.-]*://", "")
    rest = F.regexp_replace(rest, r"^www\.", "")
    hostport = F.regexp_extract(rest, r"^([^/?#]*)", 1)
    path = F.regexp_extract(rest, r"^[^/?#]*([^#]*)", 1)  # /path?query
    host = F.regexp_extract(hostport, r"^([^:]*)", 1)
    port = F.regexp_extract(hostport, r"(:\d+)$", 1)
    port = F.when(port.isin(":80", ":443"), F.lit("")).otherwise(port)
    rev = F.concat_ws(",", F.reverse(F.split(host, r"\.")))
    # cc-index keys ALWAYS carry the '/' after ')': a path-less
    # query url ('example.com?q=1' -> path '?q=1') must become
    # ')/?q=1', or prefix scans on 'host)/' miss it and the same page
    # with/without the slash splits across two keys
    norm_path = (
        F.when(path == "", F.lit("/"))
        .when(~path.startswith("/"), F.concat(F.lit("/"), path))
        .otherwise(path)
    )
    return F.concat(rev, port, F.lit(")"), norm_path)


def format_cdx_line(
    url: Column,
    ts: Column,
    status: Column,
    digest: Column,
    length: Column,
    offset: Column,
    filename: Column,
    mime: Column | None = None,
) -> Column:
    """One CDX line from typed columns (the writer half of the round
    trip; tests and the driver query build synthetic indexes with it)."""
    blob = F.to_json(
        F.struct(
            url.alias("url"),
            (mime if mime is not None else F.lit("text/html")).alias("mime"),
            status.cast("string").alias("status"),
            digest.alias("digest"),
            length.cast("string").alias("length"),
            offset.cast("string").alias("offset"),
            filename.alias("filename"),
        )
    )
    return F.concat_ws(
        " ", surt_key(url), F.date_format(ts, "yyyyMMddHHmmss"), blob
    )


def parse_cdx(lines: DataFrame, col: str = "value") -> DataFrame:
    """Parse CDX lines (one per row in ``col``) into typed columns.
    Malformed lines (fewer than 3 fields / bad JSON / bad timestamp)
    yield NULL fields rather than failures — index shards are
    crawler-written and a bad line must cost one row, never the scan
    (same tolerance contract as warc.parse_warc_salvage)."""
    parts = F.split(F.col(col), " ", 3)
    # try_* variants throughout: ANSI mode (Spark 4 default) makes
    # to_timestamp/cast THROW on malformed input, and a crawler-written
    # index line must never kill the scan
    j = F.from_json(F.try_element_at(parts, F.lit(3)), CDX_JSON_SCHEMA)
    return lines.select(
        F.try_element_at(parts, F.lit(1)).alias("urlkey"),
        F.try_to_timestamp(
            F.try_element_at(parts, F.lit(2)), F.lit("yyyyMMddHHmmss")
        ).alias("ts"),
        j["url"].alias("url"),
        j["mime"].alias("mime"),
        j["status"].try_cast("int").alias("status"),
        j["digest"].alias("digest"),
        j["length"].try_cast("long").alias("length"),
        j["offset"].try_cast("long").alias("offset"),
        j["filename"].alias("filename"),
    )


def cdx_fetch_plan(
    cdx: DataFrame,
    urlkey_prefix: str | None = None,
    start_ts: str | None = None,
    end_ts: str | None = None,
    ok_only: bool = True,
    latest_only: bool = True,
) -> DataFrame:
    """The index's reason to exist: select captures (urlkey prefix,
    time range, HTTP 200, latest snapshot per urlkey) and emit the
    byte-range fetch rows (urlkey, ts, url, filename, offset, length)
    a range-GET fetcher consumes. Prefix/time predicates are plain
    pushed-down filters; latest-only is one (urlkey)-keyed partial agg
    carrying max(struct(ts, offset, ...)) — never the line text."""
    df = cdx.filter(F.col("urlkey").isNotNull() & F.col("ts").isNotNull())
    if urlkey_prefix is not None:
        df = df.filter(F.col("urlkey").startswith(urlkey_prefix))
    if start_ts is not None:
        df = df.filter(F.col("ts") >= F.lit(start_ts).cast("timestamp"))
    if end_ts is not None:
        df = df.filter(F.col("ts") < F.lit(end_ts).cast("timestamp"))
    if ok_only:
        df = df.filter(F.col("status") == 200)
    if latest_only:
        picked = df.groupBy("urlkey").agg(
            F.max(
                F.struct("ts", "offset", "url", "filename", "length")
            ).alias("w")
        )
        df = picked.select(
            "urlkey",
            F.col("w.ts").alias("ts"),
            F.col("w.url").alias("url"),
            F.col("w.filename").alias("filename"),
            F.col("w.offset").alias("offset"),
            F.col("w.length").alias("length"),
        )
    else:
        df = df.select("urlkey", "ts", "url", "filename", "offset", "length")
    return df


FETCHED_PAGES_SCHEMA = (
    "urlkey string, url string, warc_ts timestamp, html binary, error string"
)


def fetch_planned_pages(plan: DataFrame, base_dir: str) -> DataFrame:
    """Index-driven SELECTIVE extraction: read ONLY the planned byte
    ranges out of the WARC shards and parse each fetched record into
    the page shape — the whole point of carrying offsets in the index:
    a 100 TB re-extraction that touches 1% of urls reads ~1% of the
    bytes instead of every shard.

    Execution shape: repartition on filename + sortWithinPartitions
    (filename, offset) so each task opens every file ONCE and reads its
    ranges in ascending-offset order (sequential-ish IO, the access
    pattern object stores and disks both like); the reads go through
    ``pyarrow.fs.FileSystem.from_uri`` inside the Arrow kernel, so
    file://, hdfs:// and s3:// paths all work without Spark driver
    involvement. Common-Crawl layout assumed: each record is its own
    gzip member at (offset, length) for ``.gz`` files, raw record bytes
    otherwise. A failed range (missing file, bad gzip, bad record)
    emits one error row — never a task failure (the warc.py tolerance
    contract).

    Returns (urlkey, url, warc_ts, html, error); ``url`` is the
    INDEX's url (join key back to the plan), the record's own
    WARC-Target-URI rides in the parsed page and discrepancies surface
    as an error annotation.
    """
    from typing import Iterator as _Iter

    import pandas as pd

    sep = "" if base_dir.endswith("/") else "/"

    def gen(batches: "_Iter[pd.DataFrame]") -> "_Iter[pd.DataFrame]":
        from pyarrow import fs as pafs

        from gocrd_spark.warc import http_body, parse_warc, _warc_ts

        cur_name = None
        cur_file = None

        def read_range(fname: str, offset: int, length: int) -> bytes:
            nonlocal cur_name, cur_file
            if fname != cur_name:
                if cur_file is not None:
                    cur_file.close()
                filesystem, p = pafs.FileSystem.from_uri(
                    base_dir + sep + fname
                    if "://" in base_dir
                    else "file://" + base_dir + sep + fname
                )
                cur_file = filesystem.open_input_file(p)
                cur_name = fname
            cur_file.seek(offset)
            return cur_file.read(length)

        try:
            for batch in batches:
                out = {
                    "urlkey": [],
                    "url": [],
                    "warc_ts": [],
                    "html": [],
                    "error": [],
                }
                for urlkey, url, fname, offset, length in zip(
                    batch["urlkey"], batch["url"], batch["filename"],
                    batch["offset"], batch["length"],
                ):
                    html, ts, err = None, pd.Timestamp("1970-01-01"), None
                    try:
                        blob = read_range(fname, int(offset), int(length))
                        recs = parse_warc(blob)  # gunzips members itself
                        if len(recs) != 1:
                            raise ValueError(
                                f"range holds {len(recs)} records, expected 1"
                            )
                        rec = recs[0]
                        ts, ts_err = _warc_ts(rec["headers"].get("warc-date", ""))
                        html = http_body(rec["payload"])
                        rec_url = rec["headers"].get("warc-target-uri", "")
                        if rec_url and rec_url != url:
                            err = f"index url != record url: {rec_url!r}"
                        elif ts_err:
                            err = ts_err
                    except Exception as exc:  # one bad range = one error row
                        err = f"{type(exc).__name__}: {exc}"
                    out["urlkey"].append(urlkey)
                    out["url"].append(url)
                    out["warc_ts"].append(ts)
                    out["html"].append(html)
                    out["error"].append(err)
                yield pd.DataFrame(out)
        finally:
            # the last opened handle outlives the filename-switch close
            # path — release it at generator exit, not at GC
            if cur_file is not None:
                cur_file.close()

    return (
        plan.select("urlkey", "url", "filename", "offset", "length")
        .repartition(F.col("filename"))
        .sortWithinPartitions("filename", "offset")
        .mapInPandas(gen, FETCHED_PAGES_SCHEMA)
    )


def cdx_file_summary(plan: DataFrame) -> DataFrame:
    """Per-WARC-file fetch totals for scheduling: how many records and
    bytes each file contributes (one partial-agg groupBy on filename —
    at most one group per WARC shard)."""
    return plan.groupBy("filename").agg(
        F.count(F.lit(1)).alias("n_records"),
        F.sum("length").alias("total_bytes"),
        F.min("offset").alias("min_offset"),
        F.max("offset").alias("max_offset"),
    )
