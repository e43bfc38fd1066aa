"""Arrow batch kernels — the only Python↔JVM surface of the engine.

Everything here is ``mapInPandas``-shaped (iterator of pandas DataFrames
in, iterator out): zero per-row Python UDFs (north rule). The kernels
call the pure-Python document model (gocrd_spark.extract), which is unit
tested without Spark; this module only adds batching and schema shaping.

Every row kernel in the engine goes through one scaffold,
:func:`row_kernel` (one batch: :func:`row_batch`). A kernel is a plain
function ``fn(*args) -> list of tuples``: it maps one input row's
``args`` columns to its output rows, and the scaffold

- prepends the input row's ``keys`` columns to every output tuple;
- assembles the output columns in ``schema`` order, and keeps them when
  a batch is empty;
- builds every ``LongType`` column as nullable ``Int64``, so a NULL in
  the batch never coerces 64-bit values to float64 (53-bit mantissa);
- where ``schema`` has an ``error`` column and ``fn`` raises, emits one
  row: the keys, NULLs, and ``"<ExceptionClass>: <message>"`` — the
  exception path, kept apart from the normal path (Tuplex's split).
  Without an ``error`` column the exception fails the task.

``state``, when given, is called once per partition and its result is
passed to ``fn`` as the first argument (a cache that lives exactly as
long as one partition, never as long as a reused Python worker).
"""

from __future__ import annotations

from functools import partial
from itertools import repeat
from typing import Callable, Iterator, Optional

import pandas as pd

from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .extract import extract_any_document, mets_records
from .feed import parse_feed, parse_sitemap
from .htmlextract import extract_jsonld, extract_tables, page_meta


def _fields(schema) -> list[tuple[str, bool]]:
    """(name, is_long) per top-level column of a StructType or of a DDL
    string such as ``"id long, feature array<float>"``."""
    if isinstance(schema, StructType):
        return [(f.name, isinstance(f.dataType, LongType)) for f in schema.fields]
    fields, depth, start = [], 0, 0
    for i, ch in enumerate(schema + ","):
        depth += (ch == "<") - (ch == ">")
        if ch == "," and depth == 0:
            name, typ = schema[start:i].split(None, 1)
            fields.append((name, typ.strip().lower() in ("long", "bigint")))
            start = i + 1
    return fields


def row_batch(
    fn: Callable, schema, keys=("url",), args=("html",)
) -> Callable[[pd.DataFrame], pd.DataFrame]:
    """The scaffold for one batch: pandas frame in, frame out."""
    fields = _fields(schema)
    has_error = any(name == "error" for name, _ in fields)
    value_names = [name for name, _ in fields[len(keys):]]

    def batch(pdf: pd.DataFrame) -> pd.DataFrame:
        rows: list[tuple] = []
        key_rows = zip(*(pdf[k] for k in keys)) if keys else repeat((), len(pdf))
        for key, vals in zip(key_rows, zip(*(pdf[a] for a in args))):
            try:
                rows.extend([key + tuple(t) for t in fn(*vals)])
            except Exception as exc:
                if not has_error:
                    raise
                msg = f"{type(exc).__name__}: {exc}"
                rows.append(key + tuple(msg if n == "error" else None for n in value_names))
        if not rows:  # Arrow casts an empty object column to any type
            return pd.DataFrame(
                {name: pd.array([], dtype="Int64" if is_long else object) for name, is_long in fields}
            )
        return pd.DataFrame(
            {
                name: pd.array(col, dtype="Int64") if is_long else list(col)
                for (name, is_long), col in zip(fields, zip(*rows))
            }
        )

    return batch


def row_kernel(
    fn: Callable, schema, keys=("url",), args=("html",), state: Optional[Callable] = None
) -> Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]]:
    """The ``mapInPandas`` kernel for ``fn`` (module doc); named after
    ``fn`` so the plan's MapInPandas node says which kernel it runs."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        f = partial(fn, state()) if state is not None else fn
        return map(row_batch(f, schema, keys, args), batches)

    kernel.__name__ = getattr(fn, "func", fn).__name__
    return kernel


def as_bytes(payload) -> bytes:
    """A binary cell as bytes; NULL reads as the empty payload."""
    return bytes(payload) if payload is not None else b""


# long, not int: the reference parses @index and coordinates with
# strconv.Atoi (64-bit), so values beyond int32 are legal input that must
# not overflow the Arrow conversion
BBOX_TYPE = StructType(
    [
        StructField("x0", LongType()),
        StructField("y0", LongType()),
        StructField("x1", LongType()),
        StructField("y1", LongType()),
    ]
)

SPAN_TYPE = StructType(
    [
        StructField("region_id", StringType()),
        StructField("index", LongType()),
        StructField("byte_start", LongType()),
        StructField("byte_end", LongType()),
        StructField("char_start", LongType()),
        StructField("char_end", LongType()),
        StructField("bbox", BBOX_TYPE),
    ]
)

EXTRACTED_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("text", StringType()),
        StructField("spans", ArrayType(SPAN_TYPE)),
        StructField("error", StringType()),
    ]
)

METS_FILES_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("file_id", StringType()),
        StructField("mimetype", StringType()),
        StructField("flocat_type", StringType()),
        StructField("flocat_url", StringType()),
    ]
)


def extract_row(html, max_doc_bytes: Optional[int] = None) -> list[tuple]:
    """html -> (text, spans, error), routed per document kind
    (PAGE-XML reading-order walk, HTML boilerplate strip, METS -> error
    row; extract.extract_any_document). ``max_doc_bytes`` guards
    executor memory at crawl scale: a pathological multi-GB document
    becomes an error row instead of an OOM-killed worker."""
    data = as_bytes(html)
    if max_doc_bytes is not None and len(data) > max_doc_bytes:
        return [(None, None, f"document too large: {len(data)} > max_doc_bytes={max_doc_bytes}")]
    result = extract_any_document(data)
    return [(result["text"], result["spans"], result["error"])]


def extract_batch(pdf: pd.DataFrame, max_doc_bytes: Optional[int] = None) -> pd.DataFrame:
    """One Arrow batch of (url, html) -> (url, text, spans, error)."""
    return row_batch(partial(extract_row, max_doc_bytes=max_doc_bytes), EXTRACTED_SCHEMA)(pdf)


def mets_rows(html, use: str = "", file_id: str = "", mimetype: str = "") -> list[tuple]:
    """METS file resolution (Mets.Find, mets/mets.go:53-59) with the
    predicate pushed into the tree walk — rows that match nothing emit
    nothing (UDTF-shaped)."""
    return [
        (rec["file_id"], rec["mimetype"], rec["flocat_type"], rec["flocat_url"])
        for rec in mets_records(as_bytes(html), use=use, file_id=file_id, mimetype=mimetype)
    ]


PAGE_META_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("warc_ts_epoch", LongType()),
        StructField("title", StringType()),
        StructField("description", StringType()),
        StructField("canonical_url", StringType()),
        StructField("og_title", StringType()),
        StructField("lang_attr", StringType()),
        StructField("robots", StringType()),
        StructField("noindex", LongType()),
        StructField("nofollow", LongType()),
        StructField("error", StringType()),
    ]
)

_PAGE_META_FIELDS = PAGE_META_SCHEMA.fieldNames()[2:]


def page_meta_row(html) -> list[tuple]:
    """html -> head metadata columns (htmlextract.page_meta)."""
    meta = page_meta(as_bytes(html))
    return [tuple(meta[k] for k in _PAGE_META_FIELDS)]


# (url, html) -> (url, <head metadata>): the resumable job's metadata
# side table; page_meta_kernel adds warc_ts_epoch as a second key
page_meta_batch = row_batch(
    page_meta_row,
    StructType([f for f in PAGE_META_SCHEMA.fields if f.name != "warc_ts_epoch"]),
)
page_meta_kernel = row_kernel(page_meta_row, PAGE_META_SCHEMA, keys=("url", "warc_ts_epoch"))


def salted_partition_key(salt: int = 42):
    """Deterministic salted url-hash key (SURVEY.md §4.3): defeats
    host/domain-level input skew; keyed on (url, salt) so partition
    contents are stable across runs given the same snapshot + salt + N —
    the property the commit-log resume relies on (SURVEY.md §4.4)."""
    return F.xxhash64(F.col("url"), F.lit(salt))


def group_id(num_groups: int, salt: int = 42):
    """Logical commit-group id: pmod(xxhash64(url, salt), N)."""
    return F.pmod(salted_partition_key(salt), F.lit(num_groups)).cast("int")


FEED_ITEMS_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("feed_type", StringType()),
        StructField("feed_title", StringType()),
        StructField("item_idx", LongType()),
        StructField("item_title", StringType()),
        StructField("item_link", StringType()),
        StructField("item_published", StringType()),
        StructField("item_summary", StringType()),
        StructField("error", StringType()),
    ]
)


def feed_item_rows(html) -> list[tuple]:
    """html -> one row per feed ITEM (gocrd_spark.feed.parse_feed);
    non-feed / unparseable payloads emit one all-null row with the error
    string (absence is data, same contract as page_meta_row)."""
    parsed = parse_feed(as_bytes(html))
    head = (parsed["feed_type"], parsed["feed_title"])
    if not parsed["items"]:
        return [head + (None,) * 5 + (parsed["error"],)]
    return [
        head + (it["idx"], it["title"], it["link"], it["published"], it["summary"], parsed["error"])
        for it in parsed["items"]
    ]


feed_items_kernel = row_kernel(feed_item_rows, FEED_ITEMS_SCHEMA)

SITEMAP_URLS_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("kind", StringType()),
        StructField("entry_idx", LongType()),
        StructField("loc", StringType()),
        StructField("lastmod", StringType()),
        StructField("changefreq", StringType()),
        StructField("priority", StringType()),
        StructField("error", StringType()),
    ]
)


def sitemap_entry_rows(html) -> list[tuple]:
    """html -> one row per sitemap ENTRY (feed.parse_sitemap);
    non-sitemap payloads emit one all-null row with the error string."""
    parsed = parse_sitemap(as_bytes(html))
    if not parsed["entries"]:
        return [(parsed["kind"],) + (None,) * 5 + (parsed["error"],)]
    return [
        (parsed["kind"], e["idx"], e["loc"], e["lastmod"], e["changefreq"], e["priority"],
         parsed["error"])
        for e in parsed["entries"]
    ]


sitemap_urls_kernel = row_kernel(sitemap_entry_rows, SITEMAP_URLS_SCHEMA)

HTML_TABLES_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("table_idx", LongType()),
        StructField("row_idx", LongType()),
        StructField("col_idx", LongType()),
        StructField("is_header", LongType()),
        StructField("cell", StringType()),
    ]
)


def table_cell_rows(html) -> list[tuple]:
    """html -> one row per table CELL (htmlextract.extract_tables):
    (table_idx, row_idx, col_idx, is_header, cell). Pages without tables
    contribute zero rows — absence is data."""
    return [
        (c["table_idx"], c["row_idx"], c["col_idx"], c["is_header"], c["cell"])
        for c in extract_tables(as_bytes(html))["cells"]
    ]


html_tables_kernel = row_kernel(table_cell_rows, HTML_TABLES_SCHEMA)

JSONLD_BLOCKS_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("block_idx", LongType()),
        StructField("json", StringType()),
    ]
)


def jsonld_block_rows(html) -> list[tuple]:
    """html -> one row per <script type=application/ld+json> block
    (block_idx, json raw text). Pages without structured data
    contribute zero rows."""
    return list(enumerate(extract_jsonld(as_bytes(html))["blocks"]))


jsonld_blocks_kernel = row_kernel(jsonld_block_rows, JSONLD_BLOCKS_SCHEMA)
