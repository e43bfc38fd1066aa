"""WARC container support — the Common-Crawl file format the north
star's page table is materialized FROM (ISO 28500: records of
``WARC/1.0\\r\\n`` header blocks + Content-Length-delimited payloads).
From-scratch reader/writer over the public spec; no external libs.

Reader scope (documented like pdfparse's):

- WARC/1.0 and WARC/1.1 records; header keys case-insensitive;
  payload length strictly from ``Content-Length`` (the spec's rule —
  payloads are binary and may contain anything, including fake record
  headers, so scanning for separators would be wrong);
- plain files AND gzip members (Common Crawl stores one gzip member
  per record; multi-member streams are decoded member-by-member);
- ``response`` records carrying an HTTP envelope have the envelope
  stripped (split at the first CRLFCRLF) when extracting page bytes;
- ``WARC-Truncated`` records (crawler stored a partial payload) are
  pages with their partial bytes, flagged — not parse failures;
- ``revisit`` records (WARC 1.1 §6.7 — the crawler's own dedup signal,
  stored without content) surface via :func:`warc_revisits` as rows
  keyed by WARC-Refers-To / payload digest;
- malformed records (bad length, truncated payload, missing version
  line): :func:`parse_warc` raises ValueError with offsets;
  :func:`parse_warc_salvage` returns the good prefix + the diagnostic,
  and the Spark surfaces use it — one bad record costs one error row,
  never the shard.

Spark surface: ``warc_to_pages`` maps (warc_id, warc binary) rows to
the input_hint page shape (url, warc_ts, html) via ``mapInPandas`` —
one WARC file per input row, the Common-Crawl shard unit (~1 GB): at
crawl scale the files table is a binary-file listing and the parse is
a pure narrow map, so the plan is Scan -> MapInPandas exactly like the
extraction flagship; downstream feeds ``pipeline.extract_pages``
unchanged (pytest runs WARC -> pages -> kernel -> kant golden sha).
"""

from __future__ import annotations

import zlib
from datetime import datetime

_CRLF = b"\r\n"
_MAX_HEADER_BYTES = 64 * 1024  # a header block beyond this is hostile


def _gunzip_members(data: bytes, max_bytes: int = 1 << 31) -> bytes:
    """Decompress a (possibly multi-member) gzip stream; cap output."""
    out = []
    total = 0
    rest = data
    while rest:
        d = zlib.decompressobj(wbits=zlib.MAX_WBITS | 16)
        try:
            chunk = d.decompress(rest, max_bytes - total)
        except zlib.error as exc:
            # corrupt member: surface as the module's error class so a
            # bad shard becomes ONE error row, never a task failure
            raise ValueError(f"corrupt gzip member: {exc}") from None
        if not d.eof and d.unconsumed_tail:
            raise ValueError("gzip stream exceeds size cap")
        out.append(chunk)
        total += len(chunk)
        if not d.eof:
            break  # truncated final member: let record parsing report it
        rest = d.unused_data
    return b"".join(out)


def parse_warc(data: bytes) -> list[dict]:
    """Parse WARC bytes (plain or gzip) into records:
    ``{"headers": {lower-name: value}, "payload": bytes}``. Raises on
    the FIRST malformed record — the strict single-file contract; shard
    processing should use :func:`parse_warc_salvage` instead, which
    keeps the records parsed before the failure."""
    records, error = parse_warc_salvage(data)
    if error is not None:
        raise ValueError(error)
    return records


def parse_warc_salvage(data: bytes) -> tuple[list[dict], str | None]:
    """Parse WARC bytes, salvaging the prefix: returns ``(records,
    error)`` where ``records`` are all records successfully parsed
    before the first malformation and ``error`` is ``None`` (clean
    file) or the diagnostic for the failure point. A ~1 GB crawl shard
    with one truncated trailing record keeps its thousands of good
    pages — the error rides alongside as one error row at the Spark
    surface instead of discarding the shard."""
    try:
        if data[:2] == b"\x1f\x8b":
            data = _gunzip_members(data)
    except ValueError as exc:
        return [], str(exc)
    records: list[dict] = []
    pos = 0
    n = len(data)
    while pos < n:
        # skip inter-record blank lines
        while data[pos : pos + 2] == _CRLF:
            pos += 2
        if pos >= n:
            break
        head_end = data.find(_CRLF + _CRLF, pos, pos + _MAX_HEADER_BYTES)
        if head_end < 0:
            return records, f"no header terminator after offset {pos}"
        lines = data[pos:head_end].split(_CRLF)
        version = lines[0]
        if not version.startswith(b"WARC/"):
            return records, f"bad version line at offset {pos}: {version[:40]!r}"
        headers: dict[str, str] = {}
        for line in lines[1:]:
            name, sep, value = line.partition(b":")
            if not sep:
                return records, f"malformed header line: {line[:80]!r}"
            headers[name.strip().decode("ascii", "replace").lower()] = (
                value.strip().decode("utf-8", "replace")
            )
        try:
            length = int(headers["content-length"])
        except (KeyError, ValueError):
            return records, f"missing/bad Content-Length at offset {pos}"
        body_start = head_end + 4
        body_end = body_start + length
        if body_end > n:
            return records, (
                f"truncated payload: need {length} bytes at {body_start}, "
                f"have {n - body_start}"
            )
        records.append({"headers": headers, "payload": data[body_start:body_end]})
        pos = body_end
    return records, None


def _dechunk(body: bytes) -> bytes:
    """Decode an HTTP/1.1 chunked body (hex-size CRLF chunk CRLF ...,
    terminated by a 0-size chunk). Raises ValueError on malformation."""
    out = []
    pos = 0
    while True:
        line_end = body.find(_CRLF, pos)
        if line_end < 0:
            raise ValueError("chunked body: missing size line")
        size_token = body[pos:line_end].split(b";", 1)[0].strip()
        size = int(size_token, 16)  # ValueError on junk
        if size < 0:
            # int(b'-2', 16) parses; a negative size would stall the
            # position cursor and spin this loop forever
            raise ValueError("chunked body: negative chunk size")
        pos = line_end + 2
        if size == 0:
            return b"".join(out)
        if pos + size > len(body):
            raise ValueError("chunked body: truncated chunk")
        out.append(body[pos : pos + size])
        pos += size + 2  # skip trailing CRLF


def http_body(payload: bytes) -> bytes:
    """Extract the document bytes of a ``response`` record: strip the
    HTTP envelope (through the first CRLFCRLF), then undo the two
    transfer encodings real crawl responses carry — ``Transfer-
    Encoding: chunked`` (dechunked) and ``Content-Encoding: gzip``
    (decompressed). Decoding is TOLERANT: a malformed chunk stream or
    gzip body falls back to the raw bytes (a mangled page should
    degrade to a kernel error row, never fail the shard). Payloads
    without an envelope pass through unchanged."""
    if payload[:5] != b"HTTP/":
        return payload
    split = payload.find(_CRLF + _CRLF)
    if split < 0:
        return payload
    envelope = payload[:split].lower()
    body = payload[split + 4 :]
    if b"transfer-encoding:" in envelope and b"chunked" in envelope:
        try:
            body = _dechunk(body)
        except ValueError:
            return body
    if b"content-encoding:" in envelope and b"gzip" in envelope:
        try:
            body = _gunzip_members(body)
        except Exception:
            pass
    return body


def write_warc(records: list[dict], gzip_members: bool = False) -> bytes:
    """Serialize records (headers dict + payload bytes) to WARC bytes;
    ``gzip_members=True`` emits one gzip member per record (the
    Common-Crawl layout). Content-Length is derived, never trusted."""
    out = []
    for rec in records:
        head = [b"WARC/1.0"]
        for name, value in rec["headers"].items():
            if name.lower() == "content-length":
                continue
            head.append(f"{name}: {value}".encode())
        head.append(f"Content-Length: {len(rec['payload'])}".encode())
        raw = (
            _CRLF.join(head) + _CRLF + _CRLF + rec["payload"] + _CRLF + _CRLF
        )
        if gzip_members:
            c = zlib.compressobj(6, zlib.DEFLATED, zlib.MAX_WBITS | 16)
            raw = c.compress(raw) + c.flush()
        out.append(raw)
    return b"".join(out)


PAGES_FROM_WARC_SCHEMA = "url string, warc_ts timestamp, html binary, error string"

_EPOCH = datetime(1970, 1, 1)  # warc_ts of a shard-level error row


def _warc_ts(s: str):
    """Parse a WARC-Date into a tz-naive UTC pandas Timestamp. Returns
    (timestamp, None), or (epoch, diagnostic) when the header is
    malformed — a bad DATE is metadata damage on one record and must
    never escape the kernel as a task failure (the row is kept,
    flagged)."""
    import pandas as pd

    try:
        ts = pd.Timestamp(s or "1970-01-01T00:00:00Z")
        if ts.tzinfo is not None:
            ts = ts.tz_convert("UTC").tz_localize(None)
        return ts, None
    except (ValueError, TypeError):
        return pd.Timestamp("1970-01-01"), f"bad warc-date: {s!r}"


def warc_to_pages(warcs):
    """Spark surface: (warc_id long, warc binary) rows -> the
    input_hint page shape (url, warc_ts, html, error). ``response``
    records become pages (HTTP envelope stripped); a record carrying
    the ``WARC-Truncated`` header (the crawler stored a PARTIAL
    payload — length/time/disconnect cap) still becomes a page with
    its partial bytes, flagged ``truncated: <reason>`` in the error
    column rather than treated as a parse failure; ``revisit`` records
    (the crawler's own dedup signal — no content stored) are skipped
    here and surfaced by :func:`warc_revisits`; other record types
    (warcinfo, request, metadata) are skipped. Shard parsing SALVAGES
    (parse_warc_salvage): a malformed trailing record emits the good
    pages parsed before it plus ONE error row carrying the diagnostic —
    one bad record never discards a ~1 GB shard, and never fails the
    job."""
    from .kernel import as_bytes, row_kernel

    def page_rows(warc_id, warc):
        records, error = parse_warc_salvage(as_bytes(warc))
        rows = []
        for rec in records:
            h = rec["headers"]
            if h.get("warc-type") != "response":
                continue
            truncated = h.get("warc-truncated")
            ts, date_err = _warc_ts(h.get("warc-date", ""))
            # both diagnostics survive a record that is truncated AND
            # carries a malformed date (ADVICE r04)
            trunc_flag = (
                f"truncated: {truncated or 'unspecified'}" if truncated is not None else None
            )
            flag = "; ".join(filter(None, [trunc_flag, date_err])) or None
            rows.append((h.get("warc-target-uri", ""), ts, http_body(rec["payload"]), flag))
        if error is not None:
            rows.append((f"warc:{warc_id}", _EPOCH, None, f"warc parse error: {error}"))
        return rows

    kernel = row_kernel(page_rows, PAGES_FROM_WARC_SCHEMA, keys=(), args=("warc_id", "warc"))
    return warcs.mapInPandas(kernel, PAGES_FROM_WARC_SCHEMA)


REVISITS_SCHEMA = (
    "url string, warc_ts timestamp, refers_to string, "
    "refers_to_uri string, profile string, payload_digest string, "
    "error string"
)


def warc_revisits(warcs):
    """Spark surface for ``WARC-Type: revisit`` records — the crawler's
    OWN dedup signal (ISO 28500 / WARC 1.1 §6.7: a fetch whose payload
    matched an earlier capture, stored WITHOUT content): rows keyed by
    the original via ``WARC-Refers-To`` (record id) /
    ``WARC-Refers-To-Target-URI``, plus ``WARC-Profile`` and
    ``WARC-Payload-Digest`` (sha1 base32) so a corpus build can join
    revisits against the page table and count/attribute duplicate
    fetches WITHOUT hashing any payload bytes itself. Same salvage +
    error-row contract as warc_to_pages; same narrow Scan->MapInPandas
    plan shape."""
    from .kernel import as_bytes, row_kernel

    def revisit_rows(warc_id, warc):
        records, error = parse_warc_salvage(as_bytes(warc))
        rows = []
        for rec in records:
            h = rec["headers"]
            if h.get("warc-type") != "revisit":
                continue
            ts, date_err = _warc_ts(h.get("warc-date", ""))
            rows.append((
                h.get("warc-target-uri", ""), ts, h.get("warc-refers-to"),
                h.get("warc-refers-to-target-uri"), h.get("warc-profile"),
                h.get("warc-payload-digest"), date_err,
            ))
        if error is not None:
            rows.append((f"warc:{warc_id}", _EPOCH) + (None,) * 4 + (f"warc parse error: {error}",))
        return rows

    kernel = row_kernel(revisit_rows, REVISITS_SCHEMA, keys=(), args=("warc_id", "warc"))
    return warcs.mapInPandas(kernel, REVISITS_SCHEMA)
