"""Charset sniffing + decoding for raw crawl bytes — the step between
"WARC gave us bytes" and "the extractor wants text". Web reality: a
large minority of pages are not UTF-8, and utf-8-with-replace turns
every Latin-1 page into mojibake that then poisons dedup shingles,
quality scores, and the training corpus. Detection ladder (WHATWG
encoding-sniffing shape, subset documented here):

1. **BOM** — UTF-8 / UTF-16LE / UTF-16BE / UTF-32LE / UTF-32BE
   (checked longest-first so UTF-32LE is not misread as UTF-16LE);
2. **strict UTF-8 validation** of the whole payload — a payload that
   validates AS UTF-8 decodes as UTF-8 regardless of what its label
   claims. This deliberately outranks the labels (WHATWG honors them;
   a TRAINING pipeline must not): pages transcoded to UTF-8 routinely
   keep a stale ``<meta charset=iso-8859-1>``, and honoring it turns
   every é into Ã© — by construction random Latin-1 text almost never
   forms valid multi-byte UTF-8, so validation is the stronger signal;
3. **XML declaration** ``encoding="..."`` in the first 1024 bytes;
4. **meta charset** (``<meta charset=...>`` or the http-equiv
   content-type form) in the first 1024 bytes, case-insensitive.
   Labels only matter here for NON-UTF-8 payloads (shift-jis, koi8,
   real latin-1 …) — exactly where they help. UTF-16/32-family labels
   are never honored: a label we could READ from ASCII-compatible
   bytes disproves itself (the WHATWG remap rule);
5. **cp1252 fallback** (the web's de-facto Latin-1: every byte maps,
   so step 5 never fails).

Unknown/undecodable/self-disproving labels fall through the ladder
rather than erroring (a crawler-written page lies about its charset
routinely). Pure-Python core (unit-testable without Spark) + a
``mapInPandas`` surface, same layering as the XML kernel.
"""

from __future__ import annotations

import codecs
import re
from typing import Optional, Tuple

_BOMS: tuple[tuple[bytes, str], ...] = (
    (codecs.BOM_UTF32_LE, "utf-32-le"),
    (codecs.BOM_UTF32_BE, "utf-32-be"),
    (codecs.BOM_UTF8, "utf-8"),
    (codecs.BOM_UTF16_LE, "utf-16-le"),
    (codecs.BOM_UTF16_BE, "utf-16-be"),
)

_XML_DECL_RE = re.compile(rb"<\?xml[^>]{0,200}?encoding=[\"']([A-Za-z0-9_.:-]+)[\"']")
_META_RE = re.compile(
    rb"<meta[^>]{0,500}?charset\s*=\s*[\"']?([A-Za-z0-9_.:-]+)",
    re.IGNORECASE,
)
_SNIFF_WINDOW = 1024


def _known(label: str) -> Optional[str]:
    """Normalize a charset label to a Python codec name; None if the
    label is unknown OR self-disproving (a UTF-16/32 label readable
    from ASCII-compatible bytes cannot be right) — fall through the
    ladder, never error."""
    try:
        name = codecs.lookup(label).name
    except LookupError:
        return None
    return None if name.startswith(("utf-16", "utf-32")) else name


def sniff_charset(data: bytes) -> Tuple[str, str]:
    """Return (codec_name, source) for a payload; source is one of
    ``bom`` / ``xml-decl`` / ``meta`` / ``utf8-valid`` / ``fallback``."""
    for bom, name in _BOMS:
        if data[: len(bom)] == bom:
            return name, "bom"
    try:
        data.decode("utf-8", errors="strict")
        return "utf-8", "utf8-valid"
    except UnicodeDecodeError:
        pass
    head = data[:_SNIFF_WINDOW]
    m = _XML_DECL_RE.search(head)
    if m:
        enc = _known(m.group(1).decode("ascii", "replace"))
        if enc:
            return enc, "xml-decl"
    m = _META_RE.search(head)
    if m:
        enc = _known(m.group(1).decode("ascii", "replace"))
        if enc:
            return enc, "meta"
    return "cp1252", "fallback"


def decode_bytes(data: bytes) -> Tuple[str, str, str]:
    """Decode a payload via the sniffing ladder. Returns (text,
    codec_name, source); a BOM is stripped from the text; decoding is
    errors='replace' (a page that lies about its charset degrades to
    replacement chars, never a failure)."""
    enc, source = sniff_charset(data)
    if source == "bom":
        for bom, name in _BOMS:
            if name == enc and data[: len(bom)] == bom:
                data = data[len(bom):]
                break
    return data.decode(enc, errors="replace"), enc, source


DECODED_SCHEMA = "doc_id long, text string, charset string, charset_source string, n_chars long"


def decode_pages(df, payload_col: str = "html"):
    """Spark surface: (doc_id long, payload binary) rows -> decoded
    text + the detection verdict, one narrow ``mapInPandas`` (same plan
    shape as the extraction kernel — Scan -> MapInPandas, zero
    shuffles). The id column is pinned to ``doc_id long`` because the
    output schema is static; alias/cast upstream for other id shapes."""
    from .kernel import as_bytes, row_kernel

    def decode_row(payload):
        text, enc, source = decode_bytes(as_bytes(payload))
        return [(text, enc, source, len(text))]

    kernel = row_kernel(decode_row, DECODED_SCHEMA, keys=("doc_id",), args=(payload_col,))
    return df.select("doc_id", payload_col).mapInPandas(kernel, DECODED_SCHEMA)


def fix_mojibake(
    text: str, codec: str = "latin-1", max_rounds: int = 3
) -> Tuple[str, int]:
    """ftfy-style mojibake repair: text whose characters all fit the
    single-byte ``codec`` AND whose codec bytes form valid UTF-8 with
    at least one multibyte sequence is almost certainly UTF-8 that was
    mis-decoded through that codec — re-encode and decode properly.
    Applied up to ``max_rounds`` times (double-encoded pages need two).
    Returns (fixed_text, n_rounds_applied).

    latin-1 is the default codec because it is BIJECTIVE on
    0x00-0xFF <-> U+0000-U+00FF: the round trip is exactly invertible,
    so single- and double-corruption repair to the byte-identical
    original. Real crawls also meet cp1252 mojibake ('â€™' for the
    right quote); pass codec='cp1252' for that table — same algorithm,
    but undefined-byte gaps (0x81, 0x8D, 0x8F, 0x90, 0x9D) mean a few
    double-corruptions are unrepairable (the encode step raises and
    the text is left as-is, never corrupted further).

    The inherent ambiguity (a page LEGITIMATELY discussing 'Ã©'
    sequences gets "fixed") is the standard mojibake-repair trade-off;
    genuine accented Latin-1 text is safe because stray 0xE0-0xFF
    bytes followed by ASCII are invalid UTF-8 and the decode step
    rejects them.
    """
    n = 0
    cur = text
    for _ in range(max_rounds):
        try:
            b = cur.encode(codec)
            t = b.decode("utf-8")
        except (UnicodeEncodeError, UnicodeDecodeError):
            break
        if t == cur:  # pure-ASCII fixpoint: nothing to repair
            break
        cur = t
        n += 1
    return cur, n


MOJIBAKE_SCHEMA = "doc_id long, text string, changed long, n_rounds long"


def mojibake_repair(df, text_col: str = "text", codec: str = "latin-1"):
    """Spark surface for :func:`fix_mojibake`: (doc_id, text) ->
    (doc_id, repaired text, changed 0/1, n_rounds). Same narrow
    Scan -> MapInPandas shape as decode_pages — zero shuffles, repairs
    happen where the rows already live."""
    from .kernel import row_kernel

    def repair_row(text):
        fixed, n = fix_mojibake(text if text is not None else "", codec=codec)
        return [(fixed, 1 if n > 0 else 0, n)]

    kernel = row_kernel(repair_row, MOJIBAKE_SCHEMA, keys=("doc_id",), args=(text_col,))
    return df.select("doc_id", text_col).mapInPandas(kernel, MOJIBAKE_SCHEMA)
