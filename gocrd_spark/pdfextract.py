"""PDF text extraction — REAL parsing via the from-scratch minimal PDF
parser (gocrd_spark.pdfparse: classic layout, FlateDecode via stdlib
zlib, BT/ET + Tj/TJ text operators; scope documented there). No PDF
library needed.

A deterministic ``fake=True`` layout survives for plumbing tests that
predate the real parser (hash-derived blocks, no real parsing).

Output contract matches the other extractors: {text, spans, error},
spans carrying per-block offsets — so a PDF corpus drops into the same
downstream (dedup, textstats, golden audits) unchanged. Real-parse
spans carry a null bbox (glyph metrics are out of the parser's scope);
the block's text-space origin is exposed via parse_pdf_layout for
callers that need coarse layout.
"""

from __future__ import annotations

import hashlib
import random
from typing import Any

from .spans import assemble

_WORDS = (
    "lorem ipsum dolor sit amet consectetur adipiscing elit sed do "
    "eiusmod tempor incididunt ut labore et dolore magna aliqua"
).split()


def parse_pdf_layout(payload: bytes, fake: bool = False) -> list[dict[str, Any]]:
    """payload -> list of text blocks [{'text', 'page', 'bbox'}].

    Default: REAL parsing (gocrd_spark.pdfparse) — bbox is None (no
    glyph metrics), the text-space origin is carried as 'origin'.
    ``fake=True`` keeps the legacy hash-derived deterministic layout
    (plumbing tests, no parsing).
    """
    if fake:
        digest = hashlib.sha256(payload).digest()
        rng = random.Random(int.from_bytes(digest[:8], "big"))
        blocks = []
        for page in range(rng.randint(1, 3)):
            for _ in range(rng.randint(1, 4)):
                n = rng.randint(5, 20)
                x0, y0 = rng.randint(0, 400), rng.randint(0, 600)
                blocks.append(
                    {
                        "text": " ".join(rng.choice(_WORDS) for _ in range(n)),
                        "page": page,
                        "bbox": {"x0": x0, "y0": y0, "x1": x0 + 200, "y1": y0 + 40},
                    }
                )
        return blocks
    from .pdfparse import pdf_text_blocks

    return [
        {
            "text": b["text"],
            "page": b["page"],
            "bbox": None,
            "origin": (b["x"], b["y"]),
        }
        for b in pdf_text_blocks(payload)
    ]


def extract_pdf(data: bytes, fake: bool = False) -> dict[str, Any]:
    """Same output contract as extract_document / extract_html."""
    try:
        layout = parse_pdf_layout(data, fake=fake)
        return assemble(
            (f"p{block['page']}_b{i}", i, block["text"], block["bbox"])
            for i, block in enumerate(layout)
        )
    except Exception as exc:
        return {"text": None, "spans": None, "error": f"{type(exc).__name__}: {exc}"}


PDF_EXTRACTED_SCHEMA = "doc_id long, text string, n_blocks long, error string"


def extract_pdfs(df) -> "Any":
    """Spark surface: (doc_id, pdf binary) -> (doc_id, text, n_blocks,
    error) via an Arrow batch kernel (same tolerance contract as the XML
    kernel: a bad document is an error row, never a job failure)."""
    from .kernel import row_kernel

    def pdf_row(payload):
        if payload is None:  # the scaffold turns this into an error row
            raise ValueError("null pdf payload")
        res = extract_pdf(bytes(payload))
        n_blocks = len(res["spans"]) if res["spans"] is not None else None
        return [(res["text"], n_blocks, res["error"])]

    kernel = row_kernel(pdf_row, PDF_EXTRACTED_SCHEMA, keys=("doc_id",), args=("pdf",))
    return df.select("doc_id", "pdf").mapInPandas(kernel, PDF_EXTRACTED_SCHEMA)
