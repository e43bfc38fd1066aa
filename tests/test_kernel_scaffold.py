"""The row-kernel scaffold (gocrd_spark.kernel.row_kernel): its contract
without Spark, every scaffolded kernel under hostile payloads, and a
guard that keeps hand-rolled batch loops out of the engine."""

from __future__ import annotations

import ast
import pathlib
import random
from datetime import datetime

import pandas as pd
import pytest

from gocrd_spark.kernel import row_batch, row_kernel

PKG = pathlib.Path(__file__).resolve().parent.parent / "gocrd_spark"


# ---------------------------------------------------------------------------
# scaffold contract, no Spark
# ---------------------------------------------------------------------------


class TestScaffold:
    def test_long_column_with_null_stays_exact(self):
        big = 2**60 + 1
        batch = row_batch(
            lambda v: [(None if v is None else big, None)],
            "id long, h long, error string",
            keys=("id",),
            args=("v",),
        )
        out = batch(pd.DataFrame({"id": [1, 2], "v": ["x", None]}))
        assert str(out["h"].dtype) == "Int64"
        assert out["h"][0] == big and pd.isna(out["h"][1])
        assert out["id"].tolist() == [1, 2]

    def test_keys_prepended_in_schema_order_with_fan_out(self):
        batch = row_batch(
            lambda s: [(i, ch) for i, ch in enumerate(s)],
            "url string, pos long, ch string",
            args=("text",),
        )
        out = batch(pd.DataFrame({"url": ["a", "b", "c"], "text": ["xy", "", "z"]}))
        assert out.columns.tolist() == ["url", "pos", "ch"]
        assert out.values.tolist() == [["a", 0, "x"], ["a", 1, "y"], ["c", 0, "z"]]

    def test_empty_batch_keeps_schema_columns(self):
        schema = "doc_id long, feature array<struct<a:long, b:string>>, n bigint"
        out = row_batch(lambda v: [(v, 1)], schema, keys=("doc_id",), args=("v",))(
            pd.DataFrame({"doc_id": [], "v": []})
        )
        assert out.columns.tolist() == ["doc_id", "feature", "n"] and len(out) == 0
        assert str(out["n"].dtype) == "Int64"

    def test_exception_becomes_error_row(self):
        def fn(v):
            if v == "bad":
                raise ValueError("boom")
            return [(v.upper(), None)]

        out = row_batch(fn, "url string, text string, error string", args=("v",))(
            pd.DataFrame({"url": ["u1", "u2"], "v": ["ok", "bad"]})
        )
        assert out.values.tolist() == [["u1", "OK", None], ["u2", None, "ValueError: boom"]]

    def test_exception_without_error_column_fails(self):
        def fn(v):
            raise KeyError(v)

        with pytest.raises(KeyError):
            row_batch(fn, "url string, n long", args=("v",))(
                pd.DataFrame({"url": ["u"], "v": ["k"]})
            )

    def test_no_keys(self):
        out = row_batch(lambda v: [(v, v * 2)], "a long, b long", keys=(), args=("v",))(
            pd.DataFrame({"v": [3, 4]})
        )
        assert out.values.tolist() == [[3, 6], [4, 8]]

    def test_state_is_fresh_per_partition(self):
        def fn(seen, v):
            seen.append(v)
            return [(len(seen),)]

        kernel = row_kernel(fn, "url string, n long", args=("v",), state=list)
        assert kernel.__name__ == "fn"

        def run():
            batches = [pd.DataFrame({"url": ["u", "u"], "v": [1, 2]})] * 2
            return [n for out in kernel(iter(batches)) for n in out["n"]]

        # state spans the batches of one partition, never two partitions
        assert run() == [1, 2, 3, 4]
        assert run() == [1, 2, 3, 4]


# ---------------------------------------------------------------------------
# every scaffolded kernel under hostile payloads
# ---------------------------------------------------------------------------

PAYLOADS = {
    "null": None,
    "empty": b"",
    "truncated": b"<?xml version='1.0'?><PcGts><Page><TextRegion id='r",
    "random": random.Random(20261017).randbytes(2048),
}


def _html(spark, rows, extra=""):
    return spark.createDataFrame(
        [(f"http://{name}.example/p", *rest, p) for name, p, *rest in rows],
        f"url string, {extra}html binary",
    )


def _ids(spark, rows, cols):
    return spark.createDataFrame([(i, *rest, p) for i, (_, p, *rest) in enumerate(rows)], cols)


def _pipeline(fn_name):
    def build(spark, rows):
        from gocrd_spark import pipeline

        return getattr(pipeline, fn_name)(_html(spark, rows))

    return build


def _page_meta(spark, rows):
    from gocrd_spark.pipeline import page_metadata

    ts = datetime(2024, 1, 2, 3, 4, 5)
    return page_metadata(_html(spark, [(n, p, ts) for n, p in rows], "warc_ts timestamp, "))


def _decode(spark, rows):
    from gocrd_spark.charset import decode_pages

    return decode_pages(_ids(spark, rows, "doc_id long, html binary"))


def _mojibake(spark, rows):
    from gocrd_spark.charset import mojibake_repair

    return mojibake_repair(_ids(spark, rows, "doc_id long, text string"))


def _pdfs(spark, rows):
    from gocrd_spark.pdfextract import extract_pdfs

    return extract_pdfs(_ids(spark, rows, "doc_id long, pdf binary"))


def _bpe(spark, rows):
    from gocrd_spark.operators.bpe import bpe_encode

    return bpe_encode(_ids(spark, rows, "doc_id long, text string"), [(0, "a", "b")])


def _media(op):
    def build(spark, rows):
        from gocrd_spark.operators import multimodal

        media = _ids(spark, [(n, p, "image") for n, p in rows],
                     "id long, kind string, payload binary")
        return getattr(multimodal, op)(media)

    return build


def _robots_filter(spark, rows):
    from gocrd_spark.operators.robots import robots_filter

    urls = spark.createDataFrame(
        [(i, f"http://{n}.example/a?b") for i, (n, _) in enumerate(rows)], "doc_id long, url string"
    )
    robots = spark.createDataFrame([(f"{n}.example", p) for n, p in rows],
                                   "host string, robots binary")
    return robots_filter(urls, robots)


def _crawl_delays(spark, rows):
    from gocrd_spark.operators.robots import robots_crawl_delays

    return robots_crawl_delays(
        spark.createDataFrame([(f"{n}.example", p) for n, p in rows], "host string, robots binary")
    )


def _outlinks(spark, rows):
    from gocrd_spark.operators.linkgraph import extract_outlinks

    return extract_outlinks(_html(spark, rows))


def _warc(op):
    def build(spark, rows):
        from gocrd_spark import warc

        return getattr(warc, op)(_ids(spark, rows, "warc_id long, warc binary"))

    return build


# (build, kernel payload column, payload is text, {payload: contract}); a
# contract is "error" (one error row), "none" (zero rows) or "row"
# (output rows without an error)
KERNELS = {
    "extract": (_pipeline("extract_pages"), "html", False, dict.fromkeys(PAYLOADS, "error")),
    "mets": (_pipeline("mets_files"), "html", False, dict.fromkeys(PAYLOADS, "none")),
    "page_meta": (_page_meta, "html", False, dict.fromkeys(PAYLOADS, "row")),
    "feed_items": (_pipeline("feed_items"), "html", False, dict.fromkeys(PAYLOADS, "error")),
    "sitemap_urls": (_pipeline("sitemap_urls"), "html", False, dict.fromkeys(PAYLOADS, "error")),
    "html_tables": (_pipeline("html_tables"), "html", False, dict.fromkeys(PAYLOADS, "none")),
    "jsonld_blocks": (_pipeline("jsonld_blocks"), "html", False, dict.fromkeys(PAYLOADS, "none")),
    "decode_pages": (_decode, "html", False, dict.fromkeys(PAYLOADS, "row")),
    "mojibake_repair": (_mojibake, "text", True, dict.fromkeys(PAYLOADS, "row")),
    "extract_pdfs": (_pdfs, "pdf", False, dict.fromkeys(PAYLOADS, "error")),
    "bpe_encode": (_bpe, "text", True, dict.fromkeys(PAYLOADS, "row")),
    "extract_features": (_media("extract_features"), "payload", False,
                         {**dict.fromkeys(PAYLOADS, "row"), "null": "error"}),
    "resize_images": (_media("resize_images"), "payload", False,
                      {**dict.fromkeys(PAYLOADS, "row"), "null": "error"}),
    "sample_frames": (_media("sample_frames"), "payload", False,
                      {**dict.fromkeys(PAYLOADS, "row"), "null": "error"}),
    "phash_images": (_media("phash_images"), "payload", False, dict.fromkeys(PAYLOADS, "error")),
    "robots_filter": (_robots_filter, "robots", False, dict.fromkeys(PAYLOADS, "row")),
    "robots_crawl_delays": (_crawl_delays, "robots", False, dict.fromkeys(PAYLOADS, "row")),
    "extract_outlinks": (_outlinks, "html", False, dict.fromkeys(PAYLOADS, "none")),
    "warc_to_pages": (_warc("warc_to_pages"), "warc", False,
                      {"null": "none", "empty": "none", "truncated": "error", "random": "error"}),
    "warc_revisits": (_warc("warc_revisits"), "warc", False,
                      {"null": "none", "empty": "none", "truncated": "error", "random": "error"}),
}

# value-level pins beyond the row contract
CHECKS = {
    ("extract_pdfs", "null"): lambda out: out["error"].tolist() == ["ValueError: null pdf payload"],
    ("robots_filter", "null"): lambda out: out["allowed"].tolist() == [1],
    ("robots_crawl_delays", "null"): lambda out: out["crawl_delay_ms"].isna().all(),
    ("bpe_encode", "null"): lambda out: out["n_tokens"].tolist() == [0],
}


def _payload(name, text):
    p = PAYLOADS[name]
    return p.decode("latin-1") if text and p is not None else p


def _contract(out: pd.DataFrame) -> str:
    if len(out) == 0:
        return "none"
    if "error" in out.columns and out["error"].notna().all():
        return "error"
    return "row"


@pytest.mark.parametrize("name", sorted(KERNELS))
def test_hostile_payloads(spark, monkeypatch, name):
    build, col, text, want = KERNELS[name]
    captured = []
    DataFrame = type(spark.range(0))
    original = DataFrame.mapInPandas

    def capture(self, fn, schema, *a, **kw):
        captured.append((self, fn, schema))
        return original(self, fn, schema, *a, **kw)

    monkeypatch.setattr(DataFrame, "mapInPandas", capture)
    rows = [(p, _payload(p, text)) for p in PAYLOADS]
    result = build(spark, rows)
    assert len(captured) == 1
    kernel_in, kernel, schema = captured[0]
    names = result.schema.fieldNames()

    # in process, in the kernel's own input shape: the empty batch, then
    # one batch per payload
    pdf = kernel_in.toPandas()
    out = next(kernel(iter([pdf.iloc[:0]])))
    assert out.columns.tolist() == names and len(out) == 0
    got, n_rows = {}, 0
    for i in range(len(pdf)):
        one = next(kernel(iter([pdf.iloc[i:i + 1].reset_index(drop=True)])))
        assert one.columns.tolist() == names
        label = next(p for p in PAYLOADS if _payload(p, text) == pdf[col][i])
        got[label] = _contract(one)
        n_rows += len(one)
        check = CHECKS.get((name, label))
        assert check is None or check(one), (label, one)
    assert got == want
    # end to end through Spark: no payload fails the task
    assert result.count() == n_rows


# ---------------------------------------------------------------------------
# guard: batch loops live in the scaffold
# ---------------------------------------------------------------------------

# the only batch loops allowed outside kernel.py, as (module, function)
ALLOWED_BATCH_LOOPS = {
    # holds one open WARC file handle across rows of sorted input
    ("cdx.py", "fetch_planned_pages"),
    # side-effecting per-commit-group writer
    ("pipeline.py", "run_extract_job"),
    # three-line synthesis over spark.range
    ("datagen.py", "pages_df"),
}


def test_batch_loops_only_in_scaffold():
    loops, iterrows = set(), []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        for top in ast.parse(path.read_text()).body:
            for node in ast.walk(top):
                if (
                    isinstance(node, (ast.For, ast.comprehension))
                    and isinstance(node.iter, ast.Name)
                    and node.iter.id == "batches"
                    and rel != "kernel.py"
                ):
                    loops.add((rel, getattr(top, "name", "<module>")))
                if isinstance(node, ast.Attribute) and node.attr == "iterrows":
                    iterrows.append(f"{rel}:{node.lineno}")
    assert loops <= ALLOWED_BATCH_LOOPS, "use kernel.row_kernel, not a hand-rolled batch loop"
    assert not iterrows
