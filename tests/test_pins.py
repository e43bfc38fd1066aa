"""Pin lifetimes (gocrd_spark.pins): a scope leaves the session's
persistent RDDs and the kept-table FIFO as it found them, also when
the block raises, and no module outside pins.py persists by hand."""

from __future__ import annotations

import ast
import pathlib
import sys

import pytest

import __spark_entry__ as entry
from gocrd_spark import pins

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = ROOT / "gocrd_spark"
sys.path.insert(0, str(ROOT / "tools"))
import gen_goldens  # noqa: E402

SF_DIR = gen_goldens.testdata_dir(0.01)

# multi-pin chains (keep + eager and lazy localCheckpoints) and leaves
SWEEP = (
    "bm25_search",
    "phrase_search",
    "minhash_near_dups",
    "simhash_near_dups",
    "host_pagerank",
    "training_corpus",
    "unigram_logprob",
)


def _live(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


@pytest.fixture
def quiet_pins(spark):
    """Start from an empty FIFO, so this test's keeps evict no older
    entry, and hold every older persistent RDD, so Spark's
    ContextCleaner cannot collect one mid-test: the live set then
    changes only through what the test itself does."""
    with pins._LOCK:
        stale = [df for _, df in pins._KEPT]
        pins._KEPT.clear()
    for df in stale:
        df.unpersist()
    held = spark.sparkContext._jsc.getPersistentRDDs()
    yield spark
    del held


def _kept_ids() -> list[int]:
    return [id(e) for e in pins._KEPT]


def _rows(pdf) -> list[str]:
    return sorted(repr(r) for r in pdf.itertuples(index=False, name=None))


def test_scoped_sweep_leaves_no_pins(quiet_pins):
    spark, qs = quiet_pins, entry.queries()
    passes, pinning = [], set()
    for _ in range(2):
        results = {}
        for name in SWEEP:
            before, kept = _live(spark), list(pins._KEPT)
            with pins.scope(spark):
                results[name] = _rows(qs[name](spark, SF_DIR).toPandas())
                if _live(spark) - before:
                    pinning.add(name)
            assert _live(spark) == before, name
            assert _kept_ids() == [id(e) for e in kept], name
        passes.append(results)
    assert passes[0] == passes[1]
    # the sweep proves something only if its chains do pin
    assert {"bm25_search", "minhash_near_dups", "training_corpus"} <= pinning


def test_scope_releases_on_exception(quiet_pins):
    spark = quiet_pins
    outside = spark.range(50).selectExpr("id % 7 AS k").localCheckpoint(eager=True)
    before, kept_before = _live(spark), _kept_ids()
    with pytest.raises(RuntimeError, match="mid-query"):
        with pins.scope(spark):
            kept = pins.keep(spark.range(100).selectExpr("id * 3 AS x"))
            assert kept.count() == 100
            spark.range(10).localCheckpoint(eager=True)
            spark.range(10).localCheckpoint(eager=False)
            assert len(_live(spark) - before) == 3
            assert len(pins._KEPT) == len(kept_before) + 1
            raise RuntimeError("mid-query failure")
    assert _live(spark) == before
    assert not kept.is_cached
    assert _kept_ids() == kept_before
    # a pin taken before the scope is not the scope's to release
    assert outside.count() == 50


# ---------------------------------------------------------------------------
# guard: pin lifetimes live in pins.py
# ---------------------------------------------------------------------------

PIN_CALLS = {"persist", "unpersist", "cache", "_register_persisted"}


def test_no_hand_rolled_pins_outside_pins_module():
    found = []
    for path in sorted(PKG.rglob("*.py")) + [ROOT / "__spark_entry__.py"]:
        if path == PKG / "pins.py":
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if not isinstance(node, ast.Call):
                continue
            func = node.func
            name = getattr(func, "attr", None) or getattr(func, "id", None)
            if name in PIN_CALLS:
                found.append(f"{path.relative_to(ROOT)}:{node.lineno} {name}")
    assert not found, "pin through gocrd_spark.pins (keep / scope): " + ", ".join(found)
