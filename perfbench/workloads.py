"""The benchmark's workloads: seeded inputs, one round of operations,
and the correctness checks run after the timed region.

A workload exposes:

- ``prep()``: synthesize the seeded inputs (benchmark prep, untimed);
- ``locate(spark)``: resolve the inputs in a fresh session (part of set-up);
- ``ops(cold)``: the round, as ``(name, fn)`` pairs run one at a time;
  ``fn`` returns a list of problems (an empty list when the result is
  right). The cold round (``cold=True``) runs each operation once;
- ``check(spark)``: the full output checks, after the timed region, as
  (checks made, problems found: one per failed check);
- ``writer_metrics()`` / ``probe_rows(n)``: inputs for the traced run's
  writer metrics and kernel probe;
- ``docs_per_s(op_walls, round_wall)``: the workload's throughput, from
  the median wall of each operation and the round's wall;
- ``round_s``: the share of ``--seconds`` one warm round is allotted;
  ``round(seconds / round_s)`` warm rounds run (at least one).
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
import statistics
import time
from typing import Callable

import pyarrow as pa
import pyarrow.parquet as pq

Op = tuple[str, Callable[[], list[str]]]

N_EXTRACT = 3000  # documents per extraction pass
PASSES = 4  # extraction passes per round
N_JOB = 1000  # documents per resumable-job run (the first rows of the pass input)
N_GROUPS = 64
N_CORPUS = 1000  # documents in the re-keyed corpus
CHAINS = ("bm25_search",)
LEAVES = (
    "fetch_priority", "feed_items", "sitemap_urls", "filter_ablation",
    "contamination_flags", "phrase_search", "inverted_postings",
)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def datagen_rows(seed: int, n: int) -> list[tuple[dict, str, dict | None]]:
    """``datagen.make_row_with_spec`` over doc_ids [seed*n, seed*n + n),
    plus the two reference-fixture rows (doc 0 kant, doc 1 METS)."""
    from gocrd_spark import datagen

    ids = [0, 1] + [i for i in range(seed * n, seed * n + n) if i > 1]
    return [datagen.make_row_with_spec(i) for i in ids]


def _write_pages(rows: list[dict], path: str, n_files: int) -> None:
    os.makedirs(path, exist_ok=True)
    table = pa.Table.from_pylist(rows)
    step = -(-len(rows) // n_files)
    for k in range(n_files):
        pq.write_table(
            table.slice(k * step, step), os.path.join(path, f"part-{k:03d}.parquet"),
            compression="zstd", coerce_timestamps="us",
        )


def _span_key(spans) -> tuple:
    if spans is None:
        return ()
    return tuple(
        (s["region_id"], s["index"], s["byte_start"], s["byte_end"],
         s["char_start"], s["char_end"])
        for s in spans
    )


def _rows_hash(pdf) -> str:
    """Order-insensitive hash of (url, text, spans, error) rows."""
    h = hashlib.sha256()
    keys = sorted(
        repr((u, t, _span_key(s), e))
        for u, t, s, e in zip(pdf["url"], pdf["text"], pdf["spans"], pdf["error"])
    )
    for k in keys:
        h.update(k.encode())
        h.update(b"\x1e")
    return h.hexdigest()


def _expected(row: dict, kind: str, spec) -> tuple:
    """(text, span keys, error) for one datagen row, from the template
    spec through tools/gen_goldens.py's helpers — no extractor under test
    runs (the garbage row's error comes from the independent expat walker)."""
    import gen_goldens as gg
    from gocrd_spark.fastextract import extract_document_fast

    if kind == "kant":
        text, spans = gg._expected_fixture_page(row["html"])
        return text, tuple(spans), None
    if kind in ("mets", "mets_fixture"):
        return None, (), gg.METS_ERROR
    if kind == "garbage":
        return None, (), extract_document_fast(row["html"])["error"]
    if kind == "html":
        blocks = [("b3", 3, spec["title"])] + [
            (f"b{5 + 2 * j}", 5 + 2 * j, p) for j, p in enumerate(spec["paras"])
        ]
    else:
        entries = sorted(spec["ref_entries"], key=lambda e: e[0])
        blocks = [
            (rid, idx, spec["region_texts"][rid])
            for idx, rid in entries
            if rid in spec["region_texts"]
        ]
    text, spans = gg._spans_from_blocks(blocks)
    return text, tuple(spans), None


class Extract:
    """Seeded datagen pages through the shuffle-free extraction pass
    (noop sink), then ``run_extract_job`` with metadata into an empty
    directory and again on its fully committed output (resume)."""

    name = "extract"
    round_s = 12.0  # ~12 s per warm round on 4 cores

    def __init__(self, work: str, seed: int) -> None:
        self.work = work
        self.seed = seed
        self.pages_dir = os.path.join(work, "pages")
        self.job_pages_dir = os.path.join(work, "pages_job")
        self.rows: list[tuple[dict, str, dict | None]] = []
        self.spark = None
        self.n_jobs = 0
        self.last_job_dir = ""
        self.last_job_summary: dict = {}
        self.last_resume_summary: dict = {}

    def prep(self) -> None:
        self.rows = datagen_rows(self.seed, N_EXTRACT)
        plain = [r for r, _, _ in self.rows]
        _write_pages(plain, self.pages_dir, 8)
        _write_pages(plain[:N_JOB], self.job_pages_dir, 4)

    @property
    def n_docs(self) -> int:
        return len(self.rows)

    def locate(self, spark) -> None:
        from gocrd_spark import pipeline

        self.spark = spark
        pipeline.load_pages(spark, self.pages_dir).schema
        pipeline.load_pages(spark, self.job_pages_dir).schema

    def _extract(self) -> list[str]:
        from gocrd_spark import pipeline

        _noop(pipeline.extract_pages(pipeline.load_pages(self.spark, self.pages_dir)))
        return []

    def _job(self) -> list[str]:
        from gocrd_spark import pipeline

        if self.last_job_dir:
            shutil.rmtree(self.last_job_dir, ignore_errors=True)
        self.n_jobs += 1
        self.last_job_dir = os.path.join(self.work, f"job-{self.n_jobs}")
        s = pipeline.run_extract_job(
            self.spark, self.job_pages_dir, self.last_job_dir,
            n_groups=N_GROUPS, with_metadata=True,
        )
        self.last_job_summary = s
        problems = []
        if s["groups_committed_this_run"] != N_GROUPS:
            problems.append(f"job committed {s['groups_committed_this_run']} groups")
        if s["input_rows"] != N_JOB:
            problems.append(f"job read {s['input_rows']} rows, expected {N_JOB}")
        return problems

    def _resume(self) -> list[str]:
        from gocrd_spark import pipeline

        s = pipeline.run_extract_job(
            self.spark, self.job_pages_dir, self.last_job_dir,
            n_groups=N_GROUPS, with_metadata=True,
        )
        self.last_resume_summary = s
        problems = []
        if s["groups_committed_this_run"] != 0:
            problems.append(f"resume committed {s['groups_committed_this_run']} groups")
        if s["groups_previously_done"] != N_GROUPS:
            problems.append(f"resume saw {s['groups_previously_done']} done groups")
        return problems

    def ops(self, cold: bool = False) -> list[Op]:
        passes = [("extract", self._extract)] * (1 if cold else PASSES)
        return passes + [("job", self._job), ("resume", self._resume)]

    def docs_per_s(self, op_walls: dict[str, float], round_wall: float) -> float:
        return self.n_docs / op_walls["extract"]

    def check(self, spark) -> tuple[int, list[str]]:
        """Every extracted row against its spec-derived expectation; the
        kant text against its pinned sha256; the last job's rows against
        the extraction rows; 64 commit markers; a full metadata table."""
        import gen_goldens as gg
        from gocrd_spark import pipeline

        problems = []
        got = pipeline.extract_pages(
            pipeline.load_pages(spark, self.pages_dir)
        ).toPandas()
        if len(got) != self.n_docs:
            problems.append(f"extract returned {len(got)} rows, expected {self.n_docs}")
        by_url = {u: (t, _span_key(s), e) for u, t, s, e in
                  zip(got["url"], got["text"], got["spans"], got["error"])}
        bad = 0
        for row, kind, spec in self.rows:
            if by_url.get(row["url"]) != _expected(row, kind, spec):
                bad += 1
        if bad:
            problems.append(f"{bad} extracted rows differ from the spec")
        kant = by_url.get(self.rows[0][0]["url"], (None,))[0] or ""
        if hashlib.sha256(kant.encode("utf-8")).hexdigest() != gg.KANT_SHA256:
            problems.append("kant sha256 differs from 7bac7349...")

        job_urls = {r["url"] for r, _, _ in self.rows[:N_JOB]}
        want = got[got["url"].isin(job_urls)]
        have = pipeline.read_extracted(spark, self.last_job_dir).toPandas()
        if _rows_hash(have) != _rows_hash(want):
            problems.append("job rows differ from the extraction rows")
        markers = len(pipeline.committed_groups(self.last_job_dir))
        if markers != N_GROUPS:
            problems.append(f"{markers} commit markers, expected {N_GROUPS}")
        n_meta = pipeline.read_metadata(spark, self.last_job_dir).count()
        if n_meta != N_JOB:
            problems.append(f"metadata table has {n_meta} rows, expected {N_JOB}")
        return 6, problems

    def writer_metrics(self) -> dict:
        """Output size and file count of the last job, the commit-log
        listing wall and what the last resume skipped."""
        from gocrd_spark import pipeline

        files = size = 0
        for sub in ("data", "meta"):
            for dirpath, _, names in os.walk(os.path.join(self.last_job_dir, sub)):
                for n in names:
                    if n.endswith(".parquet"):
                        files += 1
                        size += os.path.getsize(os.path.join(dirpath, n))
        walls = []
        for _ in range(20):
            t0 = time.perf_counter()
            pipeline.committed_groups(self.last_job_dir)
            walls.append(time.perf_counter() - t0)
        return {
            "writer.bytes_written": size,
            "writer.files": files,
            "writer.bytes_per_text_byte": size / max(self.last_job_summary["bytes_out"], 1),
            "commitlog.list_s": statistics.median(walls),
            "resume.groups_skipped": self.last_resume_summary["groups_previously_done"],
        }

    def probe_rows(self, n: int) -> list[tuple[dict, str, dict | None]]:
        return self.rows[:n]


class CorpusQueries:
    """A seeded re-keyed copy of the sf0.1 ``documents`` table through
    the job-bound bm25_search chain and the fixed-cost leaf queries of
    ``__spark_entry__.queries()``. Every execution collects its result,
    which is checked against the query's ``oracle_sql()`` DuckDB twin."""

    name = "corpus_queries"
    # a warm round takes ~10 s on 4 cores, but the cold round already
    # takes ~20 s: one warm round keeps a run near the extract workload's wall
    round_s = 20.0

    def __init__(self, work: str, seed: int, source: str) -> None:
        self.work = work
        self.seed = seed
        self.source = source
        self.sf_dir = os.path.join(work, "sf0.02")
        self.spark = None
        self.results: dict[str, list] = {q: [] for q in CHAINS + LEAVES}
        self.n_docs = N_CORPUS

    def prep(self) -> None:
        """Seed 0 keeps the first N_CORPUS rows of the table verbatim;
        any other seed draws a seeded permutation of the table's rows and
        re-keys its first N_CORPUS rows as doc_id 0..N_CORPUS-1."""
        table = pq.read_table(self.source).sort_by("doc_id")
        order = list(range(table.num_rows))
        if self.seed != 0:
            random.Random(self.seed).shuffle(order)
        table = table.take(order[:N_CORPUS])
        table = table.set_column(
            table.schema.get_field_index("doc_id"), "doc_id",
            pa.array(range(N_CORPUS), pa.int64()),
        )
        os.makedirs(self.sf_dir, exist_ok=True)
        pq.write_table(table, os.path.join(self.sf_dir, "documents.parquet"))

    def locate(self, spark) -> None:
        import __spark_entry__ as entry

        self.spark = spark
        self.queries = entry.queries()
        spark.read.parquet(os.path.join(self.sf_dir, "documents.parquet")).schema

    def _run(self, q: str) -> Callable[[], list[str]]:
        def op() -> list[str]:
            self.results[q].append(self.queries[q](self.spark, self.sf_dir).toPandas())
            return []

        return op

    def ops(self, cold: bool = False) -> list[Op]:
        return [(q, self._run(q)) for q in CHAINS + LEAVES]

    def docs_per_s(self, op_walls: dict[str, float], round_wall: float) -> float:
        return self.n_docs * len(op_walls) / round_wall  # one pass per query

    def check(self, spark) -> tuple[int, list[str]]:
        """Each collected result against its oracle, bound through DuckDB
        views on the seeded directory the way tools/check_oracles.py
        binds them."""
        import duckdb

        import __spark_entry__ as entry
        from check_oracles import normalize, value_hash

        oracles = entry.oracle_sql()
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM read_parquet("
            f"'{os.path.join(self.sf_dir, 'documents.parquet')}')"
        )
        checks, problems = 0, []
        for q, runs in self.results.items():
            want = normalize(con.execute(oracles[q]).fetchdf())
            want_cols, want_hash = sorted(want.columns), value_hash(want)
            for k, got in enumerate(runs):
                checks += 1
                got = normalize(got)
                if sorted(got.columns) != want_cols or value_hash(got) != want_hash:
                    problems.append(f"{q} execution {k}: differs from its oracle "
                                    f"({len(got)} vs {len(want)} rows)")
            self.results[q] = []
        con.close()
        return checks, problems

    def writer_metrics(self) -> dict:
        return {}  # no writer in this workload: the runner reports 0

    def probe_rows(self, n: int) -> list[tuple[dict, str, dict | None]]:
        return datagen_rows(self.seed, n)[:n]
