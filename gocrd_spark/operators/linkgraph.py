"""Web link graph: outlink extraction + host-level integer-exact
PageRank — the crawl-curation ranking a web-scale corpus build uses to
weight/filter domains (the public Common Crawl ranking pipeline shape:
page outlinks -> host graph -> centrality).

Design:

- ``extract_outlinks``: mapInPandas over (url, html) pages; a tolerant
  stdlib-``html.parser`` walker collects every ``<a href>`` in document
  order and resolves relative hrefs against the page URL
  (``urllib.parse.urljoin``). Same narrow Scan -> MapInPandas shape as
  the extraction kernel; no per-row Python UDFs.
- ``host_edges``: outlinks -> (src_host, dst_host, n_links) with
  JVM-side host parsing (``try_parse_url``) — the only shuffle is the
  host-pair groupBy, carrying two short strings and a count.
- ``host_pagerank``: fixed-iteration power method in EXACT BIGINT
  arithmetic (rank scaled by 1e12; every divide is integer division,
  every sum a BIGINT sum), so the result is bit-identical across
  engines and partitionings — the suite's fixed-point convention
  applied to an iterative algorithm. Per iteration the shuffle carries
  (host, long) only; lineage is localCheckpoint-truncated every few
  rounds like connected_components. Dangling mass (hosts with no
  outlinks) is dropped, not redistributed — documented choice, mirrored
  by the DuckDB oracle.

Scale: ranks/edges shuffle longs and short host strings, never page
content; at 10^8 hosts each iteration is one join + one groupBy on the
host key — the same profile as the cluster-resolution loop.
"""

from __future__ import annotations

from html.parser import HTMLParser
from urllib.parse import urljoin

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kernel import row_kernel

PAGERANK_SCALE = 10**12
# the rank loops localCheckpoint every this many rounds (plan-depth control)
_CHECKPOINT_EVERY = 4

OUTLINKS_SCHEMA = "src_url string, dst_url string, href string, anchor string"

_MAX_ANCHOR_CHARS = 512  # hostile pages can wrap megabytes in one <a>


class _LinkParser(HTMLParser):
    """Collect every <a href> value in document order (duplicates
    kept — multiplicity is signal for the weighted host graph) plus
    the anchor TEXT between <a> and </a> (the inlink-description
    signal ranking/quality pipelines aggregate per target). A new <a>
    implicitly closes an open one (HTML5 behavior); an anchor left
    open at EOF keeps the text collected so far; text is capped at
    _MAX_ANCHOR_CHARS."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.links: list[tuple[str, str]] = []  # (href, anchor_text)
        self._href: str | None = None
        self._buf: list[str] = []
        self._buf_len = 0
        self._cdata = 0  # inside <script>/<style>: raw content is NOT anchor text

    def _finalize(self) -> None:
        if self._href is not None:
            self.links.append((self._href, "".join(self._buf).strip()))
        self._href = None
        self._buf = []
        self._buf_len = 0

    def handle_starttag(self, tag, attrs):  # noqa: D102
        if tag in ("script", "style"):
            self._cdata += 1
        elif tag == "a":
            self._finalize()  # nested <a>: implicit close
            for name, value in attrs:
                if name == "href" and value:
                    self._href = value
                    break

    def handle_endtag(self, tag):  # noqa: D102
        if tag in ("script", "style"):
            self._cdata = max(0, self._cdata - 1)
        elif tag == "a":
            self._finalize()

    def handle_data(self, data):  # noqa: D102
        if self._cdata:
            return  # script/style bodies arrive via handle_data too
        if self._href is not None and self._buf_len < _MAX_ANCHOR_CHARS:
            take = data[: _MAX_ANCHOR_CHARS - self._buf_len]
            self._buf.append(take)
            self._buf_len += len(take)

    def close(self):  # noqa: D102 — unclosed trailing anchor
        super().close()
        self._finalize()


def parse_outlinks(url: str, html: bytes) -> list[tuple[str, str, str]]:
    """Pure-Python kernel: (resolved absolute dst_url, raw href,
    anchor text) per anchor. Malformed HTML degrades gracefully
    (stdlib parser is tolerant; bytes decode with errors='replace'
    cannot fail)."""
    text = html.decode("utf-8", "replace")
    p = _LinkParser()
    try:
        p.feed(text)
        p.close()
    except Exception:
        p._finalize()  # keep whatever was collected before the hiccup
    out = []
    for href, anchor in p.links:
        try:
            out.append((urljoin(url, href), href, anchor))
        except ValueError:
            out.append((href, href, anchor))  # unresolvable: keep raw
    return out


def extract_outlinks(
    pages: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """Spark surface: (url, html binary) -> one row per anchor
    (src_url, dst_url, href, anchor), document order within a page.
    Narrow mapInPandas — the plan is Scan -> MapInPandas like the
    extraction flagship; pages without links emit nothing."""
    sel = pages.select(
        F.col(url_col).alias("url"), F.col(html_col).alias("html")
    )

    def outlink_rows(url, raw):
        return [] if raw is None else parse_outlinks(str(url), bytes(raw))

    kernel = row_kernel(outlink_rows, OUTLINKS_SCHEMA, args=("url", "html"))
    return sel.mapInPandas(kernel, OUTLINKS_SCHEMA)


def host_edges(outlinks: DataFrame) -> DataFrame:
    """Weighted host graph from an outlink table: (src_host, dst_host,
    n_links). Hosts parse JVM-side (lowercased ``try_parse_url`` HOST);
    rows whose either side fails to parse are dropped — a link graph
    only ranks resolvable hosts. Self-loops are kept (intra-host links
    are real PageRank mass)."""
    e = outlinks.select(
        F.lower(F.try_parse_url(F.col("src_url"), F.lit("HOST"))).alias("src_host"),
        F.lower(F.try_parse_url(F.col("dst_url"), F.lit("HOST"))).alias("dst_host"),
    ).filter(F.col("src_host").isNotNull() & F.col("dst_host").isNotNull())
    return e.groupBy("src_host", "dst_host").agg(
        F.count(F.lit(1)).cast("long").alias("n_links")
    )


def host_pagerank(edges: DataFrame, n_iters: int = 5) -> DataFrame:
    """Fixed-iteration PageRank over a weighted host graph in exact
    BIGINT arithmetic (damping 0.85 as integer ops on rank*1e12):

        rank0[h]   = 1e12 div N
        contrib(e) = (rank[src] * n_links) div out_total[src]
        rank'[h]   = (15*1e12) div (100*N) + (85 * sum(contrib)) div 100

    Every operation is integer (div = floor division, sums are BIGINT),
    so the result is independent of partitioning, summation order and
    engine — the DuckDB oracle replays the identical recurrence and
    hash-matches. Dangling-host mass is dropped (no redistribution) —
    the cheap, shuffle-free choice; document-ranked corpora care about
    relative order, which dropping preserves for fixed N.

    N (host count) rides a broadcast singleton — no driver count().
    Returns (host, rank_e12) for every host in the graph.

    The edge lineage is localCheckpoint-truncated ONCE at entry: the
    loop references hosts/weighted every iteration, and without the
    cut Spark would replay the upstream plan (at crawl scale, the DOM
    walk over every page) once per consumer per round — caught by the
    plan audit, pinned by test_scale_plans.
    """
    edges = edges.localCheckpoint(eager=True)
    hosts = (
        edges.select(F.col("src_host").alias("host"))
        .unionByName(edges.select(F.col("dst_host").alias("host")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_df = hosts.agg(F.count(F.lit(1)).alias("n_hosts"))
    base = F.expr(f"{15 * PAGERANK_SCALE} div (100 * n_hosts)")
    ranks = hosts.crossJoin(F.broadcast(n_df)).select(
        "host", F.expr(f"{PAGERANK_SCALE} div n_hosts").alias("rank_e12")
    )
    deg = edges.groupBy("src_host").agg(F.sum("n_links").alias("out_total"))
    weighted = edges.join(deg, "src_host").localCheckpoint(eager=True)
    for i in range(n_iters):
        inc = (
            ranks.join(weighted, ranks.host == weighted.src_host)
            .select(
                F.col("dst_host").alias("host"),
                # identity (rank*n) div d == (rank div d)*n + ((rank mod d)*n) div d
                # for nonnegative ints — same values, far wider overflow
                # headroom: the naive product overflows int64 once
                # rank_e12*n_links > 9.2e18 (a hub at 1% global mass with a
                # ~1e9-link edge); the split form only overflows when a
                # single host carries > ~3e9 weighted outlinks
                # ((rank mod d) < d and n <= d, so the product is < d*n).
                F.expr(
                    "(rank_e12 div out_total) * n_links"
                    " + ((rank_e12 % out_total) * n_links) div out_total"
                ).alias("contrib"),
            )
            .groupBy("host")
            .agg(F.sum("contrib").alias("inc"))
        )
        ranks = (
            hosts.join(inc, "host", "left")
            .crossJoin(F.broadcast(n_df))
            .select(
                "host",
                (base + F.expr("(85 * coalesce(inc, 0L)) div 100")).alias(
                    "rank_e12"
                ),
            )
        )
        if (i + 1) % _CHECKPOINT_EVERY == 0 and i + 1 < n_iters:
            # same plan-depth control as connected_components: truncate
            # lineage so the iteration count never blows up the planner
            ranks = ranks.localCheckpoint(eager=True)
    return ranks


def host_trustrank(
    edges: DataFrame,
    seeds: DataFrame,
    n_iters: int = 5,
) -> DataFrame:
    """TrustRank (Gyongyi et al. 2004) over the weighted host graph —
    PageRank personalized to a TRUSTED SEED set, in the same exact
    BIGINT arithmetic as :func:`host_pagerank`:

        trust0[h]   = 1e12 div |S|              if h in S else 0
        contrib(e)  = split-identity (trust[src] * n_links) div out[src]
        trust'[h]   = [h in S] * (15*1e12) div (100*|S|)
                      + (85 * sum(contrib)) div 100

    Teleport mass flows ONLY to seeds, so trust decays with link
    distance from the curated set — hosts reachable only through spam
    farms score ~0, which is the demotion signal the crawl-curation
    tier subtracts from raw PageRank. ``seeds`` is a (host) DataFrame;
    seed hosts absent from the graph are ignored. Returns
    (host, trust_e12) for every host in the graph. Every operation is
    integer, so the result is partitioning/order/engine independent
    (the DuckDB oracle replays the recurrence as chained CTEs).

    Same scale discipline as host_pagerank: loop-invariant inputs
    localCheckpoint'd ONCE at entry (the final plan reads ExistingRDD —
    no per-round upstream replay), |S| rides a broadcast singleton,
    per-round shuffles carry (host, long).
    """
    edges = edges.localCheckpoint(eager=True)
    hosts = (
        edges.select(F.col("src_host").alias("host"))
        .unionByName(edges.select(F.col("dst_host").alias("host")))
        .distinct()
    )
    marked = (
        hosts.join(
            seeds.select(F.col("host")).distinct().withColumn("_s", F.lit(1)),
            "host",
            "left",
        )
        .select("host", F.coalesce(F.col("_s"), F.lit(0)).alias("is_seed"))
        .localCheckpoint(eager=True)
    )
    ns_df = marked.agg(F.sum("is_seed").cast("long").alias("n_seeds"))
    ranks = marked.crossJoin(F.broadcast(ns_df)).select(
        "host",
        "is_seed",
        F.when(
            F.col("is_seed") == 1, F.expr(f"{PAGERANK_SCALE} div n_seeds")
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("trust_e12"),
    )
    deg = edges.groupBy("src_host").agg(F.sum("n_links").alias("out_total"))
    weighted = edges.join(deg, "src_host").localCheckpoint(eager=True)
    for i in range(n_iters):
        inc = (
            ranks.join(weighted, ranks.host == weighted.src_host)
            .select(
                F.col("dst_host").alias("host"),
                # widened split identity — see host_pagerank
                F.expr(
                    "(trust_e12 div out_total) * n_links"
                    " + ((trust_e12 % out_total) * n_links) div out_total"
                ).alias("contrib"),
            )
            .groupBy("host")
            .agg(F.sum("contrib").alias("inc"))
        )
        ranks = (
            marked.join(inc, "host", "left")
            .crossJoin(F.broadcast(ns_df))
            .select(
                "host",
                "is_seed",
                (
                    F.when(
                        F.col("is_seed") == 1,
                        F.expr(f"{15 * PAGERANK_SCALE} div (100 * n_seeds)"),
                    ).otherwise(F.lit(0))
                    + F.expr("(85 * coalesce(inc, 0L)) div 100")
                )
                .cast("long")
                .alias("trust_e12"),
            )
        )
        if (i + 1) % _CHECKPOINT_EVERY == 0 and i + 1 < n_iters:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks.select("host", "trust_e12")


# --- deterministic linked-pages fixture (driver oracle corpus) ---------------


def synth_linked_html(n: int) -> list[dict]:
    """Deterministic linked HTML pages for the driver check: page i
    (host i%20) links to pages (i*7 + j + 1) % n for j in range(i % 4);
    a link whose target lives on the SAME host is written relative
    (exercising urljoin resolution), others absolute. The DuckDB oracle
    regenerates the expected link set from this formula — pure
    arithmetic, no HTML parsing — so the Spark DOM walker is checked
    against an independent spec derivation (the gen_goldens pattern)."""
    rows = []
    for i in range(n):
        dsts = [(i * 7 + j + 1) % n for j in range(i % 4)]
        links = []
        for d in dsts:
            if d % 20 == i % 20:
                href = f"/page/{d}"
            else:
                href = f"https://host{d % 20}.example.com/page/{d}"
            links.append(f'<p>see <a href="{href}">doc {d}</a></p>')
        html = (
            f"<html><head><title>t{i}</title>"
            f'<script>var x = "<a href=\\"https://not-a-link.example.com/\\">";</script>'
            f"</head><body><h1>Doc {i}</h1>{''.join(links)}"
            f"<p>filler text for page {i}</p></body></html>"
        )
        rows.append(
            {
                "url": f"https://host{i % 20}.example.com/page/{i}",
                "html": html.encode(),
            }
        )
    return rows


def inlink_summary(links: DataFrame) -> DataFrame:
    """Per-target inlink consolidation — the anchor-text signal
    ranking/quality pipelines feed downstream: how many pages link
    here, from how many distinct hosts, and what they CALL it (the
    most frequent anchor text, ties to the lexicographically smallest).

    Two partial-agg groupBys on (dst_url[, anchor]) — the anchor text
    shuffles once at (dst, anchor) granularity, then only one row per
    dst carries the winner (min over struct(-count, anchor) — exact,
    no window sort over all inlinks).

    Returns (dst_url, n_inlinks, n_src_hosts, top_anchor).
    """
    # two consumers with DIFFERENT shuffle keys -> without a cut the
    # upstream DOM-parse MapInPandas would execute twice (the
    # multiply-consumed-stage rule, compose.py/CLAUDE.md)
    links = links.select("src_url", "dst_url", "anchor").localCheckpoint(
        eager=True
    )
    src_host = F.lower(F.try_parse_url(F.col("src_url"), F.lit("HOST")))
    per_dst = links.groupBy("dst_url").agg(
        F.count(F.lit(1)).alias("n_inlinks"),
        F.countDistinct(src_host).alias("n_src_hosts"),
    )
    top = (
        links.groupBy("dst_url", "anchor")
        .agg(F.count(F.lit(1)).alias("_c"))
        .groupBy("dst_url")
        .agg(
            F.min(F.struct((-F.col("_c")).alias("_nc"), "anchor")).alias("_w")
        )
        .select("dst_url", F.col("_w.anchor").alias("top_anchor"))
    )
    return per_dst.join(top, "dst_url").select(
        "dst_url",
        F.col("n_inlinks").cast("long").alias("n_inlinks"),
        F.col("n_src_hosts").cast("long").alias("n_src_hosts"),
        "top_anchor",
    )


def redirect_resolve(
    redirects: DataFrame,
    max_hops: int = 32,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Redirect-chain resolution (the CDX/fetch-log 3xx graph) by
    pointer DOUBLING: after round k every source points at the node
    min(2^k, chain length) hops downstream, so a chain of length L
    resolves in ceil(log2(L)) rounds — never L rounds of one-hop
    walking. A source RESOLVES when its cursor reaches a node with no
    outgoing redirect within ``max_hops`` hops; redirect CYCLES (and
    chains longer than ``max_hops``) never go terminal and come back
    ``resolved = 0`` with NULL final/hops — the caller drops or audits
    them.

    Input: one row per redirect edge (src, dst). A src with several
    recorded targets (flapping 301s across snapshots) is collapsed to
    its lexicographic MIN dst first — deterministic, engine-independent.
    Returns one row per distinct src: (src, final_url, hops, resolved).

    Shuffle accounting at crawl scale: URL strings ride exactly two
    exchanges (the entry id-mapping and the exit string join-back);
    every doubling round self-joins (xxhash64-id, xxhash64-id, hops)
    LONGS, localCheckpoint-truncated per round so the plan depth stays
    flat (the connected-components discipline, dedup.py:588). Hash
    identity is xxhash64; the DuckDB oracle walks the STRING graph with
    a recursive CTE, so a green driver row certifies the hash mapping.
    """
    e = (
        redirects.groupBy(F.col(src_col).alias("src"))
        .agg(F.min(F.col(dst_col)).alias("dst"))
        .localCheckpoint(eager=True)
    )
    ids = e.select(
        F.xxhash64("src").alias("u"),
        F.xxhash64("dst").alias("cur"),
        F.lit(1).cast("long").alias("hops"),
    ).localCheckpoint(eager=True)
    srcs = ids.select("u").distinct().localCheckpoint(eager=True)
    rounds = max(1, (max_hops - 1).bit_length())  # ceil(log2(max_hops))
    state = ids
    for _ in range(rounds):
        nxt = state.select(
            F.col("u").alias("ju"),
            F.col("cur").alias("jcur"),
            F.col("hops").alias("jhops"),
        )
        state = (
            state.join(nxt, state.cur == nxt.ju, "left")
            .select(
                "u",
                F.coalesce("jcur", "cur").alias("cur"),
                (F.col("hops") + F.coalesce("jhops", F.lit(0))).alias("hops"),
            )
            .localCheckpoint(eager=False)
        )
    term = srcs.select(F.col("u").alias("tu"), F.lit(1).alias("has_out"))
    labeled = state.join(term, state.cur == term.tu, "left").select(
        "u",
        "cur",
        "hops",
        (F.col("has_out").isNull() & (F.col("hops") <= F.lit(max_hops)))
        .cast("long")
        .alias("resolved"),
    )
    names = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .select(F.xxhash64("node").alias("nid"), "node")
    )
    out = (
        labeled.join(names.select(F.col("nid").alias("u_id"), F.col("node").alias("src")),
                     labeled.u == F.col("u_id"))
        .join(names.select(F.col("nid").alias("c_id"), F.col("node").alias("_final")),
              labeled.cur == F.col("c_id"))
    )
    r = F.col("resolved") == 1
    return out.select(
        "src",
        F.when(r, F.col("_final")).alias("final_url"),
        F.when(r, F.col("hops")).cast("long").alias("hops"),
        "resolved",
    )


def frontier_expand(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 4,
) -> DataFrame:
    """Seed-set frontier expansion: label every host reachable from
    the ``seeds`` within ``max_hops`` link-graph hops with its SHORTEST
    hop distance — the crawl-scoping primitive ("fetch everything
    within 3 hops of the curated seed list") that pairs with
    host_trustrank (seeds rank trust; this bounds discovery).

    Input: ``edges(src_host, dst_host, ...)`` (host_edges output),
    ``seeds(host)``. Returns (host, hop), hop 0 for seeds, reached
    hosts only. Hop distance is a shortest-path property — the answer
    is iteration-order-independent, so the DuckDB unrolled-CTE twin
    matches exactly.

    Scale shape: ``max_hops`` fixed rounds; each round joins the
    CURRENT frontier (hop == k-1 rows only) against the edge table on
    the host key and folds new hosts in with a min-hop groupBy —
    shuffles carry (host, hop) pairs, bounded by reachable-set size,
    never the page corpus. Per-round ``localCheckpoint`` keeps the
    plan flat (the iterative-loop discipline: loop state AND the
    loop-invariant edge table are both pinned — see CLAUDE.md).
    """
    e = edges.select(
        F.col("src_host").alias("src"), F.col("dst_host").alias("dst")
    ).localCheckpoint(eager=True)
    reached = (
        seeds.select(F.col("host"), F.lit(0).cast("long").alias("hop"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    for k in range(1, max_hops + 1):
        frontier = reached.filter(F.col("hop") == k - 1)
        new = frontier.join(e, frontier.host == e.src, "inner").select(
            F.col("dst").alias("host"), F.lit(k).cast("long").alias("hop")
        )
        reached = (
            reached.unionAll(new)
            .groupBy("host")
            .agg(F.min("hop").cast("long").alias("hop"))
            .localCheckpoint(eager=True)
        )
    return reached
