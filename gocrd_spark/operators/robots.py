"""robots.txt (RFC 9309) evaluation — crawl-frontier filtering: given
each host's robots.txt and a URL table, label every URL allowed /
disallowed for a crawler user-agent. From-scratch parser over the
public RFC; no external libs.

Parser scope (spec-derived, documented like pdfparse's):

- group selection: all ``User-agent`` lines immediately preceding a
  rule block form the group; the crawler picks the group whose agent
  token equals its own (case-insensitive) if one exists, else the
  ``*`` group; multiple groups for the same agent merge (RFC 9309
  §2.2.1);
- rules: ``Allow`` / ``Disallow`` with ``*`` wildcards and the ``$``
  end anchor (§2.2.3); an empty ``Disallow:`` value means
  unrestricted; unknown directives and comment/garbage lines are
  skipped;
- decision (§2.2.2): the MOST SPECIFIC match wins — longest pattern in
  octets; on a length tie, ``Allow`` wins; no match at all = allowed.

Spark surface: ``robots_filter(urls, robots)`` joins each URL with its
host's robots bytes and evaluates in an Arrow batch kernel that parses
+ compiles each host's rules ONCE per partition (per-host cache) — the
same mapInPandas shape as the extraction kernels; hosts without a
robots row are allowed (a missing robots.txt permits crawling). The
join ships (host, robots bytes) — robots files are KB-sized; URL
payloads never widen.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kernel import row_kernel

ROBOTS_SCHEMA = "id long, url string, allowed long, matched_rule string"


def parse_robots(data: bytes, user_agent: str = "*") -> list[tuple[bool, str]]:
    """Parse robots.txt bytes into the rule list for ``user_agent``:
    [(is_allow, path_pattern), ...]. Selects the agent's own group(s)
    when present, else the ``*`` group(s)."""
    groups: dict[str, list[tuple[bool, str]]] = {}
    current_agents: list[str] = []
    in_group_header = True
    text = data.decode("utf-8", "replace")
    for raw in text.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        field, _, value = line.partition(":")
        field = field.strip().lower()
        value = value.strip()
        if field == "user-agent":
            if not in_group_header:
                current_agents = []
                in_group_header = True
            ua = value.lower()
            if ua not in current_agents:  # repeated identical UA lines
                current_agents.append(ua)
            groups.setdefault(ua, [])
        elif field in ("allow", "disallow"):
            in_group_header = False
            if not current_agents:
                continue  # rule before any User-agent line: ignored
            if value == "":
                # empty Disallow = unrestricted (RFC); empty Allow is
                # skipped symmetrically — '' would otherwise match
                # every path at length 0 and surface as matched_rule=''
                continue
            for a in current_agents:
                groups.setdefault(a, []).append((field == "allow", value))
        # unknown directives (Sitemap, Crawl-delay, ...) are skipped
    ua = user_agent.lower()
    if ua in groups:
        return groups[ua]
    return groups.get("*", [])


def _pattern_regex(pattern: str) -> "re.Pattern":
    """RFC 9309 path pattern -> anchored regex: match from the path
    start; ``*`` matches any run; trailing ``$`` anchors the end."""
    anchored = pattern.endswith("$")
    body = pattern[:-1] if anchored else pattern
    rx = ".*".join(re.escape(part) for part in body.split("*"))
    return re.compile("^" + rx + ("$" if anchored else ""))


def compile_rules(
    rules: list[tuple[bool, str]]
) -> list[tuple[bool, str, "re.Pattern"]]:
    """Pre-compile a rule list once (the kernel caches this per distinct
    robots text, so a 10k-row batch never recompiles a pattern)."""
    return [(a, p, _pattern_regex(p)) for a, p in rules]


def evaluate(rules, path: str) -> tuple[bool, str | None]:
    """Most-specific-match decision (§2.2.2): longest matching pattern
    in OCTETS (UTF-8 bytes, per the RFC — not characters) wins; ties go
    to Allow; no match = allowed. Accepts (is_allow, pattern) pairs or
    the pre-compiled triples from :func:`compile_rules`. Returns
    (allowed, matched_pattern_or_None)."""
    best: tuple[int, int, str] | None = None  # (octets, is_allow, pattern)
    for rule in rules:
        if len(rule) == 3:
            is_allow, pattern, rx = rule
        else:
            is_allow, pattern = rule
            rx = _pattern_regex(pattern)
        if rx.match(path):
            key = (len(pattern.encode("utf-8")), 1 if is_allow else 0, pattern)
            if best is None or key[:2] > best[:2]:
                best = key
    if best is None:
        return True, None
    return bool(best[1]), best[2]


def robots_filter(
    urls: DataFrame,
    robots: DataFrame,
    user_agent: str = "*",
    id_col: str = "doc_id",
    url_col: str = "url",
) -> DataFrame:
    """Label every URL allowed/disallowed under its host's robots.txt.

    ``robots`` carries (host string, robots binary). URLs join their
    host's robots bytes (the robots side is per-host and KB-sized —
    broadcast when small, hash join on host otherwise; either way the
    exchange carries hosts and robots bytes, never widened URL rows on
    the build side), then an Arrow kernel parses + compiles each
    distinct robots text once per partition and evaluates paths. Hosts with
    no robots row are allowed. Returns (id, url, allowed 0/1,
    matched_rule)."""
    from urllib.parse import urlsplit

    keyed = urls.select(
        # the kernel's output schema pins id to BIGINT — cast here so a
        # non-long id column fails loudly at plan time, not mid-task
        F.col(id_col).cast("long").alias("id"),
        F.col(url_col).alias("url"),
        F.lower(F.try_parse_url(F.col(url_col), F.lit("HOST"))).alias("host"),
    ).join(
        robots.select(F.lower(F.col("host")).alias("host"), "robots"),
        "host",
        "left",
    )

    def filter_row(rules_cache: dict[bytes, list], url, blob):
        if blob is None:
            return [(1, None)]
        blob = bytes(blob)
        rules = rules_cache.get(blob)
        if rules is None:
            rules = compile_rules(parse_robots(blob, user_agent))
            rules_cache[blob] = rules
        try:
            split = urlsplit(url)
            path = split.path or "/"
            if split.query:
                path += "?" + split.query
        except ValueError:
            path = "/"
        allowed, rule = evaluate(rules, path)
        return [(1 if allowed else 0, rule)]

    kernel = row_kernel(
        filter_row, ROBOTS_SCHEMA, keys=("id", "url"), args=("url", "robots"), state=dict
    )
    return keyed.select("id", "url", "robots").mapInPandas(kernel, ROBOTS_SCHEMA)


def robots_sitemaps(robots_by_host) -> "DataFrame":
    """Sitemap discovery from robots.txt — the crawl-seed expansion
    step: every ``Sitemap:`` line (RFC 9309 §2.3 'other records' /
    sitemaps.org protocol: case-insensitive key, absolute URL value,
    NOT scoped to any user-agent group) becomes one (host,
    sitemap_url) row, document order preserved via sitemap_idx.

    Pure JVM: one regexp_extract_all over the body — narrow map, zero
    Python; malformed bodies simply yield no rows."""
    from pyspark.sql import functions as F

    urls = F.expr(
        r"regexp_extract_all(cast(robots as string),"
        r" '(?im)^[ \\t]*sitemap[ \\t]*:[ \\t]*(\\S+)', 1)"
    )
    return robots_by_host.select(
        "host", F.posexplode(urls).alias("sitemap_idx", "sitemap_url")
    ).select(
        "host",
        F.col("sitemap_idx").cast("long").alias("sitemap_idx"),
        "sitemap_url",
    )


def crawl_delay(data: bytes, user_agent: str = "*"):
    """Crawl-delay extraction (the de-facto extension most crawlers
    honor): returns the selected group's delay in integer MILLISECONDS,
    or None when the UA's group(s) (else the ``*`` group(s)) carry
    none. Group semantics MIRROR parse_robots exactly — crawl-delay is
    a non-rule record, so (like Sitemap) it does NOT close an open
    user-agent header: a delay line between two UA lines belongs to the
    merged group both agents share, the same grouping robots_filter
    certifies. Within a group the first valid line wins; non-numeric,
    negative, non-finite, or int64-overflowing values are ignored
    (tolerant-parser contract). UA selection follows parse_robots: if
    the agent appears in ANY group, only its groups are consulted — no
    silent fallback to ``*``."""
    groups: list[dict] = []
    cur: dict | None = None
    in_group_header = True
    text = data.decode("utf-8", "replace")
    for raw in text.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        field, _, value = line.partition(":")
        field = field.strip().lower()
        value = value.strip()
        if field == "user-agent":
            if not in_group_header or cur is None:
                cur = {"agents": [], "delay": None}
                groups.append(cur)
                in_group_header = True
            ua = value.lower()
            if ua not in cur["agents"]:
                cur["agents"].append(ua)
        elif field in ("allow", "disallow"):
            in_group_header = False
        elif field == "crawl-delay" and cur is not None:
            # non-rule record: header stays open (parse_robots parity)
            if cur["delay"] is not None:
                continue
            try:
                sec = float(value)
            except ValueError:
                continue
            if sec < 0 or sec != sec or sec == float("inf"):
                continue
            ms = int(round(sec * 1000))
            if ms >= 1 << 62:  # would overflow the LongType column
                continue
            cur["delay"] = ms
    ua = user_agent.lower()
    has_ua = any(ua in g["agents"] for g in groups)
    target = ua if has_ua else "*"
    for g in groups:
        if target in g["agents"] and g["delay"] is not None:
            return g["delay"]
    return None


def robots_crawl_delays(robots: "DataFrame", user_agent: str = "*") -> "DataFrame":
    """Per-host politeness table: (host, crawl_delay_ms BIGINT or NULL)
    from each host's robots bytes — the rate input a frontier scheduler
    pairs with frontier_waves' concurrency bound. Arrow kernel with the
    per-partition parsed cache (robots_filter's discipline); narrow map,
    zero shuffle."""
    schema = "host string, crawl_delay_ms long"

    def delay_row(cache: dict[bytes, object], blob):
        if blob is None:
            return [(None,)]
        blob = bytes(blob)
        if blob not in cache:
            cache[blob] = crawl_delay(blob, user_agent)
        return [(cache[blob],)]

    kernel = row_kernel(delay_row, schema, keys=("host",), args=("robots",), state=dict)
    return robots.select("host", "robots").mapInPandas(kernel, schema)
