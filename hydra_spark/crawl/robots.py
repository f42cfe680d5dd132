"""robots.txt gating as a grouped rule join (north rule).

The reference crawls data.gouv-registered resources and does not parse
robots.txt; the north rule requires robots enforcement alongside the
politeness budgets, so it is a first-class stage here:

- each host's robots.txt body is read once, by one RFC 9309 group
  scanner (`_agent_lines`): consecutive User-agent lines share a group,
  and an exact agent match beats the `*` groups entirely. The rules
  and the Crawl-delay are both read from the groups it returns.
- rules live in a `robots_rules(domain, pattern, regex, is_allow)`
  table built by `rfc_rules_from_robots_pages` (python runs once per
  HOST row, never per URL); `regex` is the pattern pre-translated for
  the JVM.
- `split_robots_rfc` is the one matcher: a broadcast join of the batch
  against the rule rows on domain + `regexp_like` of the URL path, then
  the longest matching pattern wins (Allow on a tie). Blocked rows are
  recorded as error checks (never fetched), mirroring how the
  excluded-pattern clause works (F1) but data-driven per host.

Scale: the rule table is ~hosts-sized (≪ frontier), always broadcast;
the winner window shuffles one batch-sized frame per round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

ROBOTS_ERROR = "blocked by robots.txt"


def _agent_lines(body: str, agent: str) -> list[list[tuple[str, str]]]:
    """The (key, value) lines of each robots.txt group that applies to
    `agent`, one list per group in file order. Keys are lower-cased;
    comments (#), lines without a colon and lines before the first
    User-agent are skipped. Consecutive User-agent lines share one
    group; an exact agent match beats `*`, and then the `*` groups are
    ignored entirely (RFC 9309 §2.2.1)."""
    agent = agent.lower()
    groups: list[tuple[list[str], list[tuple[str, str]]]] = []
    agents: list[str] = []
    lines: list[tuple[str, str]] | None = None
    for raw in body.splitlines():
        line = raw.split("#", 1)[0].strip()
        if ":" not in line:
            continue
        key, _, val = line.partition(":")
        key, val = key.strip().lower(), val.strip()
        if key == "user-agent":
            if lines is not None:  # a rule line closed the previous group
                groups.append((agents, lines))
                agents, lines = [], None
            agents.append(val.lower())
        elif agents:
            if lines is None:
                lines = []
            lines.append((key, val))
    if agents:
        groups.append((agents, lines or []))
    exact = [ls for names, ls in groups if agent in names]
    return exact or [ls for names, ls in groups if "*" in names]


def parse_robots_rules(body: str, agent: str = "hydra") -> list[tuple[str, bool]]:
    """(pattern, is_allow) pairs for the groups that apply to `agent`,
    keeping `Allow:` lines and wildcard patterns intact (RFC 9309
    §2.2.2-2.2.3: `*` matches any octet sequence, a trailing `$` anchors
    the end). An empty value is a no-op rule."""
    return [
        (val, key == "allow")
        for group in _agent_lines(body, agent)
        for key, val in group
        if key in ("disallow", "allow") and val
    ]


def parse_crawl_delay(body: str, agent: str = "hydra") -> float | None:
    """Crawl-delay seconds applying to `agent`: the first applying group
    that declares a parseable one (the last such line in that group).
    The directive is non-standard but ubiquitous, and big crawlers
    honor it."""
    for group in _agent_lines(body, agent):
        delay = None
        for key, val in group:
            if key == "crawl-delay":
                try:
                    delay = float(val)
                except ValueError:
                    pass
        if delay is not None:
            return delay
    return None


def robots_pattern_regex(pattern: str) -> str:
    """RFC 9309 path pattern → anchored regex: literal segments are
    escaped, `*` becomes `.*`, a trailing `$` becomes the end anchor.
    re.escape (3.7+) only backslashes regex metacharacters, all of
    which escape identically in Java regex and RE2 — the same string
    drives Spark's regexp_like and any SQL oracle."""
    import re as _re

    anchored = pattern.endswith("$")
    if anchored:
        pattern = pattern[:-1]
    rx = "^" + ".*".join(_re.escape(p) for p in pattern.split("*"))
    return rx + "$" if anchored else rx


def _per_host(robots_pages: DataFrame, schema: str, rows_of) -> DataFrame:
    """(domain, body) robots.txt fetches → rows of the DDL `schema`, the ones
    `rows_of(domain, text)` yields for each host with a body. An
    Arrow-batched mapInPandas: python, but over one tiny row per HOST —
    not per URL, so it never touches the frontier's scale axis."""
    import pandas as pd

    columns = [field.split()[0] for field in schema.split(",")]

    def gen(batches):
        for pdf in batches:
            rows = []
            for domain, body in pdf[["domain", "body"]].itertuples(index=False):
                if body is None:
                    continue
                text = (
                    bytes(body).decode("utf-8", "replace")
                    if isinstance(body, (bytes, bytearray))
                    else body
                )
                rows.extend(rows_of(domain, text))
            yield pd.DataFrame(rows, columns=columns)

    return robots_pages.mapInPandas(gen, schema=schema)


def rfc_rules_from_robots_pages(
    robots_pages: DataFrame, agent: str = "hydra"
) -> DataFrame:
    """(domain, body) fetches → the `(domain, pattern, regex, is_allow)`
    table `split_robots_rfc` consumes."""
    schema = "domain string, pattern string, regex string, is_allow boolean"

    def rows_of(domain, text):
        for pat, is_allow in parse_robots_rules(text, agent):
            yield domain, pat, robots_pattern_regex(pat), is_allow

    return _per_host(robots_pages, schema, rows_of)


def crawl_delays_from_robots_pages(
    robots_pages: DataFrame, agent: str = "hydra"
) -> DataFrame:
    """(domain, body) → `crawl_delays(domain, crawl_delay)` — feed to
    `backoff.domain_backoff(crawl_delays=...)` to turn each host's
    declared delay into a per-domain request budget. Hosts without a
    positive delay get no row."""
    schema = "domain string, crawl_delay double"

    def rows_of(domain, text):
        d = parse_crawl_delay(text, agent)
        if d is not None and d > 0:
            yield domain, float(d)

    return _per_host(robots_pages, schema, rows_of)


def sitemaps_from_robots(
    df: DataFrame, body_col: str = "body", url_col: str = "url"
) -> DataFrame:
    """(url, sitemap) rows from robots.txt bodies: ``Sitemap:``
    directives (RFC 9309 §2.3 allows them anywhere in the file,
    case-insensitive, absolute URLs). The discovery chain is
    robots → `sitemaps_from_robots` → fetch → `extract_sitemap_urls`
    → `discover_frontier`. Pure expressions."""
    body = F.col(body_col).cast("string")
    maps = F.regexp_extract_all(body, F.lit(r"(?im)^\s*sitemap\s*:\s*(\S+)\s*$"), 1)
    maps = F.filter(maps, lambda x: x.rlike("^https?://"))
    maps = F.array_sort(F.array_distinct(maps))
    staged = df.select(F.col(url_col).alias("_src_url"), maps.alias("_maps"))
    return staged.select(
        F.col("_src_url").alias("url"), F.explode("_maps").alias("sitemap")
    )


def split_robots_rfc(batch: DataFrame, rules: DataFrame | None, key_col: str = "url"):
    """(allowed, blocked) under RFC 9309 matching: among the domain's
    rules whose pattern matches the URL path, the longest pattern
    (octet length) wins; an Allow beats a Disallow of equal length; no
    match → allowed. `batch` must carry a `domain` column (select_batch
    provides it) and a unique `key_col`.

    The rule side broadcasts and matching is JVM regexp_like on the
    pre-translated regex column. A row-per-rule left join feeds the
    per-URL winner window, so each batch row comes out exactly once —
    a URL blocked by one rule never leaks into `allowed` via another,
    and allowed URLs are not duplicated once per rule."""
    if rules is None:
        return batch, None
    path = F.regexp_replace(F.col("url"), r"^[a-zA-Z][a-zA-Z0-9+.\-]*://[^/]+", "")
    b = batch.withColumn("_path", F.when(path == "", "/").otherwise(path))
    r = F.broadcast(
        rules.select(
            F.col("domain").alias("_rdom"),
            F.col("regex").alias("_rx"),
            F.col("is_allow").alias("_ra"),
            F.length("pattern").alias("_plen"),
        )
    )
    m = b.join(
        r,
        (F.col("domain") == F.col("_rdom")) & F.regexp_like(F.col("_path"), F.col("_rx")),
        "left",
    )
    w = Window.partitionBy(key_col).orderBy(
        F.desc_nulls_last("_plen"), F.desc_nulls_last("_ra")
    )
    verdict = (
        m.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .withColumn("_blocked", F.coalesce(~F.col("_ra"), F.lit(False)))
    )
    drop = ["_path", "_rdom", "_rx", "_ra", "_plen", "_rn", "_blocked"]
    allowed = verdict.where(~F.col("_blocked")).drop(*drop)
    blocked = verdict.where(F.col("_blocked")).drop(*drop)
    return allowed, blocked
