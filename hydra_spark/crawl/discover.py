"""Link discovery: href extraction from fetched pages + frontier
expansion — the piece that turns the reference's fixed-catalog crawler
into a Common-Crawl-style web crawler. The reference's frontier is the
udata catalog (rows arrive via CSV load / webhook, never from page
content — crawl/check_resources.py only consumes the catalog); at
10^10-URL web scale the frontier must GROW from what the crawler
fetches. Discovery is the standard loop: extract hrefs → resolve
against the base URL → canonicalize → dedup against the frontier →
enqueue.

Scale design:
- extraction/resolution/canonicalization is pure JVM expression work
  (regexp_extract_all + transform/filter lambdas) — zero Python, zero
  shuffle, fused into the fetch round's scan.
- enqueue dedup is ONE left_anti join keyed on resource_id
  (md5(canonical url)) against the frontier's distinct resource_ids.
  It reads no seen shard, so the dedup is exact. Two exchanges: the
  candidates' dedup on resource_id (which the join reuses) and the
  frontier's key `distinct`.
- per-page link caps bound the explode (a spam page with 10^6 hrefs
  must not dominate a task).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hydra_spark.catalog import as_frontier_rows
from hydra_spark.config import DEFAULT
from hydra_spark.functions.urls import canonicalize_url, resource_id_of

__all__ = [
    "extract_links",
    "extract_sitemap_urls",
    "extract_sitemap_entries",
    "discover_frontier",
]

_HREF_RE = r"""href\s*=\s*["']([^"']+)["']"""
_ABS_RE = r"^[a-zA-Z][a-zA-Z0-9+.\-]*:"


def extract_links(
    df: DataFrame,
    html_col: str = "html",
    url_col: str = "url",
    max_links_per_page: int = 1000,
    same_host_only: bool = False,
) -> DataFrame:
    """(url, link) rows: every href in the fetched HTML, resolved and
    canonicalized — entirely in JVM expressions.

    Resolution: absolute http(s) kept; ``//host/p`` inherits the base
    scheme; ``/p`` is root-relative; ``p`` joins the base directory
    (no ``../`` normalization — canonical web corpora treat those as
    distinct URLs anyway); fragments and non-http schemes
    (mailto/javascript/data/ftp) are dropped. Per-page distinct, capped
    at ``max_links_per_page`` (slice after distinct — deterministic,
    bounds the explode against link-spam pages).
    """
    # Base-URL parts are PRE-PROJECTED as plain columns: expressions
    # referenced inside a higher-order-function lambda are re-evaluated
    # per array element (HOFs are interpreted — no codegen CSE), so an
    # inline `scheme`/`host`/`basedir` would re-run its regexp per HREF
    # instead of once per page. Column references are free.
    base = F.col(url_col)
    scheme0 = F.lower(F.regexp_extract(base, r"^([a-zA-Z][a-zA-Z0-9+.\-]*)://", 1))
    host0 = F.lower(F.regexp_extract(base, r"^[a-zA-Z][a-zA-Z0-9+.\-]*://([^/?]+)", 1))
    path = F.regexp_extract(base, r"^[a-zA-Z][a-zA-Z0-9+.\-]*://[^/?]+(/[^?]*)?", 1)
    basedir0 = F.regexp_replace(path, r"[^/]*$", "")
    basedir0 = F.when(basedir0 == "", F.lit("/")).otherwise(basedir0)
    df = df.select(
        base.alias("_src_url"),
        F.col(html_col).cast("string").alias("_html"),
        scheme0.alias("_scheme"),
        host0.alias("_host"),
        basedir0.alias("_basedir"),
    )
    html_str = F.col("_html")
    scheme = F.col("_scheme")
    host = F.col("_host")
    basedir = F.col("_basedir")

    def resolve(l):
        l = F.trim(l)
        return (
            F.when(l.startswith("#"), F.lit(None).cast("string"))
            .when(l.rlike("^https?://"), l)
            .when(l.startswith("//"), F.concat(scheme, F.lit(":"), l))
            .when(l.rlike(_ABS_RE), F.lit(None).cast("string"))  # mailto:, javascript:, ftp:, data:
            .when(l.startswith("/"), F.concat(scheme, F.lit("://"), host, l))
            .otherwise(F.concat(scheme, F.lit("://"), host, basedir, l))
        )

    raw = F.regexp_extract_all(html_str, F.lit(_HREF_RE), 1)
    links = F.transform(raw, resolve)
    links = F.filter(links, lambda x: x.isNotNull())
    links = F.transform(links, lambda x: canonicalize_url(x))
    if same_host_only:
        links = F.filter(
            links,
            lambda x: F.lower(
                F.regexp_extract(x, r"^[a-zA-Z][a-zA-Z0-9+.\-]*://([^/?]+)", 1)
            ) == host,
        )
    links = F.slice(F.array_sort(F.array_distinct(links)), 1, max_links_per_page)
    # two projections: an output alias "url" would shadow the input
    # column the link expressions reference (lateral-alias conflict)
    staged = df.select(F.col("_src_url"), links.alias("_links"))
    return staged.select(
        F.col("_src_url").alias("url"), F.explode("_links").alias("link")
    )


def discover_frontier(
    frontier: DataFrame,
    links: DataFrame,
    cfg=None,
    link_col: str = "link",
) -> DataFrame:
    """New frontier rows for links not already enqueued: resource_id =
    UUID-shaped md5(canonical url) (the frontier's unique key, same
    derivation as the catalog seed), non-priority, type 'discovered',
    host-bucketed for the salted claim path. ONE left_anti join on
    resource_id — only the (already per-page-distinct) links shuffle.
    Append the result to the frontier store to enqueue."""
    # dedup keyed on the DERIVED resource_id, not the url: the dedup's
    # output is then already hash-partitioned on the anti-join key, so
    # the candidate side shuffles ONCE (url↔rid is 1:1 — rid is md5(url))
    cand = as_frontier_rows(
        links.select(
            resource_id_of(link_col).alias("resource_id"),
            F.col(link_col).alias("url"),
            F.lit("discovered").alias("type"),
        ),
        cfg or DEFAULT,
    )
    seen = frontier.select(F.col("resource_id").alias("_seen_rid")).distinct()
    return cand.join(seen, F.col("resource_id") == F.col("_seen_rid"), "left_anti")


def _decode_entities(x):
    """Undo the five XML escapes sitemaps apply to <loc> URLs."""
    for ent, ch in (("&amp;", "&"), ("&lt;", "<"), ("&gt;", ">"),
                    ("&quot;", '"'), ("&apos;", "'")):
        x = F.replace(x, F.lit(ent), F.lit(ch))
    return x


def extract_sitemap_entries(
    df: DataFrame,
    xml_col: str = "xml",
    url_col: str = "url",
    max_urls_per_sitemap: int = 50_000,
) -> DataFrame:
    """(url, loc, kind) rows from sitemap payloads, distinguishing the
    two sitemaps.org container types `extract_sitemap_urls` flattens:
    ``kind='sitemap'`` for ``<sitemapindex>/<sitemap>`` children (child
    sitemap files a recursive walk must route BACK to the fetch queue)
    and ``kind='page'`` for ``<urlset>/<url>`` entries (frontier URLs
    for `discover_frontier`). A 50k-URL sitemap index fan-out is how
    large sites (and Common Crawl seed donors) publish their URL space,
    so the walk is: fetch robots → sitemaps_from_robots → fetch → this
    → route by kind, loop until no 'sitemap' rows remain (depth-bounded
    by the caller). Same decode/canonicalize/cap rules as the flat
    extractor; pure JVM expressions."""
    xml = F.col(xml_col).cast("string")

    def locs_of(block_re: str):
        blocks = F.regexp_extract_all(xml, F.lit(block_re), 1)
        ls = F.transform(
            blocks,
            lambda b: canonicalize_url(
                _decode_entities(F.trim(F.regexp_extract(b, r"<loc>\s*([^<]+?)\s*</loc>", 1)))
            ),
        )
        ls = F.filter(ls, lambda x: x.rlike("^https?://"))
        return F.slice(F.array_sort(F.array_distinct(ls)), 1, max_urls_per_sitemap)

    children = locs_of(r"(?s)<sitemap>(.*?)</sitemap>")
    pages = locs_of(r"(?s)<url>(.*?)</url>")
    entries = F.concat(
        F.transform(
            children,
            lambda x: F.struct(x.alias("loc"), F.lit("sitemap").alias("kind")),
        ),
        F.transform(
            pages, lambda x: F.struct(x.alias("loc"), F.lit("page").alias("kind"))
        ),
    )
    staged = df.select(F.col(url_col).alias("_src_url"), entries.alias("_e"))
    return staged.select(
        F.col("_src_url").alias("url"), F.explode("_e").alias("e")
    ).select("url", F.col("e.loc").alias("loc"), F.col("e.kind").alias("kind"))


def extract_sitemap_urls(
    df: DataFrame,
    xml_col: str = "xml",
    url_col: str = "url",
    max_urls_per_sitemap: int = 50_000,
) -> DataFrame:
    """(url, loc) rows from sitemap.xml / sitemap-index payloads — the
    other frontier-growth source next to href discovery (robots.txt
    points at sitemaps; the sitemaps.org protocol caps a file at 50k
    URLs, the default here). ``<loc>`` entries are entity-decoded
    (sitemaps XML-escape & < > " '), trimmed, canonicalized, distinct.
    Pure JVM expressions; feed the result to `discover_frontier`."""
    xml = F.col(xml_col).cast("string")
    locs = F.regexp_extract_all(xml, F.lit(r"<loc>\s*([^<]+?)\s*</loc>"), 1)
    locs = F.transform(locs, lambda x: canonicalize_url(_decode_entities(F.trim(x))))
    locs = F.filter(locs, lambda x: x.rlike("^https?://"))
    locs = F.slice(F.array_sort(F.array_distinct(locs)), 1, max_urls_per_sitemap)
    staged = df.select(F.col(url_col).alias("_src_url"), locs.alias("_locs"))
    return staged.select(F.col("_src_url").alias("url"), F.explode("_locs").alias("loc"))
