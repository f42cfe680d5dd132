"""URL column expressions.

Reference behaviors re-expressed as Catalyst expressions:
- domain extraction   — urlparse(url).netloc
  (reference: udata_hydra/crawl/check_resources.py:75-76)
- excluded patterns   — SQL LIKE clauses
  (reference: udata_hydra/db/resource.py:157-170)
- canonicalization    — stable-URL rewrite
  (reference: udata_hydra/crawl/check_resources.py:237-259)
- murmur3/xxhash64 URL hashing feeds the partitioned Bloom URL-seen set
  (north rule; Spark ``F.hash`` IS murmur3_x86_32).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_SCHEME_RE = r"^([a-zA-Z][a-zA-Z0-9+.\-]*)://"


def canonicalize_url(url: Column | str) -> Column:
    """Deterministic canonical form: strip fragment, lowercase
    scheme+host, drop default ports, ensure a path.

    URLs with no scheme (no netloc) are returned unchanged — the
    crawler flags them as errors (F5).
    """
    c = F.regexp_replace(F.col(url) if isinstance(url, str) else url, r"#.*$", "")
    scheme = F.lower(F.regexp_extract(c, _SCHEME_RE, 1))
    rest = F.regexp_replace(c, _SCHEME_RE, "")
    hostport = F.lower(F.regexp_extract(rest, r"^([^/?]+)", 1))
    hostport = (
        F.when(scheme == "http", F.regexp_replace(hostport, ":80$", ""))
        .when(scheme == "https", F.regexp_replace(hostport, ":443$", ""))
        .otherwise(hostport)
    )
    tail = F.regexp_replace(rest, r"^[^/?]+", "")
    tail = F.when(tail == "", F.lit("/")).otherwise(tail)
    return F.when(scheme == "", c).otherwise(
        F.concat(scheme, F.lit("://"), hostport, tail)
    )


def url_domain(url: Column | str) -> Column:
    """netloc equivalent (check_resources.py:75-76). NULL ⇒ no-netloc
    error row (F5)."""
    return F.parse_url(F.col(url) if isinstance(url, str) else url, F.lit("HOST"))


def excluded_clause(patterns: tuple[str, ...]) -> Column:
    """True for rows eligible w.r.t. EXCLUDED_PATTERNS
    (db/resource.py:157-170): every pattern is a SQL LIKE exclusion."""
    cond = F.lit(True)
    for p in patterns:
        cond = cond & ~F.col("url").like(p)
    return cond


def url_hash64(url: Column | str, seed: int = 42) -> Column:
    """xxhash64 of the canonical URL — Bloom hash #1."""
    return F.xxhash64(canonicalize_url(url), F.lit(seed))


def url_hash32(url: Column | str) -> Column:
    """murmur3_x86_32 of the canonical URL — Bloom hash #2 (north rule:
    murmur3-hashed URLs)."""
    return F.hash(canonicalize_url(url))


def host_bucket(url: Column | str, n_buckets: int) -> Column:
    """Stable host-hash bucket for frontier partitioning (§2.4):
    breadth-first claims and Bloom shards key on this."""
    return F.pmod(F.hash(url_domain(url)), F.lit(n_buckets)).cast("int")


def resource_id_of(url: Column | str) -> Column:
    """UUID-shaped md5 of the URL (8-4-4-4-12 hex): the frontier key of
    seeded and discovered resources."""
    h = F.md5(F.col(url) if isinstance(url, str) else url)
    return F.concat_ws(
        "-",
        *[F.substring(h, pos, n) for pos, n in ((1, 8), (9, 4), (13, 4), (17, 4), (21, 12))],
    )


def surt_key(url: Column | str) -> Column:
    """SURT-style url key (Sort-friendly URI Reordering Transform) —
    the canonical key of Common-Crawl/Wayback CDX indexes:
    ``https://www.Example.COM:8080/Path?b=2&a=1`` →
    ``com,example:8080)/path?a=1&b=2``. Scheme dropped, host
    lowercased + reversed comma-joined with a leading ``www.``
    stripped, default ports dropped, path lowercased, query params
    sorted. Pure expressions; rows with no netloc key as NULL."""
    u = F.col(url) if isinstance(url, str) else url
    c = canonicalize_url(u)
    scheme = F.lower(F.regexp_extract(c, _SCHEME_RE, 1))
    hostport = F.lower(F.regexp_extract(c, _SCHEME_RE + r"([^/?]+)", 2))
    host = F.regexp_replace(hostport, r":\d+$", "")
    port = F.regexp_extract(hostport, r"(:\d+)$", 1)
    host = F.regexp_replace(host, r"^www\.", "")
    rev = F.array_join(F.reverse(F.split(host, r"\.")), ",")
    tail = F.lower(F.regexp_replace(c, _SCHEME_RE + r"[^/?]+", ""))
    path = F.regexp_extract(tail, r"^([^?]*)", 1)
    query = F.regexp_extract(tail, r"\?(.*)$", 1)
    sorted_q = F.array_join(F.array_sort(F.split(query, "&")), "&")
    tail_out = F.when(query == "", path).otherwise(F.concat(path, F.lit("?"), sorted_q))
    return F.when(scheme == "", F.lit(None).cast("string")).otherwise(
        F.concat(rev, port, F.lit(")"), tail_out)
    )
