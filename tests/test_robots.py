"""robots.txt gating (north rule): disallowed URLs are never fetched,
recorded as error checks, and deferred by the max delay."""

from pyspark.sql import functions as F

from hydra_spark.config import DEFAULT
from hydra_spark.crawl.loop import init_state, run_crawl
from hydra_spark.crawl.robots import (
    ROBOTS_ERROR,
    parse_robots_rules,
    rfc_rules_from_robots_pages,
    split_robots_rfc,
)
from hydra_spark.datagen import generate_frontier, generate_pages, generate_robots_pages
from hydra_spark.functions.urls import url_domain
from hydra_spark.storage import StateStore


def _disallow_rules(spark, domain, prefixes):
    """The rule table of one host whose robots.txt is Disallow lines only."""
    body = "User-agent: *\n" + "".join(f"Disallow: {p}\n" for p in prefixes)
    return rfc_rules_from_robots_pages(
        spark.createDataFrame([(domain, body)], "domain string, body string")
    )


def _fifth_hosts(pages):
    """The hosts generate_robots_pages gives `Disallow: /private/`."""
    domains = pages.select(url_domain("url").alias("domain")).distinct()
    return {
        r["domain"]
        for r in domains.where(F.pmod(F.hash("domain"), F.lit(5)) == 0).collect()
    }


def _disallows(body, agent):
    return [p for p, is_allow in parse_robots_rules(body, agent) if not is_allow]


def test_split_robots(spark):
    batch = spark.createDataFrame(
        [
            ("r1", "https://a.com/private/x", "a.com"),
            ("r2", "https://a.com/public/x", "a.com"),
            ("r3", "https://b.com/private/x", "b.com"),
        ],
        "resource_id string, url string, domain string",
    )
    rules = _disallow_rules(spark, "a.com", ["/private/"])
    allowed, blocked = split_robots_rfc(batch, rules, key_col="resource_id")
    assert {r["resource_id"] for r in blocked.collect()} == {"r1"}
    assert {r["resource_id"] for r in allowed.collect()} == {"r2", "r3"}


def test_round_with_robots(spark, tmp_path):
    pages = generate_pages(spark, 1500, n_hosts=10).cache()
    frontier = generate_frontier(spark, pages)
    rules = rfc_rules_from_robots_pages(generate_robots_pages(spark, pages))
    ruled = _fifth_hosts(pages)
    assert ruled
    store = StateStore(str(tmp_path))
    init_state(store, frontier)
    res = run_crawl(
        spark, store, pages, DEFAULT.with_(batch_size=100_000, backoff_nb_req=100_000), rounds=1, robots_rules=rules
    )
    assert res[0]["n_robots_blocked"] > 0
    checks = store.checks.read(spark)
    blocked = checks.where(checks.error == ROBOTS_ERROR).collect()
    assert len(blocked) == res[0]["n_robots_blocked"]
    for r in blocked:
        assert "/private/" in r["url"] and r["domain"] in ruled
        assert r["status"] is None and r["checksum"] is None
    # no fetched check exists for a disallowed URL
    fetched_private = checks.where(
        checks.url.contains("/private/") & checks.error.isNull()
    ).collect()
    assert not [r for r in fetched_private if r["domain"] in ruled]


def test_split_robots_multiple_prefixes_per_domain(spark):
    """A domain with several Disallow lines: a URL blocked by ANY prefix
    must not leak into `allowed` via the other rule rows, and allowed
    URLs must not be duplicated once per rule."""
    batch = spark.createDataFrame(
        [
            ("r1", "https://a.com/private/x", "a.com"),
            ("r2", "https://a.com/tmp/x", "a.com"),
            ("r3", "https://a.com/public/x", "a.com"),
            ("r4", "https://b.com/tmp/x", "b.com"),
        ],
        "resource_id string, url string, domain string",
    )
    rules = _disallow_rules(spark, "a.com", ["/private/", "/tmp/", "/admin/"])
    allowed, blocked = split_robots_rfc(batch, rules, key_col="resource_id")
    allowed_rows = allowed.collect()
    blocked_rows = blocked.collect()
    assert {r["resource_id"] for r in blocked_rows} == {"r1", "r2"}
    assert {r["resource_id"] for r in allowed_rows} == {"r3", "r4"}
    assert len(allowed_rows) == 2 and len(blocked_rows) == 2  # no per-rule duplication


def test_parse_robots_txt_truth_table():
    body = (
        "# comment\n"
        "User-agent: *\n"
        "Crawl-delay: 2\n"
        "Disallow: /private/\n"
        "Disallow: /tmp/\n"
        "Disallow:\n"          # empty value = allow, ignored
        "\n"
        "User-agent: googlebot\n"
        "Disallow: /gb-only/\n"
    )
    assert _disallows(body, "hydra") == ["/private/", "/tmp/"]
    assert _disallows(body, "googlebot") == ["/gb-only/"]  # exact beats *

    # consecutive User-agent lines share one group
    shared = "User-agent: a\nUser-agent: *\nDisallow: /x/\n"
    assert _disallows(shared, "hydra") == ["/x/"]
    assert _disallows(shared, "a") == ["/x/"]

    # a specific-agent group with no disallows means ALLOW ALL for it
    carve = "User-agent: hydra\nDisallow:\n\nUser-agent: *\nDisallow: /y/\n"
    assert _disallows(carve, "hydra") == []
    assert _disallows(carve, "other") == ["/y/"]

    assert _disallows("", "hydra") == []
    assert _disallows("Disallow: /orphan/\n", "hydra") == []  # no UA group


def test_rules_from_robots_pages_match_synthetic(spark):
    """Parsing the synthetic robots.txt corpus yields exactly the
    every-fifth-host `/private/` rule the corpus was generated with —
    robots gating is data-driven end to end."""
    pages = generate_pages(spark, 1000, n_hosts=12).cache()
    parsed = rfc_rules_from_robots_pages(generate_robots_pages(spark, pages))
    a = {(r["domain"], r["pattern"], r["is_allow"]) for r in parsed.collect()}
    b = {(d, "/private/", False) for d in _fifth_hosts(pages)}
    assert a == b and a


class TestSitemapsFromRobots:
    def test_directives_parsed_case_insensitive_and_deduped(self, spark):
        from pyspark.sql import Row

        from hydra_spark.crawl.robots import sitemaps_from_robots

        body = (
            "User-agent: *\nDisallow: /private\n"
            "Sitemap: https://h.example.com/sitemap.xml\n"
            "SITEMAP:   https://h.example.com/sitemap2.xml\n"
            "sitemap: https://h.example.com/sitemap.xml\n"
            "Sitemap: not-absolute.xml\n"
        ).encode()
        df = spark.createDataFrame([Row(url="https://h.example.com/robots.txt", body=body)])
        rows = sorted(r.sitemap for r in sitemaps_from_robots(df).collect())
        assert rows == [
            "https://h.example.com/sitemap.xml",
            "https://h.example.com/sitemap2.xml",
        ]

    def test_no_directives(self, spark):
        from pyspark.sql import Row

        from hydra_spark.crawl.robots import sitemaps_from_robots

        df = spark.createDataFrame(
            [Row(url="https://h.example.com/robots.txt", body=b"User-agent: *\nDisallow:")]
        )
        assert sitemaps_from_robots(df).count() == 0


class TestRfcMatching:
    BODY = (
        "User-agent: *\n"
        "Disallow: /private/\n"
        "Allow: /private/open/\n"
        "Disallow: /*.tmp$\n"
    )

    def test_parse_keeps_allow_and_wildcards(self):
        assert parse_robots_rules(self.BODY) == [
            ("/private/", False),
            ("/private/open/", True),
            ("/*.tmp$", False),
        ]
        # exact agent group still beats *
        body = "User-agent: hydra\nAllow: /x\n" + self.BODY
        assert parse_robots_rules(body) == [("/x", True)]

    def test_pattern_regex(self):
        import re

        from hydra_spark.crawl.robots import robots_pattern_regex

        rx = robots_pattern_regex("/*.tmp$")
        assert re.search(rx, "/cache/1.tmp")
        assert not re.search(rx, "/a.tmp.html")  # $ anchors the end
        rx2 = robots_pattern_regex("/fish*.php")
        # Google's published wildcard examples: both match without a $
        assert re.search(rx2, "/fishheads/catfish.php?x=1")
        assert re.search(rx2, "/fishheads/catfish.php")
        assert re.search(rx2, "/Fish.PHP") is None  # case-sensitive
        # regex metachars in paths stay literal
        assert re.search(robots_pattern_regex("/a+b(c)"), "/a+b(c)/d")

    def test_split_robots_rfc_precedence(self, spark):
        pages = spark.createDataFrame(
            [("h.example", self.BODY.encode())], "domain string, body binary"
        )
        rules = rfc_rules_from_robots_pages(pages)
        batch = spark.createDataFrame(
            [
                ("https://h.example/private/a", "h.example"),      # blocked
                ("https://h.example/private/open/a", "h.example"), # longer Allow wins
                ("https://h.example/cache/1.tmp", "h.example"),    # wildcard+$ blocks
                ("https://h.example/1.tmp.html", "h.example"),     # $ saves it
                ("https://h.example/", "h.example"),               # no match -> allowed
                ("https://other.example/private/a", "other.example"),  # no rules -> allowed
            ],
            "url string, domain string",
        )
        allowed, blocked = split_robots_rfc(batch, rules)
        assert {r.url.split("/", 3)[-1] for r in blocked.collect()} == {
            "private/a", "cache/1.tmp"
        }
        assert allowed.count() == 4
        # schema passthrough: helper columns dropped
        assert set(allowed.columns) == {"url", "domain"}

    def test_equal_length_tie_prefers_allow(self, spark):
        body = "User-agent: *\nDisallow: /page\nAllow: /page\n"
        pages = spark.createDataFrame(
            [("h.example", body.encode())], "domain string, body binary"
        )
        batch = spark.createDataFrame(
            [("https://h.example/page", "h.example")], "url string, domain string"
        )
        allowed, blocked = split_robots_rfc(batch, rfc_rules_from_robots_pages(pages))
        assert allowed.count() == 1 and blocked.count() == 0

    def test_run_round_dispatches_rfc_rules(self, spark, tmp_path):
        """E2E: the rule table routes through the RFC matcher inside
        run_crawl — the Allow carve-out is fetched, every other path
        lands as a robots-error check."""
        pages = generate_pages(spark, 800, n_hosts=6).cache()
        frontier = generate_frontier(spark, pages)
        domains = frontier.selectExpr(
            "parse_url(url, 'HOST') AS domain"
        ).distinct()
        body = "User-agent: *\nDisallow: /\nAllow: /dataset/\n"
        rules = rfc_rules_from_robots_pages(
            domains.select("domain", F.lit(body.encode()).alias("body"))
        )
        store = StateStore(str(tmp_path))
        init_state(store, frontier)
        res = run_crawl(
            spark, store, pages,
            DEFAULT.with_(batch_size=100_000, backoff_nb_req=100_000),
            rounds=1, robots_rules=rules,
        )
        checks = store.checks.read(spark)
        blocked = checks.where(checks.error == ROBOTS_ERROR)
        fetched = checks.where(checks.error.isNull() | (checks.error != ROBOTS_ERROR))
        assert res[0]["n_robots_blocked"] == blocked.count() > 0
        # every fetched URL sits under the Allow carve-out; every
        # blocked one does not
        assert fetched.where(~checks.url.contains("/dataset/")).count() == 0
        assert blocked.where(checks.url.contains("/dataset/")).count() == 0
