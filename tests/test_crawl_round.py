"""Round-level E2E over the synthetic pages corpus + resume equality.

Mirrors the reference's E2E crawl tests (tests/test_crawl/test_crawl.py)
plus our north-rule requirements: deterministic ordering under a fixed
seed, checkpoint/resume with identical results.
"""

import pytest

from hydra_spark.config import DEFAULT
from hydra_spark.crawl.loop import init_state, run_crawl
from hydra_spark.crawl.select_batch import select_batch
from hydra_spark.datagen import generate_frontier, generate_pages
from hydra_spark.storage import StateStore

CFG = DEFAULT.with_(batch_size=60)


@pytest.fixture(scope="module")
def corpus(spark):
    pages = generate_pages(spark, 1200, n_hosts=20)
    frontier = generate_frontier(spark, pages)
    pages.cache().count()
    frontier.cache().count()
    return pages, frontier


def _crawl(spark, corpus, tmpdir, rounds):
    pages, frontier = corpus
    store = StateStore(str(tmpdir))
    init_state(store, frontier)
    res = run_crawl(spark, store, pages, CFG, rounds=rounds)
    return store, res


def test_round_produces_checks(spark, corpus, tmp_path):
    store, res = _crawl(spark, corpus, tmp_path, rounds=1)
    assert res[0]["n_checked"] == 60
    checks = store.checks.read(spark)
    rows = checks.collect()
    assert len(rows) == 60
    by_status = {}
    for r in rows:
        by_status.setdefault(r["status"], []).append(r)
    assert 200 in by_status
    for r in by_status[200]:
        assert r["checksum"] and len(r["checksum"]) == 40
        assert r["headers"]["content-length"] == str(r["filesize"])
        assert r["next_check_at"] is not None


def test_priority_resources_selected_first(spark, corpus):
    pages, frontier = corpus
    batch = select_batch(frontier, None, CFG.with_(batch_size=10_000), 1, "2025-01-15 00:00:00")
    rows = batch.collect()
    n_priority_frontier = frontier.where("priority and not deleted").count()
    n_priority_batch = sum(1 for r in rows if r["tier"] == 0)
    assert n_priority_batch == n_priority_frontier


def test_excluded_and_deleted_never_selected(spark, corpus):
    pages, frontier = corpus
    batch = select_batch(frontier, None, CFG.with_(batch_size=10_000), 1, "2025-01-15 00:00:00")
    for r in batch.collect():
        assert "geo.data.gouv.fr" not in r["url"]
        assert "format=shp" not in r["url"]


def test_resume_equals_continuous(spark, corpus, tmp_path):
    """Kill-and-resume reproduces the continuous run exactly (north rule)."""
    store_a, _ = _crawl(spark, corpus, tmp_path / "a", rounds=3)

    pages, frontier = corpus
    store_b = StateStore(str(tmp_path / "b"))
    init_state(store_b, frontier)
    run_crawl(spark, store_b, pages, CFG, rounds=2)
    assert store_b.last_round() == 2
    run_crawl(spark, store_b, pages, CFG, rounds=1)  # resumes at round 3

    a = {(r["resource_id"], r["id"]) for r in store_a.checks.read(spark).collect()}
    b = {(r["resource_id"], r["id"]) for r in store_b.checks.read(spark).collect()}
    assert a == b and len(a) == 180


def test_no_recheck_before_due(spark, corpus, tmp_path):
    """A URL checked in round r is not re-selected while next_check_at
    is in the future (12h ladder vs 60s rounds)."""
    store, _ = _crawl(spark, corpus, tmp_path, rounds=3)
    checks = store.checks.read(spark).collect()
    per_resource = {}
    for r in checks:
        per_resource.setdefault(r["resource_id"], []).append(r)
    assert max(len(v) for v in per_resource.values()) == 1


def test_empty_round_is_safe(spark, corpus, tmp_path):
    """A round with nothing eligible (everything just checked) must not
    crash and must keep state consistent."""
    pages, frontier = corpus
    store = StateStore(str(tmp_path))
    init_state(store, frontier)
    # lift the politeness budget so round 1 drains the whole frontier
    cfg = CFG.with_(batch_size=10_000_000, backoff_nb_req=10_000_000)
    run_crawl(spark, store, pages, cfg, rounds=1)
    res = run_crawl(spark, store, pages, cfg, rounds=1)
    assert res[0]["n_checked"] == 0
    assert store.last_round() == 2


def test_compaction_preserves_resume_equality(spark, corpus, tmp_path):
    """MoR deltas folded into the base mid-run change nothing observable:
    a run with compaction every round equals one with none."""
    pages, frontier = corpus
    a = StateStore(str(tmp_path / "a"))
    init_state(a, frontier)
    run_crawl(spark, a, pages, CFG.with_(compact_every_rounds=1), rounds=3)
    b = StateStore(str(tmp_path / "b"))
    init_state(b, frontier)
    run_crawl(spark, b, pages, CFG.with_(compact_every_rounds=0), rounds=3)
    ka = {(r["resource_id"], r["id"]) for r in a.checks.read(spark).collect()}
    kb = {(r["resource_id"], r["id"]) for r in b.checks.read(spark).collect()}
    assert ka == kb
    fa = {(r["resource_id"], r["last_check"], r["status"]) for r in a.frontier.read(spark).collect()}
    fb = {(r["resource_id"], r["last_check"], r["status"]) for r in b.frontier.read(spark).collect()}
    assert fa == fb


def test_round_totals_split_the_claim(spark, tmp_path):
    """Backoff, robots and fetch partition the claim, and the summary's
    totals count what the round wrote: n_backoff its BACKOFF frontier
    deltas, n_robots_blocked its robots-error checks."""
    from pyspark.sql import functions as F

    from hydra_spark.crawl.robots import (
        ROBOTS_ERROR,
        crawl_delays_from_robots_pages,
        rfc_rules_from_robots_pages,
    )
    from hydra_spark.crawl.round import reset_stuck

    pages = generate_pages(spark, 600, n_hosts=8).cache()
    frontier = generate_frontier(spark, pages)
    domains = frontier.selectExpr("parse_url(url, 'HOST') AS domain").distinct()
    # two independent host sets: "slow" hosts declare a 30 s crawl delay
    # (a budget of 360/30 = 12 requests per backoff window), "closed"
    # hosts disallow everything but /dataset/ (RFC Allow carve-out)
    slow = F.pmod(F.xxhash64("domain"), F.lit(3)) == 0
    closed = F.pmod(F.hash("domain"), F.lit(2)) == 0
    body = F.concat(
        F.lit("User-agent: *\n"),
        F.when(slow, F.lit("Crawl-delay: 30\n")).otherwise(F.lit("")),
        F.when(closed, F.lit("Disallow: /\nAllow: /dataset/\n")).otherwise(F.lit("Disallow:\n")),
    )
    robots_pages = domains.select("domain", F.encode(body, "utf-8").alias("body"))
    rules = rfc_rules_from_robots_pages(robots_pages).cache()
    delays = crawl_delays_from_robots_pages(robots_pages).cache()

    store = StateStore(str(tmp_path))
    init_state(store, frontier)
    crawl = dict(robots_rules=rules, crawl_delays=delays, start_now="2025-01-15 00:00:00")
    # round 1 checks 15 URLs of every host; round 2, a minute later,
    # holds the slow hosts, whose 15 checks exceed their budget of 12
    run_crawl(spark, store, pages, DEFAULT.with_(batch_size=120, backoff_nb_req=10**6), **crawl)
    cfg = DEFAULT.with_(batch_size=600, backoff_nb_req=20)
    now = "2025-01-15 00:01:00"
    claim = select_batch(
        reset_stuck(store.frontier.read(spark), cfg, now), store.latest_checks_view(spark), cfg, 2, now
    )
    claimed = {r["resource_id"] for r in claim.collect()}
    [res] = run_crawl(spark, store, pages, cfg, **crawl)
    assert res["now"] == now

    deltas = store.frontier.deltas.read(spark).where(F.col("_delta_round") == 2)
    held = [r["_urid"] for r in deltas.where(F.col("_upd") == "backoff").collect()]
    checks = store.checks.read(spark).where(F.col("created_at") == F.to_timestamp(F.lit(now)))
    is_robots = F.coalesce(F.col("error") == ROBOTS_ERROR, F.lit(False))
    blocked = [r["resource_id"] for r in checks.where(is_robots).collect()]
    checked = [r["resource_id"] for r in checks.where(~is_robots).collect()]
    assert res["n_backoff"] == len(held) > 0
    assert res["n_robots_blocked"] == len(blocked) > 0
    assert res["n_checked"] == len(checked) > 0
    held, blocked, checked = set(held), set(blocked), set(checked)
    assert not (held & blocked) and not (held & checked) and not (blocked & checked)
    assert held | blocked | checked == claimed


def _skewed_frontier(spark, hot_n, cold_hosts, cold_n_each):
    """Frontier with one hot domain (hot_n URLs) + cold_hosts domains of
    cold_n_each — only the columns select_batch reads."""
    from pyspark.sql import functions as F

    from hydra_spark.functions.urls import host_bucket

    hot = spark.range(hot_n).selectExpr(
        "concat('https://hot.example.com/r/', id) as url"
    )
    cold = spark.range(cold_hosts * cold_n_each).selectExpr(
        f"concat('https://cold', id % {cold_hosts}, '.example.com/r/', id) as url"
    )
    fr = hot.unionAll(cold)
    return fr.select(
        F.substring(F.md5(F.col("url")), 1, 24).alias("dataset_id"),
        F.md5(F.col("url")).alias("resource_id"),
        "url",
        F.lit(False).alias("deleted"),
        F.lit(None).cast("long").alias("last_check"),
        F.lit(False).alias("priority"),
        F.lit(None).cast("string").alias("status"),
        F.lit(None).cast("timestamp").alias("harvest_modified_at"),
        F.lit(None).cast("string").alias("format"),
    ).withColumn("host_bucket", host_bucket("url", DEFAULT.frontier_buckets))


def test_per_domain_claim_cap_small_path(spark):
    """A round never claims more than backoff_nb_req URLs of one domain,
    even when the batch could absorb them (reference checks the budget
    per URL during the round — crawl/helpers.py:93-108)."""
    fr = _skewed_frontier(spark, hot_n=1000, cold_hosts=40, cold_n_each=50)
    cfg = DEFAULT.with_(batch_size=5000)
    assert cfg.batch_size <= cfg.bucket_claim_threshold  # small path
    rows = select_batch(fr, None, cfg, 1, "2025-01-15 00:00:00").collect()
    by_dom = {}
    for r in rows:
        by_dom[r["domain"]] = by_dom.get(r["domain"], 0) + 1
    assert 0 < by_dom["hot.example.com"] <= cfg.backoff_nb_req


def test_per_domain_claim_cap_scale_path(spark):
    """Same politeness invariant on the salted bucket-claim path: the
    per-(domain, salt) shard caps sum to exactly backoff_nb_req."""
    fr = _skewed_frontier(spark, hot_n=5000, cold_hosts=200, cold_n_each=100)
    cfg = DEFAULT.with_(batch_size=20_000)
    assert cfg.batch_size > cfg.bucket_claim_threshold  # scale path
    rows = select_batch(fr, None, cfg, 1, "2025-01-15 00:00:00").collect()
    by_dom = {}
    for r in rows:
        by_dom[r["domain"]] = by_dom.get(r["domain"], 0) + 1
    assert 0 < by_dom["hot.example.com"] <= cfg.backoff_nb_req
    # cold domains are untouched by the cap
    assert sum(by_dom.values()) > 10_000


def test_half_hot_corpus_claim_spread(spark):
    """SURVEY §7 risk-register scenario (VERDICT r3 task #6): one domain
    owns 50% of the frontier. The claimed batch must NOT mirror that
    skew — at the default politeness budget the hot domain gets at most
    backoff_nb_req rows; with the budget disabled (throughput mode) the
    bucket quota still bounds it, so no window group / partition
    serializes the round."""
    fr = _skewed_frontier(spark, hot_n=20_000, cold_hosts=200, cold_n_each=100)

    # default budget: hot share <= 180 of a 20k batch (<1%)
    cfg = DEFAULT.with_(batch_size=20_000)
    assert cfg.batch_size > cfg.bucket_claim_threshold  # scale path
    rows = select_batch(fr, None, cfg, 1, "2025-01-15 00:00:00").collect()
    by_dom = {}
    for r in rows:
        by_dom[r["domain"]] = by_dom.get(r["domain"], 0) + 1
    assert 0 < by_dom["hot.example.com"] <= cfg.backoff_nb_req
    assert by_dom["hot.example.com"] / len(rows) < 0.01

    # throughput mode (politeness budget disabled): the per-bucket quota
    # caps the hot domain at ceil(batch / frontier_buckets) — the claim
    # spreads across buckets instead of following the corpus skew
    cfg2 = cfg.with_(backoff_nb_req=10**9)
    rows2 = select_batch(fr, None, cfg2, 1, "2025-01-15 00:00:00").collect()
    quota = -(-cfg2.batch_size // cfg2.frontier_buckets)
    by_dom2, by_bucket = {}, {}
    for r in rows2:
        by_dom2[r["domain"]] = by_dom2.get(r["domain"], 0) + 1
        by_bucket[r["host_bucket"]] = by_bucket.get(r["host_bucket"], 0) + 1
    assert by_dom2["hot.example.com"] <= quota
    assert max(by_bucket.values()) <= quota  # no partition owns the round
    assert by_dom2["hot.example.com"] / len(rows2) < 0.05  # ≪ the 50% corpus share
