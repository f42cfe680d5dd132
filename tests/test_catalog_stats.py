"""Catalog upsert (S1/SO2: one MERGE keyed on resource_id, then the seen
shards learn the new URLs) + stats aggregates."""

import pytest
from pyspark.sql import functions as F

from hydra_spark import stats
from hydra_spark.catalog import as_frontier_rows, upsert_catalog
from hydra_spark.config import DEFAULT
from hydra_spark.crawl.loop import init_state, run_crawl
from hydra_spark.crawl.round import latest_checks
from hydra_spark.datagen import generate_frontier, generate_pages
from hydra_spark.seen import BloomSeenSet
from hydra_spark.storage import StateStore

CAT_SCHEMA = (
    "dataset_id string, resource_id string, url string, type string,"
    " format string, harvest_modified_at timestamp, title string"
)


@pytest.fixture(scope="module")
def crawled(spark, tmp_path_factory):
    pages = generate_pages(spark, 800, n_hosts=12).cache()
    frontier = generate_frontier(spark, pages)
    store = StateStore(str(tmp_path_factory.mktemp("state")))
    init_state(store, frontier)
    run_crawl(spark, store, pages, DEFAULT.with_(batch_size=300), rounds=2)
    return store


def _cat(spark, rows):
    return spark.createDataFrame(rows, CAT_SCHEMA)


def test_upsert_insert_update_delete(spark, tmp_path):
    store = StateStore(str(tmp_path))
    init_state(
        store,
        as_frontier_rows(
            _cat(spark, [("d1", "r1", "http://a.com/1", "main", "csv", None, "one"),
                         ("d1", "r2", "http://a.com/2", "main", "csv", None, "two")])
        ),
    )
    incoming = _cat(
        spark,
        [
            ("d1", "r1", "http://a.com/1", "main", "csv", None, "one-renamed"),  # update
            ("d2", "r3", "http://b.com/3", "main", "csv", None, "three"),         # insert
        ],
    )
    upsert_catalog(spark, store, incoming)
    fr = {r["resource_id"]: r for r in store.frontier.read(spark).collect()}
    assert fr["r1"]["title"] == "one-renamed" and not fr["r1"]["deleted"]
    assert fr["r2"]["deleted"]  # missing from incoming → soft delete
    assert fr["r3"]["title"] == "three" and not fr["r3"]["deleted"]
    # seen shards were created and cover all live urls
    assert store.seen.exists()

    # --keep-missing re-lists r2: undeleted, title AND type refreshed
    upsert_catalog(spark, store, _cat(spark, [
        ("d1", "r2", "http://a.com/2", "feed", "csv", None, "two-v2"),
    ]), mark_missing_deleted=False)
    fr2 = {r["resource_id"]: r for r in store.frontier.read(spark).collect()}
    assert not fr2["r2"]["deleted"]
    assert fr2["r2"]["title"] == "two-v2" and fr2["r2"]["type"] == "feed"
    assert fr2["r1"] == fr["r1"] and fr2["r3"] == fr["r3"]


def test_upsert_seen_set_gates_reinserts(spark, tmp_path):
    store = StateStore(str(tmp_path))
    init_state(
        store,
        as_frontier_rows(_cat(spark, [("d1", "r1", "http://a.com/1", "main", "csv", None, "one")])),
    )
    inc = _cat(spark, [("d1", "r1", "http://a.com/1", "main", "csv", None, "one")])
    upsert_catalog(spark, store, inc)
    upsert_catalog(spark, store, inc)  # idempotent
    assert store.frontier.read(spark).count() == 1


def test_upsert_moved_url_updates_in_place(spark, tmp_path):
    """A known resource_id under a new URL is an UPDATE of that row (the
    MERGE key is resource_id): it takes the new host's bucket, and the
    seen shards learn the new URL."""
    store = StateStore(str(tmp_path))
    init_state(
        store,
        as_frontier_rows(_cat(spark, [("d1", "r1", "http://a.com/1", "main", "csv", None, "one")])),
    )
    upsert_catalog(spark, store, _cat(spark, [("d1", "r1", "http://a.com/1", "main", "csv", None, "one")]))
    moved = _cat(spark, [("d1", "r1", "http://b.org/moved", "main", "csv", None, "one")])
    upsert_catalog(spark, store, moved)
    rows = store.frontier.read(spark).where("resource_id = 'r1'").collect()
    assert len(rows) == 1
    assert rows[0]["url"] == "http://b.org/moved" and not rows[0]["deleted"]
    assert rows[0]["host_bucket"] == as_frontier_rows(moved).first()["host_bucket"]
    bloom = BloomSeenSet(n_shards=DEFAULT.bloom_shards, fpp=DEFAULT.bloom_fpp)
    probe = spark.createDataFrame([("http://b.org/moved",)], "url string")
    assert bloom.check(probe, store.seen.read(spark)).first()["seen"]


def test_status_and_resources_stats(spark, crawled):
    fr = crawled.frontier.read(spark)
    sc = {r["status"]: r["count"] for r in stats.status_counts(fr).collect()}
    assert "NULL" in sc
    rs = stats.resources_stats(fr).first()
    assert rs["total"] == fr.count()
    assert rs["deleted"] == fr.where("deleted").count()


def test_crawler_status_and_queue(spark, crawled):
    fr = crawled.frontier.read(spark)
    lc = latest_checks(crawled.checks.read(spark))
    cs = stats.crawler_status(fr, lc, "2025-01-15 00:05:00").first()
    assert cs["total"] == cs["pending_checks"] + cs["total_checks"]
    qd = {r["tier"]: r["count"] for r in stats.queue_depth(fr, lc, "2025-01-15 00:05:00").collect()}
    assert 1 in qd  # plenty never-checked left


def test_checks_stats_and_aggregate(spark, crawled):
    checks = crawled.checks.read(spark)
    lc = latest_checks(checks)
    st = stats.checks_stats(lc)
    rows = st.collect()
    assert abs(sum(r["percentage"] for r in rows) - 100.0) < 0.1
    agg = stats.checks_aggregate(checks, "domain", "2025-01-15")
    assert agg.count() <= 20 and agg.first()["count"] >= 1


def test_cors_distribution(spark, crawled):
    fr = crawled.frontier.read(spark)
    checks = crawled.checks.read(spark)
    dist = {r["access_status"]: r["count"] for r in stats.cors_distribution(fr, checks).collect()}
    assert "never-checked" in dist
    assert sum(dist.values()) == fr.where("not deleted").count()


def test_orphan_tables(spark, crawled):
    fr = crawled.frontier.read(spark)
    ti = crawled.tables_index.read(spark)
    # nothing orphaned while catalog is intact
    assert stats.orphan_tables(ti, fr).count() == 0
    # delete every frontier row → all parsed tables orphaned
    dead = fr.withColumn("deleted", F.lit(True))
    assert stats.orphan_tables(ti, dead).count() == ti.select("parsing_table").distinct().count()


class TestSessionize:
    def _events(self, spark):
        rows = [
            # user 1: two sessions split by a 45-min gap
            (1, 1, "2024-01-01 10:00:00"),
            (2, 1, "2024-01-01 10:10:00"),
            (3, 1, "2024-01-01 10:55:00"),
            (4, 1, "2024-01-01 11:00:00"),
            # user 2: one event = one session
            (5, 2, "2024-01-01 09:00:00"),
        ]
        return spark.createDataFrame(
            rows, "event_id long, user_id long, ts_s string"
        ).select("event_id", "user_id", F.to_timestamp("ts_s").alias("ts"))

    def test_sessions(self, spark):
        got = {
            (r.user_id, r.session_id): r
            for r in stats.sessionize(self._events(spark)).collect()
        }
        assert set(got) == {(1, 1), (1, 2), (2, 1)}
        s11, s12, s21 = got[(1, 1)], got[(1, 2)], got[(2, 1)]
        assert (s11.n_events, s11.duration_s) == (2, 600)
        assert (s12.n_events, s12.start_s) == (2, "2024-01-01 10:55:00")
        assert (s21.n_events, s21.duration_s) == (1, 0)
        # gap boundary: exactly 30:00 is the SAME session (> gap starts new)
        two = stats.sessionize(self._events(spark), gap_minutes=45)
        assert two.where("user_id = 1").count() == 1

    def test_single_exchange_plan(self, spark):
        """The window shuffle on user_id is reused by the per-session
        aggregate — no second exchange."""
        plan = (
            stats.sessionize(self._events(spark))
            ._jdf.queryExecution().executedPlan().toString()
        )
        import re
        assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1


def test_insert_resource_and_url(spark, tmp_path):
    from hydra_spark.catalog import insert_resource, insert_url

    store = StateStore(str(tmp_path))
    # empty store: first insert seeds the frontier
    res = insert_resource(spark, store, "r1", "http://a.com/1",
                          dataset_id="d1", title="one")
    assert res["action"] == "insert"
    fr = {r["resource_id"]: r for r in store.frontier.read(spark).collect()}
    assert fr["r1"]["title"] == "one" and not fr["r1"]["deleted"]
    assert store.seen.exists()

    # second resource → plain insert, first row untouched
    res = insert_resource(spark, store, "r2", "http://a.com/2", dataset_id="d1")
    assert res["action"] == "insert"

    # soft-delete r1 then re-insert: ON CONFLICT semantics — metadata
    # refreshed AND undeleted (cli/catalog.py:141-145 deleted = FALSE)
    upsert_catalog(spark, store, _cat(spark, [
        ("d1", "r2", "http://a.com/2", "main", "csv", None, "two"),
    ]))
    assert store.frontier.read(spark).where("resource_id='r1'").first()["deleted"]
    res = insert_resource(spark, store, "r1", "http://a.com/1-moved",
                          dataset_id="d9", title="one-v2")
    assert res["action"] == "update"
    row = store.frontier.read(spark).where("resource_id='r1'").first()
    assert row["url"] == "http://a.com/1-moved"
    assert row["title"] == "one-v2" and row["dataset_id"] == "d9"
    assert not row["deleted"]

    # a move to another host takes the new host's bucket: the claim's
    # per-domain cap counts within one bucket
    from hydra_spark.functions.urls import host_bucket

    def bucket_of(url):
        return spark.range(1).select(host_bucket(F.lit(url), DEFAULT.frontier_buckets)).first()[0]

    moved = "http://b.org/moved"
    assert bucket_of(moved) != bucket_of("http://a.com/1-moved")
    insert_resource(spark, store, "r1", moved)
    row = store.frontier.read(spark).where("resource_id='r1'").first()
    assert row["url"] == moved and row["host_bucket"] == bucket_of(moved)

    # external-URL variant: fixed temp_external dataset + defaults
    res = insert_url(spark, store, "http://ext.org/file.csv", "rext")
    assert res["action"] == "insert"
    row = store.frontier.read(spark).where("resource_id='rext'").first()
    assert row["dataset_id"] == "temp_external"
    assert row["type"] == "main" and row["format"] == "csv"
    # frontier row count is exactly the 3 distinct resources
    assert store.frontier.read(spark).count() == 3
    # every URL the inserts admitted reached the seen shards
    bloom = BloomSeenSet(n_shards=DEFAULT.bloom_shards, fpp=DEFAULT.bloom_fpp)
    probe = spark.createDataFrame([(moved,), ("http://ext.org/file.csv",)], "url string")
    seen = {r["url"]: r["seen"] for r in bloom.check(probe, store.seen.read(spark)).collect()}
    assert seen == {moved: True, "http://ext.org/file.csv": True}
