"""On-demand check (POST /api/checks analog): priority claim of a
not-due resource + forced re-analysis of unchanged content."""

import tempfile

import pytest
from pyspark.sql import functions as F

from hydra_spark.config import DEFAULT
from hydra_spark.crawl.loop import init_state, run_crawl
from hydra_spark.crawl.on_demand import check_on_demand, latest_check_for, request_check
from hydra_spark.datagen import generate_frontier, generate_pages
from hydra_spark.storage import StateStore


@pytest.fixture()
def warm_store(spark, tmp_path):
    pages = generate_pages(spark, 300, n_hosts=8).cache()
    store = StateStore(str(tmp_path / "store"))
    init_state(store, generate_frontier(spark, pages))
    # round 1 checks everything, so nothing is due for a while afterwards
    run_crawl(spark, store, pages, DEFAULT.with_(batch_size=300), rounds=1)
    return store, pages


def _pick_csv_resource(spark, store):
    """A resource that was analysed in round 1 (has a parsing_table)."""
    row = (
        store.checks.read(spark)
        .where(F.col("parsing_table").isNotNull())
        .select("resource_id")
        .first()
    )
    return row.resource_id


def test_on_demand_checks_not_due_resource(spark, warm_store):
    store, pages = warm_store
    rid = _pick_csv_resource(spark, store)
    before = store.checks.read(spark).where(F.col("resource_id") == rid).count()

    # without on-demand: nothing is due, a round checks nothing
    res = run_crawl(spark, store, pages, DEFAULT.with_(batch_size=50), rounds=1)
    assert res[0]["n_checked"] == 0

    row = check_on_demand(spark, store, pages, rid, DEFAULT.with_(batch_size=1))
    after = store.checks.read(spark).where(F.col("resource_id") == rid).count()
    assert after == before + 1
    assert row is not None and row.resource_id == rid
    assert str(row.created_at) > "2025-01-15 00:00"


def test_force_analysis_reparses_unchanged(spark, warm_store):
    store, pages = warm_store
    rid = _pick_csv_resource(spark, store)
    parsed_before = (
        store.parsed_rows.read(spark).where(F.col("resource_id") == rid).count()
    )
    row = check_on_demand(spark, store, pages, rid, DEFAULT.with_(batch_size=1))
    # content is unchanged, but force_analysis re-parses it anyway
    assert row.parsing_table is not None
    parsed_after = (
        store.parsed_rows.read(spark).where(F.col("resource_id") == rid).count()
    )
    assert parsed_after == 2 * parsed_before


def test_prioritize_delta_survives_merge_and_next_check_clears_it(spark, warm_store):
    store, pages = warm_store
    rid = _pick_csv_resource(spark, store)
    request_check(spark, store, rid)
    f = store.frontier.read(spark).where(F.col("resource_id") == rid).first()
    assert f.priority is True
    # the round that checks it clears the flag again ('checked' delta wins)
    forced = spark.createDataFrame([(rid,)], "resource_id string")
    run_crawl(spark, store, pages, DEFAULT.with_(batch_size=1), rounds=1,
              force_analysis=forced)
    f2 = store.frontier.read(spark).where(F.col("resource_id") == rid).first()
    assert f2.priority is False


def test_latest_check_for_missing_resource(spark, tmp_path):
    store = StateStore(str(tmp_path / "empty"))
    assert latest_check_for(spark, store, "nope") is None


def test_request_check_stamps_the_next_rounds_clock(spark, tmp_path, monkeypatch):
    """The prioritize delta carries the `now` that run_crawl gives the
    next round, under a non-default start and round interval."""
    import hydra_spark.crawl.loop as loop

    store = StateStore(str(tmp_path / "store"))
    store.commit_round(2)  # two rounds done: the next one is round 3
    clock = dict(start_now="2025-03-01 06:00:00", round_interval_s=5400.0)
    request_check(spark, store, "r1", **clock)
    upd_at = (
        store.frontier.deltas.read(spark)
        .select(F.date_format("_upd_at", "yyyy-MM-dd HH:mm:ss"))
        .first()[0]
    )
    nows = []
    monkeypatch.setattr(loop, "run_round", lambda *a, **k: nows.append(k["now"]) or {})
    run_crawl(spark, store, None, DEFAULT, rounds=1, **clock)
    assert nows == ["2025-03-01 09:00:00"] and upd_at == nows[0]
