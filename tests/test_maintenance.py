"""Exceptions (J8), retention purge (W6), OGC (S17), Excel stub (S7),
salted selection skew guard."""

import json

import pytest
from pyspark.sql import functions as F

from hydra_spark.analysis.ingest import analyse_csv_batch
from hydra_spark.analysis.ogc import inspect_ogc_batch, synthetic_capabilities
from hydra_spark.config import DEFAULT
from hydra_spark.crawl.loop import init_state, run_crawl
from hydra_spark.crawl.select_batch import select_batch
from hydra_spark.datagen import generate_frontier, generate_pages
from hydra_spark.purge import checks_keep_last_n, purge_checks_keep_last_n
from hydra_spark.storage import StateStore


def test_exceptions_bypass_size_cap(spark, tmp_path):
    pages = generate_pages(spark, 400, n_hosts=5).cache()
    frontier = generate_frontier(spark, pages)
    # every CSV resource would be "too large" with a 10-byte cap...
    csv_rids = [
        r["resource_id"]
        for r in frontier.join(pages.select("url", "html"), "url")
        .where("substring(cast(html as string), 1, 5) != '<html'")
        .where("url like '%/r/%'")  # plain fetchable URLs only
        .where("not deleted and not priority")
        .limit(2)
        .collect()
    ]
    exceptions = spark.createDataFrame(
        [(csv_rids[0], json.dumps({"code_insee": "index"}), "test")],
        "resource_id string, table_indexes string, comment string",
    )
    tiny = dict(DEFAULT.max_filesize_allowed)
    tiny["csv"] = 10
    store = StateStore(str(tmp_path))
    init_state(store, frontier)
    run_crawl(
        spark, store, pages,
        DEFAULT.with_(batch_size=100_000, backoff_nb_req=100_000, max_filesize_allowed=tiny),
        rounds=1, exceptions=exceptions,
    )
    checks = {r["resource_id"]: r for r in store.checks.read(spark).collect()}
    assert checks[csv_rids[0]]["parsing_table"] is not None        # excepted → parsed
    assert checks[csv_rids[1]]["parsing_table"] is None            # capped
    assert checks[csv_rids[1]]["analysis_error"].startswith("File too large")


def test_checks_retention(spark):
    rows = [
        (i * 10 + j, f"r{i}", None)
        for i in range(3)
        for j in range(5)
    ]
    from datetime import datetime, timedelta

    base = datetime(2025, 1, 1)
    df = spark.createDataFrame(
        [(cid, rid, base + timedelta(hours=cid)) for cid, rid, _ in rows],
        "id long, resource_id string, created_at timestamp",
    )
    kept = checks_keep_last_n(df, 2)
    per = {r["resource_id"]: [] for r in kept.collect()}
    for r in kept.collect():
        per[r["resource_id"]].append(r["id"])
    assert all(len(v) == 2 for v in per.values())
    assert sorted(per["r0"]) == [3, 4]  # newest two


def test_purge_checks_roundtrip(spark, tmp_path):
    pages = generate_pages(spark, 300, n_hosts=4).cache()
    frontier = generate_frontier(spark, pages)
    store = StateStore(str(tmp_path))
    init_state(store, frontier)
    run_crawl(spark, store, pages, DEFAULT.with_(batch_size=100_000, backoff_nb_req=100_000), rounds=1)
    res = purge_checks_keep_last_n(spark, store, 1)
    assert res["after"] <= res["before"]
    assert store.checks.read(spark).count() == res["after"]


def test_ogc_capabilities(spark):
    xml = synthetic_capabilities(layers=4)
    df = spark.createDataFrame(
        [("http://x/wfs", "r1", bytearray(xml.encode()))],
        "url string, resource_id string, html binary",
    )
    meta = json.loads(inspect_ogc_batch(df).first()["ogc_metadata"])
    assert meta["format"] == "wfs" and meta["version"] == "2.0.0"
    assert [la["name"] for la in meta["layers"]] == [f"ns:layer_{i}" for i in range(4)]
    assert meta["layers"][0]["default_crs"] == "urn:ogc:def:crs:EPSG::4326"
    assert "application/json" in meta["output_formats"]


def test_excel_malformed_zip_reports_error(spark):
    df = spark.createDataFrame(
        [("http://x/f.xlsx", "r1", "d1", bytearray(b"PK\x03\x04fake"), "tbl")],
        "url string, resource_id string, dataset_id string, html binary, parsing_table string",
    )
    rows = analyse_csv_batch(df).collect()
    assert len(rows) == 1
    assert rows[0]["parsing_error"].startswith("excel:")


def test_salted_selection_deterministic_and_capped(spark):
    pages = generate_pages(spark, 5000, n_hosts=3).cache()  # extreme skew
    frontier = generate_frontier(spark, pages).cache()
    cfg = DEFAULT.with_(batch_size=50_000, bucket_claim_threshold=100)
    a = select_batch(frontier, None, cfg, 1, "2025-01-15 00:00:00")
    b = select_batch(frontier, None, cfg, 1, "2025-01-15 00:00:00")
    ids_a = sorted(r["resource_id"] for r in a.collect())
    ids_b = sorted(r["resource_id"] for r in b.collect())
    assert ids_a == ids_b  # deterministic under re-execution
    assert len(ids_a) > 0


def test_purge_orphan_parsed_keeps_outputs_readable(spark, tmp_path):
    """Data-loss regression: the compacted outputs must be materialized
    to a fresh batch dir BEFORE the manifest flips — wiping the manifest
    first deletes the lazy plan's own input mid-read."""
    from hydra_spark.purge import purge_orphan_parsed

    pages = generate_pages(spark, 400, n_hosts=5).cache()
    frontier = generate_frontier(spark, pages)
    store = StateStore(str(tmp_path))
    init_state(store, frontier)
    run_crawl(spark, store, pages, DEFAULT.with_(batch_size=100_000, backoff_nb_req=100_000), rounds=1)
    before = store.outputs.read(spark).count()
    assert before > 0

    # nothing orphaned yet: purge is a no-op rewrite, log stays readable
    res = purge_orphan_parsed(spark, store)
    assert res["dropped_rows"] == 0
    assert store.outputs.read(spark).count() == before

    # delete some resources from the frontier → their parsed rows purge
    parsed_tables = [
        r["parsing_table"]
        for r in store.tables_index.read(spark).select("parsing_table").distinct().limit(2).collect()
    ]
    fr = store.frontier.read(spark)
    fr2 = fr.withColumn(
        "deleted",
        F.when(F.md5("url").isin(parsed_tables), F.lit(True)).otherwise(F.col("deleted")),
    )
    store.frontier.commit(fr2, round_id=1)
    res2 = purge_orphan_parsed(spark, store)
    assert res2["dropped_rows"] > 0
    after = store.outputs.read(spark)
    assert after.count() == before - res2["dropped_rows"]
    assert after.where(F.col("parsing_table").isin(parsed_tables)).count() == 0


def test_resume_prunes_uncommitted_round(spark, tmp_path):
    """A crash mid-round leaves orphan batches (appended but never
    committed via rounds.json); resume must drop them or the re-run
    duplicates check/metric rows and inflates politeness counts."""
    pages = generate_pages(spark, 300, n_hosts=4).cache()
    frontier = generate_frontier(spark, pages)
    store = StateStore(str(tmp_path))
    init_state(store, frontier)
    run_crawl(spark, store, pages, DEFAULT.with_(batch_size=50), rounds=1)
    committed = store.checks.read(spark).count()

    # simulate a crash: round-2 batches appended, commit_round never ran
    orphan = store.checks.read(spark).limit(7)
    store.checks.append(orphan, round_id=2)
    store.metrics.append(store.metrics.read(spark).limit(1), round_id=2)
    assert store.checks.read(spark).count() == committed + 7
    assert store.last_round() == 1

    dropped = store.prune_uncommitted()
    assert dropped == 2
    assert store.checks.read(spark).count() == committed

    # and run_crawl resumes cleanly after the prune, re-running round 2
    run_crawl(spark, store, pages, DEFAULT.with_(batch_size=50), rounds=1)
    assert store.last_round() == 2
    per_round = {
        b["round"] for b in store.checks.manifest()["batches"]
    }
    assert per_round == {1, 2}


def test_fold_latest_checks_empty_manifest_is_noop(spark, tmp_path):
    """Crash recovery can leave a checks manifest whose batches list is
    EMPTY (prune dropped an uncommitted round's only batch); the next
    compaction-cadence fold must be a no-op, not a ValueError."""
    pages = generate_pages(spark, 100, n_hosts=4).cache()
    frontier = generate_frontier(spark, pages)
    store = StateStore(str(tmp_path))
    init_state(store, frontier)
    # orphan batch for round 1, never committed -> prune empties the manifest
    store.checks.append(
        spark.createDataFrame(
            [("r0", "https://h.example.com/x")], "resource_id string, url string"
        ),
        round_id=1,
    )
    store.prune_uncommitted()
    assert store.checks.manifest()["batches"] == []
    store.fold_latest_checks(spark, round_id=0)  # must not raise
    assert store.checks_latest.current_snapshot() is None


def test_appends_after_rewrite_do_not_collide(spark, tmp_path):
    """Batch ids are max+1, not len+1: appends following a rewrite()
    compaction must never reuse an old id and overwrite the compacted
    dir (reproduced data-loss: three post-purge appends destroyed the
    retention batch and duplicated the newest one)."""
    from hydra_spark.storage import AppendLog

    log = AppendLog(str(tmp_path), "t")
    for i in range(3):
        log.append(spark.createDataFrame([(f"old{i}",)], "v string"), round_id=i + 1)
    kept = spark.createDataFrame([("kept-a",), ("kept-b",)], "v string")
    log.rewrite(kept, meta={"op": "retention"})
    for i in range(3):
        log.append(spark.createDataFrame([(f"new{i}",)], "v string"), round_id=10 + i)
    rows = sorted(r["v"] for r in log.read(spark).collect())
    assert rows == ["kept-a", "kept-b", "new0", "new1", "new2"]
    ids = [b["id"] for b in log.manifest()["batches"]]
    assert ids == sorted(set(ids)), ids  # unique, increasing


def test_snapshot_expiry_and_time_travel(spark, tmp_path):
    """SnapshotTable keeps time travel working across expiry: old
    snapshots drop from disk, the current one always survives (even
    when it is older than the keep window)."""
    from hydra_spark.storage import SnapshotTable

    t = SnapshotTable(str(tmp_path), "t")
    for i in range(5):
        t.commit(spark.createDataFrame([(i,)], "v int"), round_id=i + 1)
    assert t.current_snapshot()["id"] == 5
    # time travel to an old snapshot
    assert t.read(spark, snapshot_id=2).first()["v"] == 1

    t.expire_snapshots(keep=2)
    ids = [s["id"] for s in t.manifest()["snapshots"]]
    assert ids == [4, 5]
    assert t.read(spark).first()["v"] == 4  # current intact

    # rollback, then expire: the (old) current snapshot must survive
    t.rollback_to(4)
    t.commit(spark.createDataFrame([(9,)], "v int"), round_id=9)
    t.rollback_to(4)
    t.expire_snapshots(keep=1)
    assert t.read(spark).first()["v"] == 3  # snapshot 4 kept as current


def test_gc_collects_superseded_batch_dirs(spark, tmp_path):
    """rewrite()/compaction leave old batch dirs for open readers; gc()
    collects them (age-gated on supersede time) and readers still see
    identical data afterwards."""
    import os

    pages = generate_pages(spark, 600, n_hosts=6).cache()
    frontier = generate_frontier(spark, pages)
    store = StateStore(str(tmp_path))
    init_state(store, frontier)
    cfg = DEFAULT.with_(batch_size=150, compact_every_rounds=1)
    run_crawl(spark, store, pages, cfg, rounds=3)

    def batch_dirs(log):
        return {n for n in os.listdir(log.dir) if n.startswith("batch-")}

    # retention rewrite supersedes the per-round checks batches
    purge_checks_keep_last_n(spark, store, 1, gc_min_age_s=10**9)  # gated: nothing gc'd yet
    assert len(store.checks.manifest().get("superseded", [])) >= 3
    on_disk_before = batch_dirs(store.checks)
    live = {os.path.basename(b["path"]) for b in store.checks.manifest()["batches"]}
    assert live < on_disk_before  # superseded dirs still on disk

    before_rows = store.checks.read(spark).count()
    removed = store.gc(min_age_s=0)
    assert removed >= 3
    assert batch_dirs(store.checks) == live  # only live dirs remain
    assert store.checks.manifest().get("superseded", []) == []
    assert store.checks.read(spark).count() == before_rows  # readers unaffected

    # frontier delta compaction dirs were superseded + collected too
    assert batch_dirs(store.frontier.deltas) == {
        os.path.basename(b["path"]) for b in store.frontier.deltas.manifest()["batches"]
    }

    # a second gc is a no-op
    assert store.gc(min_age_s=0) == 0


def test_long_horizon_store_stays_bounded(spark, tmp_path):
    """10 rounds with compaction every 4 (VERDICT r3 task #2 at test
    scale): the frontier delta log must stay BOUNDED by the compaction
    cadence — a round's read cost is base + pending deltas, so an
    unbounded delta log would make late rounds slower than early ones —
    the checks log grows exactly linearly (one batch per round, no
    orphan duplication), and the per-key frontier state stays one row
    per resource at every point."""
    import os

    pages = generate_pages(spark, 1200, n_hosts=12).cache()
    store = StateStore(str(tmp_path))
    init_state(store, generate_frontier(spark, pages))
    cfg = DEFAULT.with_(batch_size=100, compact_every_rounds=4, backoff_nb_req=10**9)

    n_frontier = store.frontier.read(spark).count()
    delta_depth, checked = [], []
    for _ in range(10):
        res = run_crawl(spark, store, pages, cfg, rounds=1)[0]
        checked.append(res["n_checked"])
        delta_depth.append(len(store.frontier.deltas.manifest()["batches"]))
        # MoR invariant every round: exactly one visible row per key
        assert store.frontier.read(spark).count() == n_frontier

    # compaction at rounds 4 and 8 folds the log: depth never exceeds
    # the cadence, and the post-compaction rounds restart from 1
    assert max(delta_depth) <= cfg.compact_every_rounds
    assert delta_depth[4 - 1] == 1 and delta_depth[8 - 1] == 1
    assert len(store.frontier.base.manifest()["snapshots"]) >= 3  # init + 2 compactions

    # checks log: one batch per round, rows == sum of round claims, ids unique
    checks = store.checks.read(spark)
    assert len(store.checks.manifest()["batches"]) == 10
    assert checks.count() == sum(checked)
    assert checks.select("id").distinct().count() == checks.count()

    # store bytes scale with the appended checks (linear), not with
    # rounds² — the base+delta fold keeps frontier bytes ~flat, so
    # total growth in the second half ≈ growth in the first half
    def du(p):
        return sum(
            os.path.getsize(os.path.join(r, f))
            for r, _, fs in os.walk(p) for f in fs
        )

    # superseded dirs are retention debt, not steady-state cost: gc them
    store.frontier.base.expire_snapshots(keep=1)
    store.gc(min_age_s=0)
    frontier_bytes = du(store.frontier.base.dir) + du(store.frontier.deltas.dir)
    checks_bytes = du(store.checks.dir)
    # the frontier footprint must not dwarf the actual data appended
    assert frontier_bytes < checks_bytes * 3


def test_latest_checks_view_folds_and_stays_equal(spark, tmp_path):
    """The bounded latest-check view (base fold + batches-since-fold)
    must equal the naive full-history window at every point, and the
    fold must actually bound the unfolded batch set."""
    from hydra_spark.crawl.round import latest_checks

    pages = generate_pages(spark, 800, n_hosts=8).cache()
    store = StateStore(str(tmp_path))
    init_state(store, generate_frontier(spark, pages))
    cfg = DEFAULT.with_(batch_size=100, compact_every_rounds=3, backoff_nb_req=10**9)

    def rows(df):
        return {tuple(str(v) for v in r) for r in
                df.select("resource_id", "id", "created_at", "status").collect()}

    for _ in range(7):
        run_crawl(spark, store, pages, cfg, rounds=1)
        assert rows(store.latest_checks_view(spark)) == rows(
            latest_checks(store.checks.read(spark))
        )

    # folds happened at rounds 3 and 6 on committed state: the snapshot
    # covers everything but the batches appended after the last fold
    snap = store.checks_latest.current_snapshot()
    assert snap is not None
    upto = snap["meta"]["upto_batch"]
    unfolded = [b for b in store.checks.manifest()["batches"] if b["id"] > upto]
    assert len(unfolded) <= cfg.compact_every_rounds  # bounded, not O(history)
    assert len(store.checks.manifest()["batches"]) == 7  # full history intact
