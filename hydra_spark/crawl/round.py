"""One crawl round as a single declarative DAG (SURVEY.md §3.1).

frontier scan → stuck reset → tiered claim → politeness split →
vectorized fetch → change detection → next-check ladder → checks append
→ frontier MERGE → per-partition metrics → atomic round commit.

The reference executes this as ~6 processes around PostgreSQL/Redis
(crawl/__init__.py, crawl/check_resources.py, analysis/resource.py);
collapsing a round into one Spark DAG removes every intermediate status
of the 25-state machine (db/resource.py:11-37) except BACKOFF and the
terminal updates, because the round is atomic.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hydra_spark.analysis.ingest import process_fetched, tables_index_entries
from hydra_spark.config import HydraConfig
from hydra_spark.crawl.backoff import domain_backoff, split_backoff
from hydra_spark.crawl.change import detect_changes, has_check_changed_expr
from hydra_spark.crawl.fetch import simulate_fetch
from hydra_spark.crawl.next_check import next_check_expr
from hydra_spark.crawl.select_batch import hash_build_side, select_batch
from hydra_spark.crawl.webhook import webhook_payloads
from hydra_spark.exceptions import with_exception_flag
from hydra_spark.schemas import CHECKS_SCHEMA
from hydra_spark.storage import StateStore

_PREV_COLS = [
    "id", "status", "timeout", "headers", "checksum",
    "detected_last_modified_at", "created_at", "cors_headers", "next_check_at",
]


def latest_checks(checks: DataFrame) -> DataFrame:
    """Latest check per resource (J1/W1: replaces the last_check FK with
    a window — db/check.py:45-53)."""
    w = Window.partitionBy("resource_id").orderBy(F.desc("created_at"), F.desc("id"))
    return (
        checks.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1).drop("_rn")
    )


def reset_stuck(frontier: DataFrame, cfg: HydraConfig, now: str) -> DataFrame:
    """J4 (db/resource.py:173-192): statuses stuck longer than
    STUCK_THRESHOLD_SECONDS reset to NULL — crash recovery."""
    now_ts = F.to_timestamp(F.lit(now))
    stuck = (
        F.col("status").isNotNull()
        & (F.col("status") != "BACKOFF")
        & (
            F.col("status_since").isNull()
            | (F.col("status_since") < now_ts - F.make_interval(secs=F.lit(float(cfg.stuck_threshold_seconds))))
        )
    )
    return frontier.withColumn(
        "status", F.when(stuck, F.lit(None).cast("string")).otherwise(F.col("status"))
    )


def _robots_checks(blocked: DataFrame, round_id: int, now: str, cfg: HydraConfig) -> DataFrame:
    """Error check rows for robots-disallowed URLs: never fetched,
    re-eligible only after the maximum delay."""
    from hydra_spark.crawl.robots import ROBOTS_ERROR

    now_ts = F.to_timestamp(F.lit(now))
    return (
        blocked.withColumn("id", F.xxhash64(F.col("resource_id"), F.lit(round_id + 2_000_003)))
        .withColumn("created_at", now_ts)
        .withColumn("error", F.lit(ROBOTS_ERROR))
        .withColumn("timeout", F.lit(False))
        .withColumn(
            "next_check_at",
            now_ts + F.make_interval(hours=F.lit(cfg.check_delays_hours[-1])),
        )
    )


def _as_checks(df: DataFrame) -> DataFrame:
    """Project onto CHECKS_SCHEMA: cast the columns ``df`` has, NULL-fill
    the analysis-only ones it lacks."""
    have = set(df.columns)
    return df.select(
        *[
            (F.col(f.name) if f.name in have else F.lit(None)).cast(f.dataType).alias(f.name)
            for f in CHECKS_SCHEMA.fields
        ]
    )


def run_round(
    spark: SparkSession,
    store: StateStore,
    pages: DataFrame,
    cfg: HydraConfig,
    round_id: int,
    now: str,
    robots_rules: DataFrame | None = None,
    exceptions: DataFrame | None = None,
    force_analysis: DataFrame | None = None,
    crawl_delays: DataFrame | None = None,
) -> dict:
    t0 = time.time()
    _tlast = [t0]
    timings: dict[str, float] = {}

    def _mark(name: str) -> None:
        now_w = time.time()
        timings[name] = round(now_w - _tlast[0], 3)
        _tlast[0] = now_w

    # compaction folds COMMITTED state only (start of round, tagged with
    # the last committed round id): a crash later in this round can then
    # never orphan a base snapshot that already swallowed the delta log.
    # The latest-check view folds on the same cadence — without it every
    # round windows over the FULL checks history (O(all past rounds)),
    # the long-horizon scale-killer the 12-round sf1 bench surfaces.
    if cfg.compact_every_rounds and round_id % cfg.compact_every_rounds == 0:
        store.frontier.compact(spark, round_id=round_id - 1)
        store.fold_latest_checks(spark, round_id=round_id - 1)

    frontier = store.frontier.read(spark)
    # full history only feeds the TIME-BOUNDED backoff rate window
    # (created_at pushdown prunes old row groups); the latest-per-key
    # view comes from the bounded base+delta read
    checks = store.checks.read(spark) if store.checks.exists() else None
    lc = store.latest_checks_view(spark)
    if lc is not None:
        # ONE pruned, persisted latest-check view per round: both
        # consumers (the claim's next_check_at join and the change
        # detection's prev-join) previously re-ran the latest-check
        # window over the full history — and the projection keeps the
        # window's shuffle to the 10 columns the round actually reads
        # (guide §2.3/§2.4)
        lc = lc.select("resource_id", *_PREV_COLS).persist()

    frontier = reset_stuck(frontier, cfg, now)

    # persist the claim: it feeds the politeness split AND the fetch —
    # without this the two selection windows recompute per consumer
    batch = select_batch(frontier, lc, cfg, round_id, now).persist()
    # the two decision frames are persisted: the analysis job, the checks
    # and frontier writes and the round totals all read them, and each
    # read would otherwise re-run the checks-history aggregate (backoff)
    # or the per-URL rule match (robots)
    backoff = domain_backoff(checks, cfg, now, crawl_delays=crawl_delays)
    if backoff is not None:
        backoff.persist()
    go, held = split_backoff(batch, backoff)
    robots_blocked = None
    if robots_rules is not None:
        # imported at call time: the module attribute is the one a
        # tracer patches
        from hydra_spark.crawl.robots import split_robots_rfc

        go, robots_blocked = split_robots_rfc(go, robots_rules, key_col="resource_id")
        robots_blocked.persist()

    if lc is not None:
        # Attach the prev-check columns to the SLIM claim BEFORE the
        # fetch join (guide §8/§2.3: decide with small rows, move big
        # rows once). The old shape joined prev onto the fetch OUTPUT,
        # so the payload bytes crossed an Exchange
        # hashpartitioning(resource_id) every round — the round's only
        # payload shuffle (pages stream in place from their
        # url-partitioned layout). claim⋈prev shuffles two key-only
        # sides instead, and html never crosses an exchange. Left join
        # on resource_id commutes with the 1:1-preserving left fetch
        # join on url, so the result is row-identical (3-round
        # store-level identity verified for both hinted and broadcast
        # paths; interleaved sf1 A/B a wash locally — shuffle-to-tmpfs
        # overlaps the python pass — kept for the at-scale property).
        prev = lc.select(
            F.col("resource_id").alias("_prid"),
            *[F.col(c).alias(f"prev_{c}") for c in _PREV_COLS],
        )
        # hash build on the ~150 B/row claim side at scale
        go = hash_build_side(go, cfg)
        go = go.join(prev, go.resource_id == prev._prid, "left").drop("_prid")

    fetched = simulate_fetch(go, pages, cfg, round_id, now)

    cur = fetched
    if lc is None:
        for c in _PREV_COLS:
            cur = cur.withColumn(f"prev_{c}", F.lit(None).cast(CHECKS_SCHEMA[c].dataType))
    cur = cur.withColumn("prev_exists", F.col("prev_id").isNotNull())

    cur = detect_changes(cur, now)
    cur = cur.withColumn("has_check_changed", has_check_changed_expr())
    cur = cur.withColumn(
        "next_check_at",
        next_check_expr(
            has_changed=F.col("has_check_changed") | (F.col("change_status") == "changed"),
            prev_exists=F.col("prev_exists"),
            last_modified_at=F.col("detected_last_modified_at"),
            prev_created_at=F.col("prev_created_at"),
            now=now,
            cfg=cfg,
        ),
    )
    # analysis gate (work avoidance, analysis/resource.py:93-133): only
    # changed-or-unknown CSV(-ish) resources get (re)parsed; gzip bodies
    # are extracted transparently downstream (utils/file.py:37-43);
    # oversized downloads are refused (MAX_FILESIZE_ALLOWED,
    # utils/file.py:46-115) and recorded as an analysis error
    from hydra_spark.analysis.georoute import GEOJSON_MIMES, PARQUET_MIMES
    from hydra_spark.analysis.xls import XLS_MIME
    from hydra_spark.analysis.xlsx import XLSX_MIME

    def _cap(fmt: str) -> int:
        return int(cfg.max_filesize_allowed.get(fmt, cfg.max_filesize_allowed["default"]))

    # per-format download cap (MAX_FILESIZE_ALLOWED is keyed by format
    # in the reference — data_formats/*/max_filesize_allowed)
    size_cap = _cap("csv")
    size_cap_col = (
        F.when(F.col("mime_type").isin(*PARQUET_MIMES), F.lit(_cap("parquet")))
        .when(F.col("mime_type").isin(*GEOJSON_MIMES), F.lit(_cap("geojson")))
        .otherwise(F.lit(size_cap))
    )
    # on-demand checks re-analyse even when unchanged (routes/checks.py
    # check_resource(force_analysis=True) — SURVEY §3.2)
    if force_analysis is not None:
        fa = F.broadcast(
            force_analysis.select(F.col("resource_id").alias("_farid")).distinct()
        )
        cur = cur.join(fa, cur.resource_id == F.col("_farid"), "left").withColumn(
            "_force_analysis", F.col("_farid").isNotNull()
        ).drop("_farid")
    else:
        cur = cur.withColumn("_force_analysis", F.lit(False))
    row_mimes = ["text/csv", "application/gzip", XLSX_MIME, XLS_MIME]
    if cfg.parquet_to_db:
        # fetched Parquet resources flow into the same typed-rows path
        # (data_formats/parquet/__init__.py:35-62: inspect + to_db)
        row_mimes += list(PARQUET_MIMES)
    analysable = (
        ((F.col("change_status") != "unchanged") | F.col("_force_analysis"))
        & F.col("status").isNotNull()
        & (F.col("status") < 400)
    )
    parseable = analysable & F.col("mime_type").isin(*row_mimes)
    geo_convertible = (
        analysable
        & F.col("mime_type").isin(*GEOJSON_MIMES)
        & F.lit(cfg.geojson_to_pmtiles)
    )
    # resources_exceptions bypass the size cap (J8, db/resource_exception.py)
    cur = with_exception_flag(cur, exceptions)
    too_big = (F.col("filesize") > size_cap_col) & ~F.col("has_exception")
    cur = cur.withColumn(
        "parsing_table", F.when(parseable & ~too_big, F.md5(F.col("url")))
    ).withColumn(
        "_geo_convert", geo_convertible & ~too_big
    ).withColumn(
        "analysis_error",
        F.when(
            (parseable | geo_convertible) & too_big,
            F.concat(F.lit("File too large (> "), size_cap_col, F.lit(" bytes)")),
        ),
    )
    cur = cur.persist()
    _mark("plan")

    # ---- split-boundary analysis + text extraction (§2.10, guide §4) ----
    # ONE python pass, but the JVM↔Python boundary only carries payload
    # bytes for rows that genuinely NEED python (CSV parse, gzip/xlsx/
    # xls decode, non-UTF-8 payloads); valid-UTF-8 text rows — the bulk
    # of a round — get their text extracted JVM-side and ship only the
    # small extracted string across Arrow (route_python_boundary).
    # Single consumer chain: the pass still pipelines with the fetch
    # join and the cache materialization (no second scan, no
    # partition-compute race).
    from hydra_spark.analysis.ingest import route_python_boundary

    to_process = route_python_boundary(
        cur.where(
            F.col("html").isNotNull() & F.col("status").isNotNull() & (F.col("status") < 400)
        ).select("url", "resource_id", "dataset_id", "html", "parsing_table", "mime_type")
    )
    if store.tables_index.exists():
        # validate-then-detect fast path: hand each file its latest
        # previous inspection (csv_like/__init__.py:41-50)
        wt = Window.partitionBy("parsing_table").orderBy(F.desc("created_at"))
        prev_ti = (
            store.tables_index.read(spark)
            .withColumn("_rn", F.row_number().over(wt))
            .where("_rn = 1")
            .select(F.col("parsing_table").alias("_pt"), F.col("csv_detective").alias("prev_inspection"))
        )
        # hash build on the inspection side at scale: the html-carrying
        # fetch rows stream unsorted (same rationale as the prev-checks
        # join above)
        prev_ti = hash_build_side(prev_ti, cfg)
        to_process = to_process.join(
            prev_ti, to_process.parsing_table == prev_ti._pt, "left"
        ).drop("_pt")
    parsed = process_fetched(to_process).persist()
    store.outputs.append(parsed, round_id=round_id)
    _mark("analyse_write")
    # persisted: every downstream write job (checks/outbox/frontier/
    # metrics) carries this subtree — without the persist each of them
    # re-scans the full parsed cache for the handful of error rows
    parse_errs = (
        parsed.where(F.col("parsing_error").isNotNull())
        .select(F.col("resource_id").alias("_erid"), F.col("parsing_error").alias("_perr"))
        .dropDuplicates(["_erid"])
        .persist()
    )
    cur = (
        cur.join(F.broadcast(parse_errs), cur.resource_id == parse_errs._erid, "left")
        .withColumn("parsing_error", F.col("_perr"))
        # failed parses leave no table behind (analysis_csv.py error tests)
        .withColumn(
            "parsing_table",
            F.when(F.col("_perr").isNotNull(), F.lit(None).cast("string")).otherwise(
                F.col("parsing_table")
            ),
        )
        .withColumn(
            "parsing_started_at",
            F.when(
                F.col("parsing_table").isNotNull() | F.col("parsing_error").isNotNull(),
                F.to_timestamp(F.lit(now)),
            ),
        )
        .withColumn("parsing_finished_at", F.col("parsing_started_at"))
        .drop("_erid", "_perr")
    )

    # ---- GeoJSON → PMTiles in-round dispatch (S14 glue; reference
    # data_formats/geojson/__init__.py:24-49 converts from the same
    # crawl path). GeoJSON resources are a sliver of any batch: the
    # row-count probe costs one cached-scan filter, and the export
    # itself distributes the tiling (analysis/georoute.py).
    if cfg.geojson_to_pmtiles:
        from hydra_spark.analysis.georoute import export_fetched_geojson

        gj = cur.where(F.col("_geo_convert")).select("resource_id", "url", "html")
        has_gj = bool(gj.limit(1).count())
        pmt_results = export_fetched_geojson(store.root, gj) if has_gj else []
        if has_gj:
            pm_rows = [
                (r["resource_id"], r["pmtiles_url"], r["pmtiles_size"]) for r in pmt_results
            ] or [(None, None, None)]
            pm = F.broadcast(
                spark.createDataFrame(
                    pm_rows, "_pmrid string, pmtiles_url string, pmtiles_size long"
                ).where(F.col("_pmrid").isNotNull())
            )
            cur = (
                cur.join(pm, cur.resource_id == F.col("_pmrid"), "left")
                .withColumn(
                    "parsing_finished_at",
                    F.coalesce(
                        F.col("parsing_finished_at"),
                        F.when(F.col("_pmrid").isNotNull(), F.to_timestamp(F.lit(now))),
                    ),
                )
                # a geojson resource that produced NO archive (malformed
                # JSON / zero parseable features) records a parse error,
                # like the reference's ParseException path
                .withColumn(
                    "analysis_error",
                    F.coalesce(
                        F.col("analysis_error"),
                        F.when(
                            F.col("_geo_convert") & F.col("_pmrid").isNull(),
                            F.lit("geojson:no parseable features"),
                        ),
                    ),
                )
                .drop("_pmrid")
            )
            _mark("geojson_pmtiles")

    # ---- checks append (fill analysis-only fields with NULLs) ----------
    rb = None if robots_blocked is None else _robots_checks(robots_blocked, round_id, now, cfg)
    checks_batch = _as_checks(cur)
    if rb is not None:
        checks_batch = checks_batch.unionByName(_as_checks(rb))

    # ---- frontier MERGE (SO2) as a merge-on-read DELTA: a round touches
    # ~batch_size of the 10^10-row frontier, so appending a delta beats
    # rewriting the snapshot (flat, non-scaling cost); readers apply the
    # latest delta per key; compaction folds them back periodically.
    def _checked(df: DataFrame) -> DataFrame:
        return df.select(
            F.col("resource_id").alias("_urid"),
            F.col("id").alias("_new_last_check"),
            F.lit("checked").alias("_upd"),
        )

    updates = _checked(cur)
    if rb is not None:
        updates = updates.unionByName(_checked(rb))
    if held is not None:
        updates = updates.unionByName(
            held.select(
                F.col("resource_id").alias("_urid"),
                F.lit(None).cast("long").alias("_new_last_check"),
                F.lit("backoff").alias("_upd"),
            )
        )
    now_ts = F.to_timestamp(F.lit(now))
    updates = updates.withColumn("_upd_at", now_ts)

    # per-partition lineage + fetch metrics (north rule)
    metrics = cur.groupBy("host_bucket", "domain").agg(
        F.lit(round_id).alias("round_id"),
        F.count("*").alias("n_urls"),
        F.sum(F.coalesce(F.col("filesize"), F.lit(0))).alias("bytes"),
        F.sum(F.when(F.col("status").between(200, 399), 1).otherwise(0)).alias("n_ok"),
        F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias("n_err"),
        F.sum(F.when(F.col("timeout"), 1).otherwise(0)).alias("n_timeout"),
        F.sum(F.when(F.col("change_status") == "changed", 1).otherwise(0)).alias("n_changed"),
    ).persist()

    # ---- independent writes overlap (guide §2.6) -----------------------
    # outbox / checks / frontier-delta / tables-index / metrics all read
    # the SAME cached `cur`/`parsed` (materialized by analyse_write) and
    # write to disjoint store directories — running them sequentially
    # leaves most cores idle in every job's output-commit tail. A small
    # thread pool lets the next job's tasks back-fill executors freed by
    # the current job's stragglers; per-job wall stays attributed under
    # the round-5 timing keys (longest job submitted first).
    from concurrent.futures import ThreadPoolExecutor

    def _timed(name: str, fn) -> None:
        t0w = time.time()
        fn()
        timings[name] = round(time.time() - t0w, 3)

    write_jobs: list[tuple[str, object]] = []
    if cfg.webhook_outbox:
        write_jobs.append(
            ("outbox_write",
             lambda: store.outbox.append(webhook_payloads(cur, now), round_id=round_id))
        )
    write_jobs += [
        ("checks_write",
         lambda: store.checks.append(checks_batch, round_id=round_id)),
        ("frontier_write",
         lambda: store.frontier.append_delta(updates, round_id=round_id)),
        ("tables_index_write",
         lambda: store.tables_index.append(tables_index_entries(parsed, now), round_id=round_id)),
        ("metrics_write",
         lambda: store.metrics.append(metrics, round_id=round_id)),
    ]
    with ThreadPoolExecutor(max_workers=3) as pool:
        futs = [pool.submit(_timed, n, fn) for n, fn in write_jobs]
        for f in futs:
            f.result()
    _mark("writes_wall")

    # ---- link discovery (Common-Crawl-style frontier growth) -----------
    # hrefs from this round's fetched pages become next-round frontier
    # rows: JVM-only extraction, anti-join against the frontier read
    # this round already did, appended as MoR INSERT files
    n_discovered = 0
    if cfg.discover_links:
        from hydra_spark.crawl.discover import discover_frontier, extract_links

        fetched_ok = cur.where(
            F.col("html").isNotNull()
            & F.col("status").isNotNull()
            & (F.col("status") < 400)
        ).select("url", "html")
        links = extract_links(
            fetched_ok,
            max_links_per_page=cfg.max_links_per_page,
            same_host_only=cfg.discover_same_host_only,
        )
        new_rows = discover_frontier(frontier, links, cfg).persist()
        n_discovered = new_rows.count()
        if n_discovered:
            store.frontier.append_inserts(new_rows, round_id)
        new_rows.unpersist()
        _mark("discover_write")

    # round totals come from the (tiny) metrics aggregate — no extra
    # pass over the fetch DAG
    n_checked = metrics.agg(F.sum("n_urls")).first()[0] or 0
    n_held = held.count() if held is not None else 0
    n_robots = robots_blocked.count() if robots_blocked is not None else 0
    _mark("counts")
    metrics.unpersist()
    batch.unpersist()
    for decided in (backoff, robots_blocked):
        if decided is not None:
            decided.unpersist()
    cur.unpersist()
    parsed.unpersist()
    parse_errs.unpersist()
    if lc is not None:
        lc.unpersist()
    wall = time.time() - t0
    summary = {
        "round": round_id,
        "now": now,
        "n_checked": n_checked,
        "n_backoff": n_held,
        "n_robots_blocked": n_robots,
        "n_discovered": n_discovered,
        "wall_s": round(wall, 3),
        "urls_per_s": round(n_checked / wall, 2) if wall > 0 else None,
        "timings": timings,
    }
    store.commit_round(round_id, meta=summary)
    return summary
