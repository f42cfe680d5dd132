"""The benchmark's workloads: inputs made from the seed, the timed passes
through the package's public API, and the output checks.

A pass starts from a copy of the store that set-up seeded, so every pass
of a run (and the traced pass) does the same work on the same state.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time

import pandas as pd
from pyspark.sql import functions as F

from hydra_spark.catalog import read_catalog_csv, upsert_catalog
from hydra_spark.config import DEFAULT
from hydra_spark.crawl.loop import init_state, run_crawl
from hydra_spark.crawl.robots import crawl_delays_from_robots_pages, rfc_rules_from_robots_pages
from hydra_spark.datagen import generate_frontier, generate_pages, generate_robots_pages
from hydra_spark.seen import BloomSeenSet
from hydra_spark.storage import StateStore

ROWS_PER_CSV = 20  # generate_pages' csv_rows_per_page default
MONTH_S = 31 * 86400
START = "2025-01-15 00:00:00"

# Both workloads crawl a corpus of the same size, so their per-URL
# figures compare.
N_PAGES, N_HOSTS = 3_000, 300
# fresh_crawl: a fresh store, big-batch rounds on the bucket-claim path
# (batch_size > bucket_claim_threshold), politeness off as in bench.py.
FRESH = {"batch": 12_000, "rounds": 1}
# recrawl: set-up crawls the whole corpus once; the timed part refreshes
# the catalog, then re-checks unchanged pages a month later with RFC
# robots rules and crawl delays. Every round starts with a compaction,
# so the set-up round also runs the robots and compaction code the timed
# round runs.
# The catalog mix is an assumption, not taken from a data.gouv catalog
# diff: 5 % of the resources missing, 5 % new, and half of the kept ones
# retitled. It sets the work of the Bloom probe, the anti-join and the
# seen update, so the recrawl upsert's cost (in cpu_ms_per_url) and the
# seen.* and catalog.* figures depend on it.
RECRAWL = {"batch": 12_000, "rounds": 1, "compact_every": 1,
           "new_frac": 0.05, "missing_frac": 0.05, "retitled_frac": 0.5}


class Laps:
    """Named durations of consecutive set-up steps."""

    def __init__(self):
        self.laps: dict[str, float] = {}
        self._t = time.perf_counter()

    def __call__(self, name: str) -> None:
        now = time.perf_counter()
        self.laps[name] = now - self._t
        self._t = now


# -- store helpers -------------------------------------------------------------
def clone_store(src: str, dst: str) -> StateStore:
    """Copy a seeded store; manifests hold absolute batch paths."""
    shutil.copytree(src, dst)
    for dirpath, _, files in os.walk(dst):
        for f in files:
            if f.endswith(".json"):
                p = os.path.join(dirpath, f)
                with open(p) as fh:
                    text = fh.read()
                with open(p, "w") as fh:
                    fh.write(text.replace(src, dst))
    return StateStore(dst)


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def store_digest(spark, store: StateStore) -> str:
    """Order-independent digest of every committed table of the store
    (row count and sum of row hashes per table, in one job)."""
    tables = {
        "frontier": store.frontier, "checks": store.checks, "outputs": store.outputs,
        "tables_index": store.tables_index, "metrics": store.metrics, "outbox": store.outbox,
        "url_seen": store.seen, "checks_latest": store.checks_latest,
    }
    hashed = None
    for name, table in tables.items():
        if not table.exists():
            continue
        df = table.read(spark)
        h = df.select(F.lit(name).alias("t"),
                      F.xxhash64(F.to_json(F.struct(*df.columns))).cast("decimal(38,0)").alias("h"))
        hashed = h if hashed is None else hashed.unionByName(h)
    rows = hashed.groupBy("t").agg(F.count(F.lit(1)).alias("n"), F.sum("h").alias("h")).collect()
    parts = sorted(f"{r.t}:{r.n}:{r.h}" for r in rows)
    return hashlib.sha1("|".join(parts).encode()).hexdigest()[:16]


def _batches_of_rounds(log, rounds) -> list[str]:
    return [b["path"] for b in log.manifest()["batches"] if b["round"] in rounds]


# -- fresh_crawl --------------------------------------------------------------
class FreshCrawl:
    name = "fresh_crawl"

    def __init__(self, spark, seed: int, work: str):
        p, lap = FRESH, Laps()
        self.cfg = DEFAULT.with_(batch_size=p["batch"], backoff_nb_req=10**9)
        cores = spark.sparkContext.defaultParallelism
        self.pages = (
            generate_pages(spark, N_PAGES, n_hosts=N_HOSTS, seed=seed)
            .repartition(cores, F.col("url"))
            .persist()
        )
        self.pages.count()
        lap("pages")
        self.frontier = generate_frontier(spark, self.pages, seed=seed).persist()
        # eligible (not deleted, not excluded) rows per host bucket: the
        # claim-size oracle of the output check
        eligible = F.lit(True)
        for pat in self.cfg.excluded_patterns:
            eligible = eligible & ~F.col("url").like(pat)
        self.eligible = {
            r["host_bucket"]: r["n"]
            for r in self.frontier.where(~F.col("deleted") & eligible)
            .groupBy("host_bucket").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        lap("frontier")
        self.seed_dir = os.path.join(work, "seed")
        init_state(StateStore(self.seed_dir), self.frontier)
        lap("store")
        # one untimed pass on a copy of the seeded store, so the timed
        # round does not pay the JVM's first-round compilation. A pass of
        # the full size leaves the timed round steadier than a small
        # crawl did, because the same code paths are hot at the same sizes
        warm = clone_store(self.seed_dir, os.path.join(work, "warm-up"))
        self.run_pass(spark, warm)
        shutil.rmtree(warm.root, ignore_errors=True)
        lap("warm_up_crawl")
        self.setup_laps = lap.laps

    def run_pass(self, spark, store: StateStore, tracer=None) -> dict:
        t0 = time.perf_counter()
        res = run_crawl(spark, store, self.pages, self.cfg, rounds=FRESH["rounds"], start_now=START)
        wall = time.perf_counter() - t0
        return {"rounds": res, "unit_s": [r["wall_s"] for r in res], "timed_s": wall,
                "urls": sum(r["n_checked"] for r in res)}

    def check(self, spark, store: StateStore, out: dict) -> tuple[list[str], dict]:
        fails: list[str] = []
        rounds = [r["round"] for r in out["rounds"]]
        checks = spark.read.parquet(*_batches_of_rounds(store.checks, rounds))
        buckets = self.frontier.select(F.col("resource_id").alias("rid"), "host_bucket")
        per_bucket = {
            (r["created_at"].strftime("%Y-%m-%d %H:%M:%S"), r["host_bucket"]): r
            for r in checks.join(buckets, checks.resource_id == buckets.rid)
            .groupBy("created_at", "host_bucket").agg(
                F.count(F.lit(1)).alias("n"),
                F.countDistinct("resource_id").alias("urls"),
                F.count(F.when(F.col("analysis_error").isNotNull()
                               | F.col("parsing_error").isNotNull(), 1)).alias("errors"),
            ).collect()
        }
        n_rows = sum(r["n"] for r in per_bucket.values())
        if n_rows != sum(r["urls"] for r in per_bucket.values()):
            fails.append("some URLs have more than one check row in a round")
        n_analysis_err = sum(r["errors"] for r in per_bucket.values())
        held = {}
        if any(r["n_backoff"] for r in out["rounds"]):
            deltas = store.frontier.deltas.read(spark).where(F.col("_upd") == "backoff")
            held = {
                (r["_delta_round"], r["host_bucket"]): r["n"]
                for r in deltas.join(buckets, deltas._urid == buckets.rid)
                .groupBy("_delta_round", "host_bucket").agg(F.count(F.lit(1)).alias("n")).collect()
            }
        # claimed URLs per round and host bucket: checked + held ==
        # min(quota, eligible rows not checked yet)
        quota = -(-self.cfg.batch_size // self.cfg.frontier_buckets)
        done = dict.fromkeys(self.eligible, 0)
        for r in out["rounds"]:
            for b, e in self.eligible.items():
                got = per_bucket[(r["now"], b)]["n"] if (r["now"], b) in per_bucket else 0
                got_held = held.get((r["round"], b), 0)
                want = min(quota, e - done[b])
                if got + got_held != want:
                    fails.append(f"round {r['round']} bucket {b}: claimed {got}+{got_held}, want {want}")
                    break
                done[b] += got
        claimed = sum(r["n_checked"] + r["n_backoff"] + r["n_robots_blocked"] for r in out["rounds"])
        if claimed != n_rows + sum(held.values()):
            fails.append(f"round summaries claim {claimed} URLs, the store holds "
                         f"{n_rows} checks + {sum(held.values())} held")
        outputs = spark.read.parquet(*_batches_of_rounds(store.outputs, rounds))
        n_parsed_rows, n_errors = outputs.select(
            F.count(F.when((F.col("kind") == "row") & F.col("row_json").isNotNull(), 1)),
            F.count("parsing_error"),
        ).first()
        files = spark.read.parquet(*_batches_of_rounds(store.tables_index, rounds)).count()
        if files == 0 or n_parsed_rows != ROWS_PER_CSV * files:
            fails.append(f"{n_parsed_rows} parsed rows for {files} files (want {ROWS_PER_CSV} each)")
        if n_errors or n_analysis_err:
            fails.append(f"clean corpus produced {n_errors} parse errors, "
                         f"{n_analysis_err} analysis_error checks")
        return fails, {"files_parsed": files, "parse_errors": n_errors}


# -- recrawl (with the catalog refresh) -------------------------------------------
class Recrawl:
    name = "recrawl"

    def __init__(self, spark, seed: int, work: str):
        p, lap = RECRAWL, Laps()
        self.cfg = DEFAULT.with_(batch_size=p["batch"], compact_every_rounds=p["compact_every"])
        cores = spark.sparkContext.defaultParallelism
        self.pages = (
            generate_pages(spark, N_PAGES, n_hosts=N_HOSTS, seed=seed)
            .repartition(cores, F.col("url"))
            .persist()
        )
        self.pages.count()
        lap("pages")
        # harvest metadata that agrees with the server's Last-Modified
        # (generate_frontier puts it 10 days earlier), so a re-check of an
        # unchanged page is unchanged under every detection rule
        frontier = generate_frontier(spark, self.pages, seed=seed).withColumn(
            "harvest_modified_at", F.col("harvest_modified_at") + F.expr("INTERVAL 10 DAYS")
        ).persist()
        robots_pages = generate_robots_pages(spark, self.pages).persist()
        self.rules = rfc_rules_from_robots_pages(robots_pages).persist()
        self.delays = crawl_delays_from_robots_pages(robots_pages).persist()
        self.rules.count()
        self.delays.count()
        robots_pages.unpersist()
        lap("robots")
        self.seed_dir = os.path.join(work, "seed")
        store = StateStore(self.seed_dir)
        init_state(store, frontier)
        # one round without a per-domain cap, whose per-bucket quota
        # covers the whole corpus, checks every URL once (robots-blocked
        # URLs get their error check, due again a month later)
        full = self.cfg.with_(batch_size=N_PAGES * self.cfg.frontier_buckets,
                              backoff_nb_req=10**9)
        run_crawl(spark, store, self.pages, full, rounds=1, start_now=START,
                  round_interval_s=MONTH_S, robots_rules=self.rules, crawl_delays=self.delays)
        lap("seed_crawl")
        self.bloom = BloomSeenSet(n_shards=self.cfg.bloom_shards, fpp=self.cfg.bloom_fpp)
        store.seen.commit(self.bloom.build(frontier.select("url")), round_id=1)
        lap("seen")
        self.catalog_path = os.path.join(work, "catalog.csv")
        self._write_catalog(frontier, seed)
        frontier.unpersist()
        lap("catalog")
        # one untimed upsert on a copy of the seeded store, so the timed
        # upsert does not pay the code generation and class loading of
        # the merge's plans; the seed crawl did the same for the round
        warm = clone_store(self.seed_dir, os.path.join(work, "warm-up"))
        upsert_catalog(spark, warm, read_catalog_csv(spark, self.catalog_path), self.cfg)
        shutil.rmtree(warm.root, ignore_errors=True)
        lap("warm_up_upsert")
        self.setup_laps = lap.laps

    def _write_catalog(self, frontier, seed: int) -> None:
        """data.gouv-style `;` catalog in the assumed mix of RECRAWL: most
        resources kept (some with a new title), some missing (soft-deleted
        by the upsert) and some new, whose URLs the corpus does not serve."""
        p = RECRAWL
        u = F.pmod(F.xxhash64("resource_id", F.lit(seed)), F.lit(1000)) / 1000.0
        fr = frontier.select(
            "dataset_id", "resource_id", "url", "type", "format", "harvest_modified_at", "title",
            "deleted", u.alias("u"),
        ).toPandas()
        # soft-deleted resources are not in the live catalog: listing
        # them would revive them as never-checked claims
        kept = fr[(fr.u >= p["missing_frac"]) & ~fr.deleted].copy()
        retitled = kept.u < p["missing_frac"] + (1.0 - p["missing_frac"]) * p["retitled_frac"]
        kept.loc[retitled, "title"] = kept.loc[retitled, "title"] + " v2"
        self.frontier_rows = len(fr)
        n_new = int(len(fr) * p["new_frac"])
        new = kept.head(n_new).copy()
        new["resource_id"] = [f"new-{seed}-{i:08d}" for i in range(n_new)]
        new["url"] = [f"https://catalog{i % 97}.example.org/catalog-new/{seed}/{i}" for i in range(n_new)]
        new["title"] = "new resource"
        cat = pd.concat([kept, new]).drop(columns=["u", "deleted"]).rename(columns={
            "dataset_id": "dataset.id", "resource_id": "id",
            "harvest_modified_at": "harvest.modified_at",
        })
        cat["harvest.modified_at"] = cat["harvest.modified_at"].dt.strftime("%Y-%m-%d %H:%M:%S")
        cat["dataset.archived"] = "False"
        cat.to_csv(self.catalog_path, sep=";", index=False)
        self.expect = {
            "rows_in": len(cat), "rows_inserted": n_new, "rows_updated": len(kept),
            "rows_deleted": len(fr) - len(kept), "retitled": int(retitled.sum()),
        }

    def run_pass(self, spark, store: StateStore, tracer=None) -> dict:
        t0 = time.perf_counter()
        incoming = read_catalog_csv(spark, self.catalog_path)
        if tracer is None:
            upsert_catalog(spark, store, incoming, self.cfg)
        else:
            with tracer.span("catalog.upsert"):
                upsert_catalog(spark, store, incoming, self.cfg)
        upsert_s = time.perf_counter() - t0
        if tracer is not None:
            tracer.replay(self._seen_counters())
        t1 = time.perf_counter()
        res = run_crawl(spark, store, self.pages, self.cfg, rounds=RECRAWL["rounds"],
                        start_now=START, round_interval_s=MONTH_S,
                        robots_rules=self.rules, crawl_delays=self.delays)
        crawl_s = time.perf_counter() - t1
        return {"rounds": res, "unit_s": [r["wall_s"] for r in res], "upsert_s": upsert_s,
                "timed_s": upsert_s + crawl_s,
                "urls": sum(r["n_checked"] for r in res)}

    @staticmethod
    def _seen_counters() -> dict:
        new = F.col("url").contains("/catalog-new/")
        return {"truly_new": new, "false_positive": new & F.col("seen")}

    def check(self, spark, store: StateStore, out: dict) -> tuple[list[str], dict]:
        fails: list[str] = []
        rounds = [r["round"] for r in out["rounds"]]
        checks = spark.read.parquet(*_batches_of_rounds(store.checks, rounds))
        dup = checks.groupBy("resource_id", "created_at").count().where("count > 1").count()
        if dup:
            fails.append(f"{dup} URLs have more than one check row in a round")
        new_tables = [b for b in store.tables_index.manifest()["batches"] if b["round"] in rounds]
        n_new_tables = spark.read.parquet(*[b["path"] for b in new_tables]).count() if new_tables else 0
        if n_new_tables:
            fails.append(f"re-checks of unchanged pages made {n_new_tables} new tables")
        # the catalog upsert's snapshot is the one before the rounds' compaction
        snaps = store.frontier.base.manifest()["snapshots"]
        upserted = next(s for s in snaps if s["meta"].get("op") == "upsert_catalog")
        fr = spark.read.parquet(upserted["path"])
        n, n_deleted, n_retitled = fr.select(
            F.count(F.lit(1)), F.count(F.when(F.col("deleted"), 1)),
            F.count(F.when(F.col("title").endswith(" v2"), 1)),
        ).first()
        e = self.expect
        if n != self.frontier_rows + e["rows_inserted"]:
            fails.append(f"frontier has {n} rows after the upsert, want "
                         f"{self.frontier_rows} + {e['rows_inserted']}")
        if n_deleted != e["rows_deleted"] or n_retitled != e["retitled"]:
            fails.append(f"upsert soft-deleted {n_deleted} (want {e['rows_deleted']}) and "
                         f"retitled {n_retitled} (want {e['retitled']})")
        inserted = fr.where(F.col("url").contains("/catalog-new/")).select("url")
        unseen = self.bloom.check(inserted, store.seen.read(spark)).where(~F.col("seen")).count()
        if unseen:
            fails.append(f"{unseen} inserted URLs are missing from the seen set")
        return fails, {k: v for k, v in e.items() if k != "retitled"}


WORKLOADS = {w.name: w for w in (FreshCrawl, Recrawl)}
