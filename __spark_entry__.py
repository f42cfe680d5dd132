"""Driver contract for the spark-graft builder (PySpark target).

`entry` runs a full crawl round (the flagship pipeline) over a pages
corpus synthesized from sf0.001 documents. `queries()` exposes every
SURVEY.md §2 operator family as a (spark, sf_dir) callable; EVERY entry
has a DuckDB twin in `oracle_sql()` with identical column names/types
(timestamps rendered as strings, doubles rounded).

Hash-based ops run portable md5-arithmetic variants (same banding/
voting/bucketing machinery as the xxhash64 fast paths, which stay
covered by tests/test_ml.py); ANN/IVF run full-coverage parameters so
the approximate result provably equals the brute-force oracle; the
crawl round covers the whole eligible frontier in one batch so every
check column is a pure function of the synthetic URL grammar,
replayable in SQL (sha1 excluded — no DuckDB builtin); Bloom membership
is checked via its no-false-negatives invariant.
"""

from __future__ import annotations

import json
import os
import tempfile
from collections.abc import Callable

# ivf index tables built per (session, sf dir) — an index is built once
# and searched many times; rebuilding per search would time index
# construction, not search
_IVF_INDEX_PATHS: dict[tuple[int, str], str] = {}

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

NOW = "1998-12-01 00:00:00"  # fixed clock for ladder queries
DELAYS = [12, 24, 168, 720]

_EN = ["the", "and", "of", "to", "is", "in", "that", "it", "for", "with"]
_FR = ["le", "la", "les", "de", "des", "et", "est", "un", "une", "dans"]
_STOP_EN = r"(?i)\b(" + "|".join(_EN) + r")\b"
_STOP_FR = r"(?i)\b(" + "|".join(_FR) + r")\b"


# tables whose consumers run expensive NARROW work (tokenization,
# regex, shingling, vector math) — these gain 10-30x from spreading a
# degenerate single-row-group scan. The window/aggregate-dominated
# tables (events, TPC dims) redistribute in their first exchange anyway,
# so pre-spreading them only adds a round-trip.
_FAN_OUT_TABLES = {"documents", "embeddings"}


def _t(spark: SparkSession, sf_dir: str, name: str, fan: bool = True) -> DataFrame:
    # fan_out: the sf tables ship as one file / one row group, which
    # caps scan parallelism at a single task (guide §2.5); no-op when
    # the scan is already parallel enough (real tables at scale).
    # fan=False opts a window/aggregate-bound consumer out: its first
    # keyed exchange redistributes anyway, so pre-spreading only adds
    # a round-trip.
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if fan and name in _FAN_OUT_TABLES:
        from hydra_spark.parallel import fan_out

        df = fan_out(df)
    return df


# ---------------------------------------------------------------------------
# flagship: one crawl round over a synthetic pages corpus
# ---------------------------------------------------------------------------

def _docs_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic pages table derived from the documents table (the
    driver-sanctioned input), matching BASELINE.json input_hint."""
    docs = _t(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://host"), (F.col("doc_id") % 20).cast("string"),
        F.lit(".example.com/doc/"), F.col("doc_id").cast("string"),
    )
    return docs.select(
        url.alias("url"),
        (F.to_timestamp(F.lit("2025-01-01 00:00:00"))
         + F.make_interval(secs=(F.col("doc_id") * 97 % 864000).cast("double"))).alias("warc_ts"),
        F.encode("text", "UTF-8").alias("html"),
        F.col("text"),
        F.col("lang"),
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: crawl round over sf0.001 → the checks log."""
    from hydra_spark.config import DEFAULT
    from hydra_spark.crawl.loop import init_state, run_crawl
    from hydra_spark.datagen import generate_frontier
    from hydra_spark.storage import StateStore

    sf_dir = "/root/testdata/sf0.001"
    pages = _docs_pages(spark, sf_dir)
    frontier = generate_frontier(spark, pages)
    store = StateStore(tempfile.mkdtemp(prefix="hydra_entry_"))
    init_state(store, frontier)
    run_crawl(spark, store, pages, DEFAULT.with_(batch_size=200), rounds=1)
    return store.checks.read(spark).select(
        "resource_id", "url", "domain", "status", "checksum", "filesize", "mime_type",
        "parsing_table",
    )


# ---------------------------------------------------------------------------
# helpers shared by spark queries
# ---------------------------------------------------------------------------

def _latest_event_window():
    return Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))


def _doc_url():
    d = F.col("doc_id")
    return (
        F.when(d % 401 == 13, F.concat(F.lit("http://geo.data.gouv.fr/shp/"), d.cast("string")))
        .when(d % 509 == 19,
              F.concat(F.lit("https://host"), (d % 20).cast("string"),
                       F.lit(".example.com/export?format=shp&id="), d.cast("string")))
        .otherwise(F.concat(F.lit("https://host"), (d % 20).cast("string"),
                            F.lit(".example.com/doc/"), d.cast("string")))
    )


_DOC_URL_SQL = (
    "CASE WHEN doc_id % 401 = 13 THEN 'http://geo.data.gouv.fr/shp/' || CAST(doc_id AS VARCHAR) "
    "WHEN doc_id % 509 = 19 THEN 'https://host' || CAST(doc_id % 20 AS VARCHAR) || "
    "'.example.com/export?format=shp&id=' || CAST(doc_id AS VARCHAR) "
    "ELSE 'https://host' || CAST(doc_id % 20 AS VARCHAR) || '.example.com/doc/' || "
    "CAST(doc_id AS VARCHAR) END"
)


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from hydra_spark.functions.headers import content_type_base
    from hydra_spark.functions.urls import canonicalize_url
    from hydra_spark.ml import dedup, similarity, text as mltext

    def q_latest_check(spark, sf):  # J1/W1
        ev = _t(spark, sf, "events")
        return (
            ev.withColumn("rn", F.row_number().over(_latest_event_window()))
            .where("rn = 1")
            .select(
                "user_id",
                F.col("event_id").alias("latest_event_id"),
                F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
                "event_type",
            )
        )

    def q_last_two_change(spark, sf):  # J3/W2 + change flag
        ev = _t(spark, sf, "events")
        w = _latest_event_window()
        return (
            ev.withColumn("rn", F.row_number().over(w))
            .withColumn("prev_value", F.lead("value").over(w))
            .where("rn = 1")
            .select(
                "user_id",
                F.round("value", 6).alias("cur_value"),
                F.round("prev_value", 6).alias("prev_value"),
                (F.col("prev_value").isNotNull() & (F.col("value") != F.col("prev_value")))
                .alias("changed"),
            )
        )

    def q_backoff_rate_window(spark, sf):  # A1
        ev = _t(spark, sf, "events")
        mx = ev.agg(F.max("ts").alias("mx"))
        return (
            ev.crossJoin(mx)
            .where(F.col("ts") >= F.col("mx") - F.expr("INTERVAL 7 DAYS"))
            .groupBy(F.concat(F.lit("host"), (F.col("user_id") % 20).cast("string")).alias("domain"))
            .agg(F.count("*").alias("nb_req"))
            .withColumn("backoff", F.col("nb_req") >= 50)
        )

    def q_next_check_ladder(spark, sf):  # C10
        o = _t(spark, sf, "orders")
        now = F.to_timestamp(F.lit(NOW))
        # o_orderdate arrives as TIMESTAMP_NTZ; hop through timestamp (UTC
        # session) for epoch arithmetic
        since_h = (
            now.cast("long") - F.col("o_orderdate").cast("timestamp").cast("long")
        ) / 3600.0
        ladder = F.lit(DELAYS[-1])
        for d in reversed(DELAYS):
            ladder = F.when(since_h <= d, F.lit(d)).otherwise(ladder)
        return o.select(
            "o_orderkey",
            ladder.cast("int").alias("delay_hours"),
            F.date_format(
                now + F.make_interval(hours=ladder), "yyyy-MM-dd HH:mm:ss"
            ).alias("next_check_s"),
        )

    def q_status_counts(spark, sf):  # A4
        return (
            _t(spark, sf, "orders")
            .groupBy(F.col("o_orderstatus").alias("status"))
            .agg(F.count("*").alias("count"))
        )

    def q_checks_aggregate_topk(spark, sf):  # A3/W4
        return (
            _t(spark, sf, "events")
            .groupBy(F.col("event_type").alias("value"))
            .agg(F.count("*").alias("count"))
            .orderBy(F.desc("count"), "value")
            .limit(20)
        )

    def q_crawler_status_sums(spark, sf):  # A5
        return _t(spark, sf, "orders").agg(
            F.count("*").alias("total"),
            F.sum(F.when(F.col("o_orderstatus") == "O", 1).otherwise(0)).alias("open_orders"),
            F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)).alias("finished"),
            F.sum(
                F.when(F.col("o_orderdate") <= F.lit("1995-06-01"), 1).otherwise(0)
            ).alias("due"),
        )

    def q_percent_of_total(spark, sf):  # A8/W5
        w = Window.partitionBy()
        return (
            _t(spark, sf, "customer")
            .groupBy(F.col("c_mktsegment").alias("segment"))
            .agg(F.count("*").alias("count"))
            .withColumn(
                "percentage",
                F.round(F.col("count") * 100.0 / F.sum("count").over(w), 2).cast("double"),
            )
        )

    def q_excluded_filter(spark, sf):  # F1
        from hydra_spark.functions.urls import excluded_clause

        docs = _t(spark, sf, "documents").withColumn("url", _doc_url())
        return docs.where(
            excluded_clause(("http%geo.data.gouv.fr%", "%?format=shp%"))
        ).select("doc_id", "url")

    def q_tier_selection(spark, sf):  # §2.4 tiers + deterministic order
        d = F.col("doc_id")
        # fan=False: top-k via TakeOrderedAndProject — per-row work is
        # one md5; pre-spreading measured 1.2-1.5x slower
        docs = _t(spark, sf, "documents", fan=False).withColumn("url", _doc_url())
        tier = (
            F.when(d % 97 == 0, F.lit(0))
            .when(d % 5 == 0, F.lit(1))
            .when(d % 3 == 0, F.lit(2))
            .otherwise(F.lit(None).cast("int"))
        )
        return (
            docs.withColumn("tier", tier)
            .where(F.col("tier").isNotNull())
            .withColumn("rnd", F.md5(d.cast("string").cast("binary")))
            .orderBy("tier", "rnd")
            .limit(40)
            .select("doc_id", "tier", "url")
        )

    def q_canonicalize(spark, sf):  # C1/C16
        d = F.col("doc_id")
        messy = (
            F.when(d % 3 == 0,
                   F.concat(F.lit("HTTPS://Host"), (d % 20).cast("string"),
                            F.lit(".Example.COM:443/p/"), d.cast("string")))
            .when(d % 3 == 1,
                  F.concat(F.lit("http://host"), (d % 20).cast("string"),
                           F.lit(".example.com:80/q?id="), d.cast("string")))
            .otherwise(F.concat(F.lit("https://host"), (d % 20).cast("string"),
                                F.lit(".example.com/r/"), d.cast("string"), F.lit("#frag")))
        )
        docs = _t(spark, sf, "documents").withColumn("url", messy)
        canon = canonicalize_url("url")
        return docs.select(
            "doc_id",
            canon.alias("canonical"),
            F.regexp_extract(canon, r"^[a-z][a-z0-9+.\-]*://([^/:?]+)", 1).alias("domain"),
        )

    def q_md5_naming(spark, sf):  # C2
        docs = _t(spark, sf, "documents").withColumn("url", _doc_url())
        return docs.select(
            "doc_id", F.md5(F.encode("url", "UTF-8")).alias("parsing_table")
        )

    def q_content_type(spark, sf):  # C5
        p = _t(spark, sf, "part")
        ct = F.concat(F.lit("text/"), F.lower("p_brand"), F.lit("; charset=utf-8"))
        return p.select("p_partkey", content_type_base(ct).alias("content_type"))

    def q_json_header_access(spark, sf):  # C6
        ev = _t(spark, sf, "events")
        return ev.select(
            "event_id",
            F.get_json_object("props", "$.k").cast("int").alias("k_val"),
        )

    def q_stuck_semi_join(spark, sf):  # J4 (semi/anti joins)
        o = _t(spark, sf, "orders")
        li = _t(spark, sf, "lineitem").select(F.col("l_orderkey").alias("o_orderkey"))
        return o.join(li, "o_orderkey", "left_anti").select("o_orderkey", "o_orderstatus")

    def q_orphan_purge(spark, sf):  # SO1
        p = _t(spark, sf, "part")
        li = _t(spark, sf, "lineitem").select(F.col("l_partkey").alias("p_partkey"))
        return p.join(li, "p_partkey", "left_anti").select("p_partkey", "p_name")

    def q_upsert_latest(spark, sf):  # J6/SO2
        o = _t(spark, sf, "orders")
        w = Window.partitionBy("o_custkey").orderBy(F.desc("o_orderdate"), F.desc("o_orderkey"))
        return (
            o.withColumn("rn", F.row_number().over(w))
            .where("rn = 1")
            .select("o_custkey", F.col("o_orderkey").alias("latest_orderkey"),
                    F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate_s"))
        )

    def q_profile(spark, sf):  # A9
        li = _t(spark, sf, "lineitem")
        return (
            li.groupBy("l_returnflag")
            .agg(
                F.round(F.min("l_quantity"), 4).alias("min_qty"),
                F.round(F.max("l_quantity"), 4).alias("max_qty"),
                F.round(F.mean("l_quantity"), 4).alias("mean_qty"),
                F.round(F.stddev("l_quantity"), 4).alias("std_qty"),
                F.count("*").alias("n"),
            )
        )

    def q_exact_dedup(spark, sf):  # ml dedup (exact)
        # fan=False: map-side-combinable aggregate — its exchange
        # redistributes anyway; pre-spreading shuffles the text payload
        # (measured 1.5x slower at sf0.1, break-even at sf1)
        docs = _t(spark, sf, "documents", fan=False)
        h = F.md5(F.encode(F.regexp_replace(F.lower(F.trim("text")), r"\s+", " "), "UTF-8"))
        return (
            docs.withColumn("content_hash", h)
            .groupBy("content_hash")
            .agg(F.count("*").alias("n_dups"), F.min("doc_id").alias("canonical_id"))
        )

    def q_token_quality(spark, sf):  # ml text quality
        docs = _t(spark, sf, "documents")
        t = F.col("text")
        n_chars = F.length(t)
        trimmed = F.trim(t)
        n_tokens = F.when(trimmed == "", F.lit(0)).otherwise(F.size(F.split(trimmed, r"\s+")))
        safe = F.greatest(n_chars, F.lit(1)).cast("double")
        return docs.select(
            "doc_id",
            n_chars.alias("n_chars"),
            n_tokens.alias("n_tokens"),
            F.coalesce(F.regexp_count(t, F.lit(r"\w+|[^\w\s]")), F.lit(0)).alias("n_bpe_tokens"),
            F.round(F.coalesce(F.regexp_count(t, F.lit(r"[0-9]")), F.lit(0)) / safe, 6)
            .alias("digit_ratio"),
            F.round(F.coalesce(F.regexp_count(t, F.lit(r"[^\w\s]")), F.lit(0)) / safe, 6)
            .alias("punct_ratio"),
        )

    def q_langid(spark, sf):  # ml language-ID heuristic
        docs = _t(spark, sf, "documents")
        en = F.coalesce(F.regexp_count("text", F.lit(_STOP_EN)), F.lit(0))
        fr = F.coalesce(F.regexp_count("text", F.lit(_STOP_FR)), F.lit(0))
        lang = (
            F.when((en + fr) == 0, F.lit("unknown"))
            .when(en > fr, F.lit("en"))
            .when(fr > en, F.lit("fr"))
            .otherwise(F.lit("unknown"))
        )
        return docs.select("doc_id", en.alias("en_hits"), fr.alias("fr_hits"), lang.alias("lang_detected"))

    def q_cosine_topk(spark, sf):  # ml similarity (brute force)
        emb = _t(spark, sf, "embeddings")
        queries_df = emb.where("vec_id < 3").select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
        )
        return similarity.cosine_topk(
            emb, queries_df.withColumnRenamed("qv", "embedding"), k=5
        ).withColumn("cosine", F.round("cosine", 4))

    def q_geojson_coords(spark, sf):  # C14
        from hydra_spark.exports.geojson import latlon_to_lonlat

        c = _t(spark, sf, "customer")
        latlon = F.concat(
            F.lit("("), (F.col("c_custkey") % 90).cast("string"),
            F.lit(", "), ((F.col("c_nationkey") * 7) % 180).cast("string"), F.lit(")"),
        )
        lonlat = latlon_to_lonlat(latlon)
        return c.select(
            "c_custkey", lonlat[0].alias("lon"), lonlat[1].alias("lat")
        )

    def q_cors_classification(spark, sf):  # A8 two-level agg
        ev = _t(spark, sf, "events")
        w = Window.partitionBy()
        per_user = ev.groupBy("user_id").agg(
            F.max(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("has_click")
        )
        return (
            per_user.withColumn(
                "cls", F.when(F.col("has_click") == 1, F.lit("clicker")).otherwise(F.lit("lurker"))
            )
            .groupBy("cls")
            .agg(F.count("*").alias("count"))
            .withColumn(
                "percentage",
                F.round(F.col("count") * 100.0 / F.sum("count").over(w), 2).cast("double"),
            )
        )

    # ---- hash/LSH/stateful ops — portable (md5-arithmetic) variants so
    # every one has a DuckDB oracle; the xxhash64 fast paths share the
    # exact same banding/voting/bucketing machinery and stay covered by
    # tests/test_ml.py ---------------------------------------------------

    def q_fingerprint(spark, sf):
        docs = _t(spark, sf, "documents")
        return docs.select("doc_id", mltext.fingerprint_md5("text").alias("fingerprint"))

    def q_minhash_pairs(spark, sf):
        docs = _t(spark, sf, "documents")
        return dedup.minhash_lsh_candidates(docs, k=16, bands=4, portable_md5=True)

    def q_simhash(spark, sf):
        docs = _t(spark, sf, "documents")
        return dedup.simhash(docs, portable_md5=True).select("doc_id", "simhash")

    # full-coverage LSH/IVF parameters: every bucket is probed, so the
    # approximate result provably equals brute force — which IS the
    # DuckDB oracle (the recall-vs-brute-force check as an exact match)

    def q_ann_topk(spark, sf):
        emb = _t(spark, sf, "embeddings")
        queries_df = emb.where("vec_id < 3").select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        return similarity.ann_topk(
            emb, queries_df, k=5, n_planes=1, probes=1, tables=2
        ).withColumn("cosine", F.round("cosine", 4))

    def q_ivf_topk(spark, sf):
        emb = _t(spark, sf, "embeddings")
        queries_df = emb.where("vec_id < 3").select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        return similarity.ivf_topk(
            emb, queries_df, k=5, n_clusters=8, n_probe=8
        ).withColumn("cosine", F.round("cosine", 4))

    def q_ivf_indexed(spark, sf):
        # cluster-partitioned IVF index on disk; full probe ≡ brute force,
        # partial probes partition-prune the inverted lists. The index is
        # built ONCE per corpus and the opened handle (centroids) is
        # cached — searches pay only the pruned scan, which is how an
        # index is actually used (VERDICT r3 wrong #2).
        emb = _t(spark, sf, "embeddings").select("vec_id", "embedding")
        key = (id(spark.sparkContext), sf)
        path = _IVF_INDEX_PATHS.get(key)
        if path is None or not os.path.isdir(path):
            path = tempfile.mkdtemp(prefix="hydra_ivf_") + "/index"
            similarity.ivf_build_index(emb, path, n_clusters=8)
            _IVF_INDEX_PATHS[key] = path
        queries_df = emb.where("vec_id < 3").select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        return similarity.ivf_topk_indexed(
            spark, path, queries_df, k=5, n_probe=8
        ).withColumn("cosine", F.round("cosine", 4))

    def q_ivf_append(spark, sf):
        # incremental index growth: build on the first half of the
        # corpus, ivf_append the second; full probe over the updated
        # index provably equals brute force on the UNION, so the same
        # exact-top-k oracle covers the append path
        emb = _t(spark, sf, "embeddings").select("vec_id", "embedding")
        n_half = emb.count() // 2
        path = tempfile.mkdtemp(prefix="hydra_ivf_append_") + "/index"
        similarity.ivf_build_index(
            emb.where(F.col("vec_id") < n_half), path, n_clusters=8
        )
        similarity.ivf_append(spark, path, emb.where(F.col("vec_id") >= n_half))
        queries_df = emb.where("vec_id < 3").select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        return similarity.ivf_topk_indexed(
            spark, path, queries_df, k=5, n_probe=8
        ).withColumn("cosine", F.round("cosine", 4))

    def q_embedding_near_dups(spark, sf):
        # plant exact duplicates (vec_id+100000), single-bucket coverage
        # (n_planes=0) so the LSH result provably equals the all-pairs
        # threshold join the oracle computes
        base = _t(spark, sf, "embeddings").select("vec_id", "embedding")
        dup = base.where("vec_id < 15").select(
            (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
        )
        return dedup.embedding_near_dups(
            base.unionByName(dup), threshold=0.99, n_planes=0, max_bucket=100_000
        ).withColumn("cosine", F.round("cosine", 4))

    def q_corpus_curation(spark, sf):
        # the composed training-data pipeline funnel: quality gate →
        # language gate → exact dedup, accounted in ONE aggregation
        from hydra_spark.ml.pipeline import curation_stats

        docs = _t(spark, sf, "documents")
        return curation_stats(docs, min_quality=0.3, languages=("en", "fr"))

    def q_jaccard_verify(spark, sf):
        # exact n-gram Jaccard on candidate pairs (the minhash verify
        # stage): consecutive-doc pairs over the corpus
        docs = _t(spark, sf, "documents")
        pairs = (
            docs.where("doc_id % 2 = 0")
            .select(F.col("doc_id").alias("id_a"), (F.col("doc_id") + 1).alias("id_b"))
        )
        return dedup.jaccard_verify(docs, pairs, threshold=0.0).withColumn(
            "jaccard", F.round("jaccard", 6)
        )

    def q_dedup_components(spark, sf):
        # iterative min-label propagation over dedup pairs: 12 path
        # graphs of 5 nodes each → component = min id of the path (the
        # 4-hop chains prove multi-round transitive propagation)
        edges = (
            spark.range(60)
            .where("id % 5 != 4")
            .select(F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b"))
        )
        return dedup.connected_components(edges).select(
            "id", F.col("comp").alias("component")
        )

    def q_keep_best(spark, sf):
        # the same 12 path graphs as dedup_components + 10 singletons;
        # score alternates by doc parity so EVERY cluster's argmax is a
        # tie the lowest-id rule must break
        edges = (
            spark.range(60)
            .where("id % 5 != 4")
            .select(F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b"))
        )
        docs = spark.range(70).select(
            F.col("id").alias("doc_id"),
            ((F.col("id") % 2) / F.lit(2.0)).alias("score"),
        )
        return dedup.keep_best_per_cluster(docs, edges)

    def q_bloom_seen(spark, sf):
        # oracle-able invariant: a Bloom filter has NO false negatives —
        # every inserted url must probe true
        from hydra_spark.seen import BloomSeenSet

        docs = _t(spark, sf, "documents").withColumn("url", _doc_url())
        seen = BloomSeenSet(n_shards=16)
        shards = seen.build(docs.select("url"))
        return seen.check(docs.select("url"), shards).select("url", "seen")

    def q_crawl_round(spark, sf):
        # one round covering the whole (eligible) frontier: the checked
        # set and every check column below are then pure functions of the
        # synthetic URL grammar, replayable in DuckDB (sha1/checksum has
        # no DuckDB builtin — excluded). The per-domain in-round claim
        # cap is lifted for the replay (like bench.py's protocol) — at
        # sf>=0.1 a host exceeds backoff_nb_req and one round could no
        # longer cover the frontier; politeness itself is verified by
        # tier_selection/backoff_rate_window and the claim-cap tests.
        from hydra_spark.config import DEFAULT
        from hydra_spark.crawl.loop import init_state, run_crawl
        from hydra_spark.datagen import generate_frontier
        from hydra_spark.storage import StateStore

        pages = _docs_pages(spark, sf)
        frontier = generate_frontier(spark, pages)
        store = StateStore(tempfile.mkdtemp(prefix="hydra_q_"))
        init_state(store, frontier)
        run_crawl(
            spark, store, pages,
            DEFAULT.with_(batch_size=100_000, backoff_nb_req=10**9),
            rounds=1,
        )
        return store.checks.read(spark).select(
            "resource_id", "url", "domain", "status", "filesize", "mime_type"
        )

    def q_multimodal_features(spark, sf):
        from hydra_spark.ml.multimodal import extract_features, synthetic_assets

        assets = synthetic_assets(spark, 200)
        feats = extract_features(assets, fake=True)
        # scalar encoding of the feature vector (exact: features are
        # x/256 with power-of-two denominators, so floor(x*1e6) is
        # deterministic in both float32 and double)
        enc = F.array_join(
            F.transform(
                "features", lambda x: F.floor(x.cast("double") * 1000000).cast("long").cast("string")
            ),
            ",",
        )
        return feats.select("asset_id", "media_type", "n_bytes", enc.alias("features_enc"))

    def q_catalog_upsert(spark, sf):  # S1/SO2 through the real code path
        import csv as _csv
        import os

        from hydra_spark.catalog import as_frontier_rows, read_catalog_csv, upsert_catalog
        from hydra_spark.storage import StateStore

        tmp = tempfile.mkdtemp(prefix="hydra_catalog_")

        def write_catalog(name, lo, hi, title_suffix):
            p = os.path.join(tmp, name)
            with open(p, "w", newline="") as f:
                w = _csv.writer(f, delimiter=";")
                w.writerow(["dataset.id", "id", "url", "type", "format",
                            "harvest.modified_at", "title", "dataset.archived"])
                for i in range(lo, hi):
                    w.writerow([
                        f"ds{i % 7}", f"rid-{i:05d}",
                        f"https://cat{i % 9}.example.com/res/{i}", "main", "csv",
                        "2025-01-01 00:00:00",
                        f"res {i}{title_suffix}",
                        "True" if i % 10 == 0 else "False",  # archived → skipped
                    ])
            return p

        v1 = read_catalog_csv(spark, write_catalog("v1.csv", 0, 150, ""))
        v2 = read_catalog_csv(spark, write_catalog("v2.csv", 50, 200, " v2"))
        store = StateStore(os.path.join(tmp, "state"))
        store.frontier.commit(as_frontier_rows(v1), round_id=0)
        upsert_catalog(spark, store, v2)
        return store.frontier.read(spark).select(
            "resource_id", "url", "deleted", "title"
        )

    def q_parquet_export_roundtrip(spark, sf):  # S9/S10/S11 + C8 typed chain
        from hydra_spark.analysis.ingest import analyse_csv_batch, load_parsed_table
        from hydra_spark.exports.parquet import export_parquet

        body = "code,ratio,label\n" + "\n".join(
            f"{i * 3},{i % 7}.5,item_{i % 11}" for i in range(300)
        )
        df = spark.createDataFrame(
            [("https://files.example.com/t.csv", "r0", "d0", bytearray(body.encode()), "tbl0")],
            "url string, resource_id string, dataset_id string, html binary, parsing_table string",
        )
        rows = analyse_csv_batch(df)
        insp = json.loads(rows.where("inspection is not null").first()["inspection"])
        typed = load_parsed_table(spark, rows, insp, "tbl0")
        out = tempfile.mkdtemp(prefix="hydra_pq_") + "/tbl0"
        meta = export_parquet(typed, out, force=True)
        assert meta is not None and meta["rows"] == 300
        back = spark.read.parquet(meta["parquet_url"])
        return back.groupBy("label").agg(
            F.count("*").alias("n"),
            F.sum("code").alias("sum_code"),
            F.round(F.sum("ratio"), 2).alias("sum_ratio"),
        )

    def q_resources_stats(spark, sf):  # A7 over a real frontier
        from hydra_spark.datagen import generate_frontier
        from hydra_spark.stats import resources_stats

        frontier = generate_frontier(spark, _docs_pages(spark, sf))
        return resources_stats(frontier)

    def q_checks_stats(spark, sf):  # A6: ok/error/timeout + per-status %
        from hydra_spark.stats import checks_stats

        d = F.col("doc_id")
        lc = _t(spark, sf, "documents").select(
            d.alias("resource_id"),
            F.when(d % 11 == 0, F.lit(None).cast("int"))
            .when(d % 7 == 0, F.lit(404))
            .when(d % 5 == 0, F.lit(301))
            .otherwise(F.lit(200)).alias("status"),
            (d % 11 == 0).alias("timeout"),
        )
        return checks_stats(lc).withColumn(
            "percentage", F.col("percentage").cast("double")
        )

    def q_xlsx_parse(spark, sf):  # S7: stdlib xlsx decode → typed ingest
        # `seen` is a DATE-STYLED cell (styles.xml numFmt 22): the codec
        # must resolve the style and render str(openpyxl's datetime) —
        # the oracle replays the timestamp grammar, so a serial leaking
        # through as raw digits breaks the hash match
        import datetime as _dt

        from hydra_spark.analysis.ingest import analyse_csv_batch
        from hydra_spark.analysis.xlsx import xlsx_bytes

        payloads = [
            (
                f"https://files.example.com/wb{i}.xlsx", f"r{i}", "d1",
                bytearray(xlsx_bytes(
                    [["code", "label", "ratio", "seen"]]
                    + [[i * 100 + j, f"item_{j}", j + 0.5,
                        _dt.datetime(2020, 1, 1) + _dt.timedelta(days=i, hours=j)]
                       for j in range(1, 5)]
                )),
                f"tbl{i}",
            )
            for i in range(50)
        ]
        df = spark.createDataFrame(
            payloads,
            "url string, resource_id string, dataset_id string, html binary, parsing_table string",
        )
        parsed = analyse_csv_batch(df).where(F.col("row_json").isNotNull())
        return parsed.select(
            "url", "__id",
            F.get_json_object("row_json", "$.code").cast("int").alias("code"),
            F.get_json_object("row_json", "$.label").alias("label"),
            F.get_json_object("row_json", "$.ratio").cast("double").alias("ratio"),
            F.get_json_object("row_json", "$.seen").alias("seen"),
        )

    def q_xls_parse(spark, sf):  # S7: stdlib BIFF8 (.xls) decode → typed ingest
        # same id grammar as xlsx_parse but through the OLE2/BIFF codec
        # (hydra_spark/analysis/xls.py) — the oracle replays the grammar;
        # odd workbooks are BIFF5 (Excel 5.0/95: 'Book' stream, inline
        # codepage strings, no SST), so both codec eras are driver-gated
        from hydra_spark.analysis.ingest import analyse_csv_batch
        from hydra_spark.analysis.xls import xls_bytes

        payloads = [
            (
                f"https://files.example.com/wb{i}.xls", f"r{i}", "d1",
                bytearray(xls_bytes(
                    [["code", "label", "ratio"]]
                    + [[i * 100 + j, f"item_{j}", j + 0.5] for j in range(1, 5)],
                    biff=5 if i % 2 else 8,
                )),
                f"tbl{i}",
            )
            for i in range(50)
        ]
        df = spark.createDataFrame(
            payloads,
            "url string, resource_id string, dataset_id string, html binary, parsing_table string",
        )
        parsed = analyse_csv_batch(df).where(F.col("row_json").isNotNull())
        return parsed.select(
            "url", "__id",
            F.get_json_object("row_json", "$.code").cast("int").alias("code"),
            F.get_json_object("row_json", "$.label").alias("label"),
            F.get_json_object("row_json", "$.ratio").cast("double").alias("ratio"),
        )

    def q_image_meta(spark, sf):  # multimodal header probe over REAL PNG bytes
        # Spark side ENCODES a real PNG per asset (dims a pure function of
        # the id) and parses it back via probe_image_meta — the oracle
        # replays the dimension arithmetic, so a probe bug (not just an
        # encode bug) breaks the match
        from hydra_spark.ml.multimodal import probe_image_meta

        def gen(batches):
            import struct
            import zlib

            import pandas as pd

            for pdf in batches:
                payloads = []
                for aid in pdf["asset_id"]:
                    w, h = 4 + int(aid) % 13, 3 + int(aid) % 7
                    color = [0, 2, 6][int(aid) % 3]  # gray / rgb / rgba
                    nch = {0: 1, 2: 3, 6: 4}[color]
                    raw = b"".join(
                        b"\x00" + bytes(((x + y + int(aid)) % 251 for x in range(w * nch)))
                        for y in range(h)
                    )

                    def chunk(t, d):
                        return struct.pack(">I", len(d)) + t + d + struct.pack(">I", zlib.crc32(t + d))

                    payloads.append(
                        b"\x89PNG\r\n\x1a\n"
                        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0))
                        + chunk(b"IDAT", zlib.compress(raw))
                        + chunk(b"IEND", b"")
                    )
                yield pd.DataFrame({"asset_id": pdf["asset_id"], "payload": payloads})

        assets = spark.range(200).selectExpr("id as asset_id").mapInPandas(
            gen, schema="asset_id long, payload binary"
        )
        return probe_image_meta(assets)

    def q_media_meta(spark, sf):  # audio/video container probes over REAL bytes
        # Spark side ENCODES a real FLAC / MP3 / OGG / MP4 / WebM / AVI /
        # WAV / PNG payload per asset (parameters a pure function of the
        # id — 8 containers) and probes it back via probe_media_meta —
        # the oracle replays the arithmetic, so a probe bug (not just a
        # builder bug) breaks the match
        from hydra_spark.ml.multimodal import probe_media_meta

        def gen(batches):
            import struct
            import zlib

            import pandas as pd

            def flac(rate, ch, bits, total):
                packed = (rate << 44) | ((ch - 1) << 41) | ((bits - 1) << 36) | total
                si = ((4096).to_bytes(2, "big") * 2 + (1024).to_bytes(3, "big") * 2
                      + packed.to_bytes(8, "big") + b"\x00" * 16)
                return b"fLaC" + b"\x80" + (34).to_bytes(3, "big") + si

            def mp3(frames):
                return (b"\xff\xfb\x90\x00" + b"\x00" * 413) * frames

            def ogg_vorbis(rate, ch, nominal):
                pkt = (b"\x01vorbis" + struct.pack("<IB", 0, ch) + struct.pack("<I", rate)
                       + struct.pack("<iii", -1, nominal, -1) + b"\xb8\x01")
                return (b"OggS\x00\x02" + b"\x00" * 8 + b"\x01\x00\x00\x00" + b"\x00" * 8
                        + bytes([1, len(pkt)]) + pkt)

            def mp4(dur_units, w, h):
                def box(t, body):
                    return (8 + len(body)).to_bytes(4, "big") + t + body

                mvhd = box(b"mvhd", b"\x00" * 12 + (600).to_bytes(4, "big")
                           + dur_units.to_bytes(4, "big") + b"\x00" * 80)
                tkhd = box(b"tkhd", b"\x00\x00\x00\x07" + b"\x00" * 72
                           + (w << 16).to_bytes(4, "big") + (h << 16).to_bytes(4, "big"))
                return (box(b"ftyp", b"isom" + b"\x00" * 4 + b"mp42")
                        + box(b"moov", mvhd + box(b"trak", tkhd)))

            def webm(dur_ms, w, h, rate, ch):
                def el(eid, body):
                    return eid + bytes([0x80 | len(body)]) + body

                header = el(b"\x1a\x45\xdf\xa3", el(b"\x42\x82", b"webm"))
                info = el(b"\x15\x49\xa9\x66",
                          el(b"\x2a\xd7\xb1", (1_000_000).to_bytes(3, "big"))
                          + el(b"\x44\x89", struct.pack(">d", float(dur_ms))))
                vtrk = el(b"\xae", el(b"\xe0", el(b"\xb0", w.to_bytes(2, "big"))
                                      + el(b"\xba", h.to_bytes(2, "big"))))
                atrk = el(b"\xae", el(b"\xe1", el(b"\xb5", struct.pack(">f", float(rate)))
                                      + el(b"\x9f", bytes([ch]))))
                tracks = el(b"\x16\x54\xae\x6b", vtrk + atrk)
                return header + el(b"\x18\x53\x80\x67", info + tracks)

            def avi(us_pf, total, w, h):
                avih = struct.pack("<14I", us_pf, 0, 0, 0, total, 0, 1, 0,
                                   w, h, 0, 0, 0, 0)
                inner = b"avih" + struct.pack("<I", len(avih)) + avih
                hdrl = b"LIST" + struct.pack("<I", 4 + len(inner)) + b"hdrl" + inner
                body = b"AVI " + hdrl + b"LIST" + struct.pack("<I", 4) + b"movi"
                return b"RIFF" + struct.pack("<I", len(body)) + body

            def wav(rate, ch, bits, frames):
                fmt = struct.pack("<HHIIHH", 1, ch, rate,
                                  rate * ch * bits // 8, ch * bits // 8, bits)
                body = (b"WAVE" + b"fmt " + struct.pack("<I", 16) + fmt
                        + b"data" + struct.pack("<I", frames * ch * (bits // 8)))
                return b"RIFF" + struct.pack("<I", len(body)) + body

            def png(w, h, color):
                nch = {0: 1, 2: 3, 6: 4}[color]
                raw = b"".join(
                    b"\x00" + bytes(((x + y) % 251 for x in range(w * nch)))
                    for y in range(h)
                )

                def chunk(t, d):
                    return struct.pack(">I", len(d)) + t + d + struct.pack(">I", zlib.crc32(t + d))

                return (b"\x89PNG\r\n\x1a\n"
                        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0))
                        + chunk(b"IDAT", zlib.compress(raw))
                        + chunk(b"IEND", b""))

            for pdf in batches:
                payloads = []
                for aid in pdf["asset_id"]:
                    i, k = int(aid), int(aid) // 8
                    if i % 8 == 0:
                        payloads.append(flac(44100, 1 + k % 2, 16, (k % 10 + 1) * 44100))
                    elif i % 8 == 1:
                        payloads.append(mp3(3 + k % 5))
                    elif i % 8 == 2:
                        payloads.append(ogg_vorbis(32000 + (k % 3) * 8000, 1 + k % 2,
                                                   (64 + (k % 4) * 32) * 1000))
                    elif i % 8 == 3:
                        payloads.append(mp4(600 * (k % 20 + 1),
                                            320 + (k % 8) * 160, 240 + (k % 8) * 120))
                    elif i % 8 == 4:
                        payloads.append(webm((k % 15 + 1) * 500, 426 + (k % 6) * 160,
                                             240 + (k % 6) * 90, 48000, 1 + k % 2))
                    elif i % 8 == 5:
                        payloads.append(avi(33333, (k % 30 + 1) * 25,
                                            320 + (k % 10) * 64, 240 + (k % 10) * 48))
                    elif i % 8 == 6:
                        payloads.append(wav(16000, 1 + k % 2, 16, (k % 20 + 1) * 800))
                    else:
                        payloads.append(png(4 + k % 13, 3 + k % 7, [0, 2, 6][k % 3]))
                yield pd.DataFrame({"asset_id": pdf["asset_id"], "payload": payloads})

        assets = spark.range(250).selectExpr("id as asset_id").mapInPandas(
            gen, schema="asset_id long, payload binary"
        )
        return probe_media_meta(assets)

    def q_tile_assign(spark, sf):  # S14: slippy/Web-Mercator tiling math
        # synthetic points from the documents ids (both sides replay the
        # same arithmetic); offsets keep values off tile boundaries so
        # floor() can't flip on 1-ulp libm differences
        from hydra_spark.exports.pmtiles import assign_tiles

        docs = _t(spark, sf, "documents").select(
            "doc_id",
            (F.col("doc_id") % 171 - 85 + 0.123).cast("double").alias("lat"),
            ((F.col("doc_id") * 7) % 360 - 180 + 0.321).cast("double").alias("lon"),
        )
        out = assign_tiles(docs, {"kind": "latlon_pair", "lat": "lat", "lon": "lon"}, [2, 6])
        return out.select(
            F.get_json_object("props", "$.doc_id").cast("bigint").alias("doc_id"),
            "z", "x", "y", "fx", "fy",
        )

    def q_csv_inspect(spark, sf):  # S6/A9: dialect + header-position detection
        from hydra_spark.analysis.ingest import analyse_csv_batch

        payloads = []
        for i in range(60):
            n_pre = i % 3  # 0-2 preamble lines before the header
            lines = [f"rapport {i} ligne {p}" for p in range(n_pre)]
            lines.append("code,label")
            lines.extend(f"{i * 10 + j},item_{j}" for j in range(1, 4))
            payloads.append(
                (f"https://files.example.com/t{i}.csv", f"r{i}", "d1",
                 bytearray("\n".join(lines).encode()), f"tbl{i}")
            )
        df = spark.createDataFrame(
            payloads,
            "url string, resource_id string, dataset_id string, html binary, parsing_table string",
        )
        parsed = analyse_csv_batch(df).where(F.col("inspection").isNotNull())
        return parsed.select(
            "url",
            F.get_json_object("inspection", "$.header_row_idx").cast("int").alias("header_row_idx"),
            F.get_json_object("inspection", "$.separator").alias("separator"),
            F.get_json_object("inspection", "$.total_lines").cast("int").alias("total_lines"),
        )

    def q_ogc_metadata(spark, sf):  # S17: capabilities extraction
        from hydra_spark.analysis.ogc import inspect_ogc_batch, synthetic_capabilities

        rows = []
        for i in range(30):
            if i % 2 == 0:
                svc, ver = "WFS", ["2.0.0", "1.1.0", "1.0.0"][(i // 2) % 3]
                url = f"http://svc{i}.example.com/wfs?typeName=ns:layer_{i % 4}"
            else:
                svc, ver = "WMS", ["1.3.0", "1.1.1"][(i // 2) % 2]
                url = f"http://svc{i}.example.com/wms"
            xml = synthetic_capabilities(svc, layers=i % 4 + 1, version=ver)
            rows.append((url, f"r{i}", bytearray(xml.encode()), None, None))
        df = spark.createDataFrame(
            rows, "url string, resource_id string, html binary, format string, title string"
        )
        out = inspect_ogc_batch(df)
        return out.select(
            "resource_id",
            F.get_json_object("ogc_metadata", "$.format").alias("format"),
            F.get_json_object("ogc_metadata", "$.version").alias("version"),
            F.get_json_object("ogc_metadata", "$.detected_layer.name").alias("detected_layer"),
            F.size(F.from_json(F.get_json_object("ogc_metadata", "$.layers"), "array<string>"))
            .alias("n_layers"),
        )

    def q_adaptive_recrawl(spark, sf):  # change-rate recrawl scheduling
        from hydra_spark.crawl.next_check import adaptive_recrawl

        # events as the check history: per user, event_type transitions
        # are the "content changed" signal ((user_id, ts) is unique, so
        # the lag order is total)
        return adaptive_recrawl(
            _t(spark, sf, "events"),
            key_col="user_id",
            ts_col="ts",
            value_col="event_type",
        )

    def q_sessionize(spark, sf):  # gap-based event sessionization
        from hydra_spark.stats import sessionize

        return sessionize(_t(spark, sf, "events"))

    def q_queue_depth(spark, sf):  # A10 over a real frontier, all tiers
        from hydra_spark.datagen import generate_frontier
        from hydra_spark.stats import queue_depth

        frontier = generate_frontier(spark, _docs_pages(spark, sf))
        # simulate mixed crawl state deterministically (md5-replayable):
        # a third of resources have been checked; half of those are due
        idx = F.conv(F.substring(F.md5("url"), 1, 15), 16, 10).cast("long")
        frontier = frontier.withColumn(
            "last_check", F.when(idx % 3 == 0, F.lit(1).cast("long"))
        )
        lc = frontier.where(F.col("last_check").isNotNull()).select(
            "resource_id",
            F.when(idx % 2 == 0, F.to_timestamp(F.lit("1998-01-01 00:00:00")))
            .otherwise(F.to_timestamp(F.lit("2999-01-01 00:00:00")))
            .alias("next_check_at"),
        )
        return queue_depth(frontier, lc, NOW)

    def q_all_checks_join(spark, sf):  # J2: all checks per resource, desc
        c = _t(spark, sf, "customer").select("c_custkey", "c_name")
        o = _t(spark, sf, "orders").select(
            F.col("o_custkey").alias("c_custkey"), "o_orderkey", "o_orderdate"
        )
        return c.join(o, "c_custkey").select(
            "c_custkey", "c_name", "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate_s"),
        )

    def q_partitioned_export(spark, sf):  # S11/S15: zstd parquet, path-partitioned
        out = tempfile.mkdtemp(prefix="hydra_export_") + "/customer"
        c = _t(spark, sf, "customer")
        (
            c.select("c_custkey", "c_mktsegment", "c_acctbal")
            .write.mode("overwrite")
            .option("compression", "zstd")
            .partitionBy("c_mktsegment")
            .parquet(out)
        )
        back = spark.read.parquet(out)
        return back.groupBy(F.col("c_mktsegment").alias("segment")).agg(
            F.count("*").alias("count"),
            F.round(F.sum("c_acctbal"), 2).alias("sum_acctbal"),
        )

    def q_repetition_stats(spark, sf):  # webtext: Gopher repetition filters
        from hydra_spark.ml import webtext

        return webtext.repetition_features(_t(spark, sf, "documents"), k=2)

    def q_line_dedup(spark, sf):  # webtext: C4/RefinedWeb corpus-level chunk dedup
        from hydra_spark.ml import webtext

        return webtext.chunk_dedup_corpus(_t(spark, sf, "documents"), k=4, max_doc_freq=1)

    def q_decontaminate(spark, sf):  # webtext: GPT-3-style n-gram decontamination
        from hydra_spark.ml import webtext

        docs = _t(spark, sf, "documents")
        return webtext.decontaminate(
            docs.where("source <> 'src0'"), docs.where("source = 'src0'"), n=4
        )

    def q_decontaminate_spans(spark, sf):  # webtext: GPT-3 appendix-C span excision
        from hydra_spark.ml import webtext

        docs = _t(spark, sf, "documents")
        return webtext.decontaminate_spans(
            docs.where("source <> 'src0'"), docs.where("source = 'src0'"), n=4
        )

    def q_unigram_lm(spark, sf):  # webtext: CCNet-style LM quality proxy
        from hydra_spark.ml import webtext

        # small vocab so the OOV smoothing path is exercised
        return webtext.unigram_lm_score(_t(spark, sf, "documents"), vocab_size=20)

    def q_bigram_lm(spark, sf):  # webtext: interpolated bigram LM
        from hydra_spark.ml import webtext

        # vocab_size 20 < the corpus's 31-word vocabulary, so BOTH
        # truncation and the OOV backoff path are active in the oracle
        return webtext.bigram_lm_score(_t(spark, sf, "documents"), vocab_size=20)

    def q_pmi(spark, sf):  # webtext: collocation mining
        from hydra_spark.ml import webtext

        return webtext.pmi_collocations(
            _t(spark, sf, "documents"), k=20, min_count=5
        )

    def q_stratified_sample(spark, sf):  # webtext: corpus-mixing sampler
        from hydra_spark.ml import webtext

        rates = {f"src{i}": [1.0, 0.5, 0.25, 0.125][i % 4] for i in range(20)}
        return webtext.stratified_sample(
            _t(spark, sf, "documents").select("doc_id", "source"), rates
        )

    def q_exact_sample(spark, sf):  # webtext: fixed-budget sampler
        from hydra_spark.ml import webtext

        return webtext.exact_stratified_sample(
            _t(spark, sf, "documents").select("doc_id", "source"), 10
        )

    def q_domain_mix(spark, sf):  # webtext: temperature-scaled corpus mixing
        from hydra_spark.ml import webtext

        return webtext.domain_mix(
            _t(spark, sf, "documents"), budget_tokens=50_000, alpha=0.7
        )

    def q_redact_pii(spark, sf):  # webtext: anonymization pass
        from hydra_spark.ml import webtext

        d = F.col("doc_id")
        # plant deterministic PII so the redaction paths all execute
        planted = _t(spark, sf, "documents").withColumn(
            "text",
            F.concat(
                "text",
                F.when(d % 5 == 0,
                       F.concat(F.lit(" contact user"), d.cast("string"), F.lit("@example.org"))
                       ).otherwise(F.lit("")),
                F.when(d % 7 == 0,
                       F.concat(F.lit(" from 10.0."), (d % 256).cast("string"), F.lit(".1"))
                       ).otherwise(F.lit("")),
                F.when(d % 11 == 0, F.lit(" tel +33 1 22 33 44 55")).otherwise(F.lit("")),
            ),
        )
        return webtext.redact_pii(planted)

    def q_corpus_token_stats(spark, sf):  # webtext: token accounting
        from hydra_spark.ml import webtext

        return webtext.corpus_token_stats(_t(spark, sf, "documents"))

    def q_robots_rfc(spark, sf):  # RFC 9309 full matching, E2E verdicts
        # every host publishes the same Allow/wildcard file; each URL's
        # verdict is closed-form: %4==0 blocked by the /private/ prefix,
        # %4==1 rescued by the LONGER Allow, %4==2 blocked by the
        # anchored wildcard /*.tmp$, %4==3 saved by the $ anchor
        from hydra_spark.crawl.robots import (
            rfc_rules_from_robots_pages,
            split_robots_rfc,
        )

        d = F.col("doc_id")
        ds = d.cast("string")
        host = F.concat(F.lit("h"), (d % 5).cast("string"), F.lit(".example.com"))
        path = (
            F.when(d % 4 == 0, F.concat(F.lit("/private/file"), ds))
            .when(d % 4 == 1, F.concat(F.lit("/private/open/file"), ds))
            .when(d % 4 == 2, F.concat(F.lit("/cache/"), ds, F.lit(".tmp")))
            .otherwise(F.concat(F.lit("/pub/"), ds, F.lit(".tmp.html")))
        )
        batch = _t(spark, sf, "documents").select(
            F.concat(F.lit("https://"), host, path).alias("url"),
            host.alias("domain"),
        )
        body = (
            "User-agent: *\nDisallow: /private/\n"
            "Allow: /private/open/\nDisallow: /*.tmp$\n"
        )
        pages = (
            batch.select("domain")
            .distinct()
            .select("domain", F.lit(body.encode()).alias("body"))
        )
        allowed, blocked = split_robots_rfc(batch, rfc_rules_from_robots_pages(pages))
        return allowed.withColumn("blocked", F.lit(False)).unionByName(
            blocked.withColumn("blocked", F.lit(True))
        )

    def q_url_templates(spark, sf):  # frontier hygiene: trap templates
        from hydra_spark.crawl.traps import url_templates

        # deterministic URL grammar: a third of each host's docs sit on
        # a static page, the rest on a paginated/session template that
        # must collapse to ONE {N} pattern and trip the trap flag
        d = F.col("doc_id")
        url = F.when(
            d % 3 == 0,
            F.concat(
                F.lit("https://host"), (d % 10).cast("string"),
                F.lit(".example.com/about"),
            ),
        ).otherwise(
            F.concat(
                F.lit("https://host"), (d % 10).cast("string"),
                F.lit(".example.com/page/"), d.cast("string"),
                F.lit("?session="), (d % 7).cast("string"), F.lit("&ref=x"),
            )
        )
        urls = _t(spark, sf, "documents").select(url.alias("url"))
        return url_templates(urls, min_urls=20)

    def q_snapshot_diff(spark, sf):  # cross-snapshot identity diff
        # two synthetic crawls of the same corpus: ids %11==0 appear
        # only in the new one (added), %7==0 only in the old (removed),
        # %5==0 had their old text mutated (changed), rest unchanged
        docs = _t(spark, sf, "documents").select("doc_id", "text")
        old = docs.where("doc_id % 11 != 0").withColumn(
            "text",
            F.when(
                F.col("doc_id") % 5 == 0, F.concat("text", F.lit(" OLD"))
            ).otherwise(F.col("text")),
        )
        new = docs.where("doc_id % 7 != 0")
        return dedup.snapshot_diff(old, new)

    def q_token_topk(spark, sf):  # sketch: Misra-Gries heavy hitters
        # capacity >= every partition's distinct-token count, so the
        # sketch is provably exact and partitioning-independent (the
        # ANN full-coverage trick); production runs bounded capacity
        from hydra_spark.ml import sketch

        return sketch.token_heavy_hitters(
            _t(spark, sf, "documents"), k=20, capacity=4096
        )

    def q_pack_sequences(spark, sf):  # webtext: GPT-style packing accounting
        from hydra_spark.ml import webtext

        return webtext.pack_sequences(_t(spark, sf, "documents"), window=64)

    def q_duplicate_spans(spark, sf):  # webtext: Lee et al. ExactSubstr span excision
        from hydra_spark.ml import webtext

        return webtext.duplicate_spans(_t(spark, sf, "documents"), n=5, min_count=2)

    def q_quality_classifier(spark, sf):  # webtext: GPT-3 appendix-A quality gate
        from hydra_spark.ml import webtext

        docs = _t(spark, sf, "documents")
        # vocab_size below the corpus vocab so the OOV-constant path runs
        return webtext.nb_quality_classifier(docs, docs.where("lang = 'en'"), vocab_size=64)

    def q_perplexity_buckets(spark, sf):  # webtext: CCNet head/middle/tail terciles
        from hydra_spark.ml import webtext

        docs = _t(spark, sf, "documents")
        scored = webtext.unigram_lm_score(docs, vocab_size=20).join(
            docs.select("doc_id", "lang"), "doc_id"
        )
        return webtext.perplexity_buckets(scored)

    def q_leakage_splits(spark, sf):  # webtext: cluster-consistent train/val/test
        from hydra_spark.ml import webtext

        return webtext.leakage_safe_splits(
            _t(spark, sf, "documents"), weights=(0.875, 0.0625, 0.0625)
        )

    def q_gopher_quality(spark, sf):  # webtext: Rae et al. §A1.1 named quality rules
        from hydra_spark.ml import webtext

        return webtext.gopher_quality_flags(_t(spark, sf, "documents"))

    def q_incremental_dedup(spark, sf):  # webtext: cross-snapshot exact dedup
        from hydra_spark.ml.dedup import incremental_dedup, normalized

        docs = _t(spark, sf, "documents")
        prior = docs.where("source = 'src0'").select(
            F.md5(normalized("text")).alias("digest")
        )
        return incremental_dedup(docs.where("source <> 'src0'"), prior)

    def q_unicode_norm(spark, sf):  # NFC + control-strip over planted grammar
        from hydra_spark.ml.text import normalize_text

        d = F.col("doc_id")
        planted = F.concat(
            F.col("text"),
            # explicit escapes: decomposed e+U+0301 / A+U+030A, C0 bell
            F.when(d % 3 == 0, F.lit(" cafe\u0301")).otherwise(F.lit("")),
            F.when(d % 5 == 0, F.lit("\x07bell")).otherwise(F.lit("")),
            F.when(d % 7 == 0, F.lit(" A\u030a")).otherwise(F.lit("")),
        )
        docs = _t(spark, sf, "documents").select("doc_id", planted.alias("text"))
        return normalize_text(docs)

    def q_surt_key(spark, sf):  # CDX url key (SURT), grammar replay
        from hydra_spark.functions.urls import surt_key

        d = F.col("doc_id")
        ds = d.cast("string")
        url = (
            F.when(d % 4 == 0,
                   F.concat(F.lit("https://www.Host"), (d % 20).cast("string"),
                            F.lit(".Example.COM:443/Path/"), ds,
                            F.lit("?b=2&a="), (d % 5).cast("string")))
            .when(d % 4 == 1,
                  F.concat(F.lit("http://sub"), (d % 3).cast("string"),
                           F.lit(".site"), (d % 7).cast("string"),
                           F.lit(".org:8080/x/"), ds))
            .when(d % 4 == 2,
                  F.concat(F.lit("https://host"), (d % 20).cast("string"),
                           F.lit(".example.com/doc/"), ds))
            .otherwise(F.concat(F.lit("relative-no-scheme-"), ds))
        )
        docs = _t(spark, sf, "documents").select("doc_id", url.alias("url"))
        return docs.select("doc_id", "url", surt_key("url").alias("urlkey"))

    def q_sitemap_extract(spark, sf):  # sitemap <loc> harvest, grammar replay
        from hydra_spark.crawl.discover import extract_sitemap_urls

        d = F.col("doc_id")
        ds = d.cast("string")
        site = F.concat(F.lit("https://site"), (d % 7).cast("string"), F.lit(".example.org"))
        xml = F.concat(
            F.lit("<?xml version='1.0'?><urlset><url><loc> "),
            site, F.lit("/page/"), ds, F.lit("?a=1&amp;b="), (d % 3).cast("string"),
            F.lit(" </loc></url><url><loc>"),
            site, F.lit("/page/"), ds, F.lit("#frag"),
            F.lit("</loc></url><url><loc>bogus</loc></url></urlset>"),
        )
        docs = _t(spark, sf, "documents").select(
            F.concat(site, F.lit("/sitemap.xml")).alias("url"),
            F.encode(xml, "UTF-8").alias("xml"),
        )
        return extract_sitemap_urls(docs)

    def q_sitemap_index(spark, sf):  # recursive sitemap walk routing
        from hydra_spark.crawl.discover import extract_sitemap_entries

        d = F.col("doc_id")
        ds = d.cast("string")
        site = F.concat(
            F.lit("https://site"), (d % 7).cast("string"), F.lit(".example.org")
        )
        idx = F.concat(
            F.lit("<sitemapindex><sitemap><loc>"), site, F.lit("/maps/"), ds,
            F.lit("-1.xml</loc></sitemap><sitemap><loc> "), site, F.lit("/maps/"),
            ds, F.lit("-2.xml?a=1&amp;b=2 </loc></sitemap></sitemapindex>"),
        )
        urlset = F.concat(
            F.lit("<urlset><url><loc>"), site, F.lit("/page/"), ds,
            F.lit("</loc></url><url><loc>bogus</loc></url></urlset>"),
        )
        xml = F.when(d % 5 == 0, idx).otherwise(urlset)
        docs = _t(spark, sf, "documents").select(
            F.concat(site, F.lit("/sitemap.xml")).alias("url"),
            F.encode(xml, "UTF-8").alias("xml"),
        )
        return extract_sitemap_entries(docs)

    def q_warc_dedup(spark, sf):  # CC revisit-record payload dedup
        # 50 distinct payloads shared across all docs: the first capture
        # (min url — all dates equal) is the response, the rest revisit
        # records whose WARC-Refers-To resolves back to it; the verdict
        # triple (url, type, canonical url) is closed-form
        import tempfile

        from hydra_spark.analysis.warc import read_warc, write_warc_dedup

        d = F.col("doc_id")
        ds = d.cast("string")
        url = F.concat(
            F.lit("https://host"), (d % 10).cast("string"),
            F.lit(".example.com/doc"), ds, F.lit(".html"),
        )
        payload = F.encode(
            F.concat(F.lit("payload-"), (d % 50).cast("string")), "UTF-8"
        )
        df = _t(spark, sf, "documents").select(
            url.alias("url"),
            F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("warc_ts"),
            payload.alias("html"),
        )
        out = tempfile.mkdtemp(prefix="hydra_warc_dedup_")
        write_warc_dedup(df, out).collect()
        recs = read_warc(spark, out).select(
            "target_uri", "warc_type", "record_id", "refers_to"
        )
        resp = recs.where("warc_type = 'response'").select(
            F.col("record_id").alias("_rid"), F.col("target_uri").alias("canon_url")
        )
        return (
            recs.select(
                "target_uri",
                F.col("warc_type").alias("wtype"),
                F.coalesce("refers_to", "record_id").alias("_ref"),
            )
            .join(resp, F.col("_ref") == F.col("_rid"))
            .select(F.col("target_uri").alias("url"), "wtype", "canon_url")
        )

    def q_warc_parse(spark, sf):  # WARC segment build + parse roundtrip
        from hydra_spark.analysis import warc as W

        docs = _t(spark, sf, "documents").select("doc_id", "text")

        def seg(batches):
            from datetime import datetime, timedelta

            import pandas as pd

            for pdf in batches:
                recs = []
                for did, text in zip(pdf["doc_id"], pdf["text"]):
                    url = f"https://host{did % 20}.example.com/doc/{did}"
                    dt = datetime(2025, 1, 1) + timedelta(seconds=int(did * 97 % 864000))
                    payload = (
                        b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
                        + str(text).encode("utf-8")
                    )
                    recs.append(
                        W.build_warc_record(
                            "response", url, dt.strftime("%Y-%m-%dT%H:%M:%SZ"), payload
                        )
                    )
                yield pd.DataFrame({"content": [W.build_warc(recs)]})

        segs = docs.mapInPandas(seg, "content binary")
        rec = W.warc_records(segs)
        return rec.select(
            "target_uri", "warc_type", "warc_date", "content_length", "http_status",
            F.md5(F.col("body")).alias("body_md5"),
            F.length(F.col("body")).cast("long").alias("body_len"),
        )

    def q_wat_extract(spark, sf):  # WAT metadata product: envelope build + JVM parse
        from hydra_spark.analysis import warc as W

        docs = _t(spark, sf, "documents").select("doc_id")

        def seg(batches):
            from datetime import datetime, timedelta

            import pandas as pd

            for pdf in batches:
                recs = []
                for did in pdf["doc_id"]:
                    did = int(did)
                    url = f"https://host{did % 20}.example.com/doc/{did}"
                    dt = datetime(2025, 1, 1) + timedelta(seconds=did * 97 % 864000)
                    date = dt.strftime("%Y-%m-%dT%H:%M:%SZ")
                    title = "" if did % 11 == 0 else f"<title> Doc   {did} </title>"
                    html = (
                        f"<html><head>{title}</head><body>"
                        f'<a href="https://ext{did % 5}.example.org/p/{did}">x</a>'
                        f'<a href="/rel/{did}.html">y</a></body></html>'
                    ).encode()
                    recs.append(
                        W.build_warc_record(
                            "metadata", url, date, W.wat_envelope(url, date, html),
                            content_type="application/json",
                        )
                    )
                yield pd.DataFrame({"content": [W.build_warc(recs)]})

        segs = docs.mapInPandas(seg, "content binary")
        meta = W.wat_metadata(W.warc_records(segs))
        return meta.select("target_uri", "title", F.explode("links").alias("link"))

    def q_host_rank(spark, sf):  # link-graph: damped power-iteration host rank
        from hydra_spark.crawl.graph import host_rank

        d = F.col("doc_id")
        docs = _t(spark, sf, "documents")
        e1 = docs.select(
            F.concat(F.lit("h"), (d % 11).cast("string")).alias("src_host"),
            F.concat(F.lit("h"), (d % 7).cast("string")).alias("dst_host"),
        )
        e2 = docs.where(d % 5 == 0).select(
            F.concat(F.lit("h"), (d % 11).cast("string")).alias("src_host"),
            F.lit("sink").alias("dst_host"),
        )
        edges = e1.union(e2).where(F.col("src_host") != F.col("dst_host"))
        return host_rank(edges, iterations=2)

    def q_anchor_extract(spark, sf):  # link-graph: anchor-text relevance signal
        from hydra_spark.crawl.graph import anchor_texts

        d = F.col("doc_id")
        ds = d.cast("string")
        base = F.concat(
            F.lit("https://host"), (d % 20).cast("string"),
            F.lit(".example.com/doc/"), ds,
        )
        html = F.concat(
            F.lit('<html><body><a href="https://ext'), (d % 5).cast("string"),
            F.lit(".example.org/p/"), ds, F.lit('" class="x"> Click   '), ds,
            F.lit(' </a><a href="/rel/'), ds, F.lit('">rel '), ds,
            F.lit('</a><a name="n">no href</a></body></html>'),
        )
        docs = _t(spark, sf, "documents").select(
            base.alias("url"), F.encode(html, "UTF-8").alias("html")
        )
        return anchor_texts(docs)

    def q_anchor_score(spark, sf):  # focused-crawl frontier priority
        # same anchor grammar as anchor_extract; every doc contributes
        # one 'Click …' anchor (kw hit 0.5) to an ext host and one
        # 'rel …' anchor (0.25) to a relative link; ext hosts carry a
        # closed-form rank (k/10) blended into the priority
        from hydra_spark.crawl.graph import anchor_texts, score_frontier_by_anchors

        d = F.col("doc_id")
        ds = d.cast("string")
        base = F.concat(
            F.lit("https://host"), (d % 20).cast("string"),
            F.lit(".example.com/doc/"), ds,
        )
        html = F.concat(
            F.lit('<html><body><a href="https://ext'), (d % 5).cast("string"),
            F.lit(".example.org/p/"), ds, F.lit('" class="x"> Click   '), ds,
            F.lit(' </a><a href="/rel/'), ds, F.lit('">rel '), ds,
            F.lit("</a></body></html>"),
        )
        docs = _t(spark, sf, "documents").select(
            base.alias("url"), F.encode(html, "UTF-8").alias("html")
        )
        ranks = spark.range(5).select(
            F.concat(F.lit("ext"), F.col("id").cast("string"), F.lit(".example.org")).alias("host"),
            (F.col("id") / F.lit(10.0)).alias("rank"),
        )
        return score_frontier_by_anchors(
            anchor_texts(docs), {"click": 0.5, "rel": 0.25}, ranks=ranks
        )

    def q_link_extract(spark, sf):  # §2.4 growth: href extraction + resolution
        from hydra_spark.crawl.discover import extract_links

        d = F.col("doc_id")
        ds = d.cast("string")
        base = F.concat(
            F.lit("https://host"), (d % 20).cast("string"), F.lit(".example.com/dir"),
            (d % 3).cast("string"), F.lit("/doc"), ds, F.lit(".html"),
        )
        html = F.concat(
            F.lit('<html><body><a href="https://ext'), (d % 5).cast("string"),
            F.lit(".example.org/page/"), ds, F.lit('">x</a>'),
            F.lit('<a href="/rel/'), ds, F.lit('">x</a>'),
            F.lit('<a href="//cdn'), (d % 3).cast("string"),
            F.lit(".example.net/a/"), ds, F.lit('">x</a>'),
            F.lit('<a href="sub/'), ds, F.lit('">x</a>'),
            F.lit('<a href="#frag">x</a><a href="mailto:u'), ds,
            F.lit('@example.org">x</a></body></html>'),
        )
        docs = _t(spark, sf, "documents").select(
            base.alias("url"), F.encode(html, "UTF-8").alias("html")
        )
        return extract_links(docs)

    def q_c4_quality(spark, sf):  # webtext: Raffel et al. §2.2 line+page rules
        from hydra_spark.ml import webtext

        d = F.col("doc_id")
        planted = F.concat(
            F.col("text"),
            F.when(d % 3 == 0,
                   F.lit("\nthis short line has javascript in it.")).otherwise(F.lit("")),
            F.when(d % 4 == 0,
                   F.lit("\na good line with plenty of words ends properly.")).otherwise(F.lit("")),
            F.when(d % 5 == 0,
                   F.lit("\nno terminal punctuation here at all")).otherwise(F.lit("")),
            F.when(d % 7 == 0,
                   F.lit("\nlorem ipsum dolor sit amet.")).otherwise(F.lit("")),
            F.when(d % 11 == 0,
                   F.lit("\nfunction() { return 1; }")).otherwise(F.lit("")),
        )
        docs = _t(spark, sf, "documents").select("doc_id", planted.alias("text"))
        return webtext.c4_quality_flags(docs)

    def q_url_filter(spark, sf):  # RefinedWeb-style URL gate (blocklist + keywords)
        from hydra_spark.ml.urlfilter import url_quality_filter

        d = F.col("doc_id")
        url = (
            F.when(d % 5 == 0,
                   F.concat(F.lit("https://ads.tracker"), (d % 7).cast("string"),
                            F.lit(".com/banner/"), d.cast("string")))
            .when(d % 5 == 1,
                  F.concat(F.lit("https://cdn.media"), (d % 9).cast("string"),
                           F.lit(".example.org/asset/"), d.cast("string")))
            .when(d % 5 == 2,
                  F.concat(F.lit("https://host"), (d % 20).cast("string"),
                           F.lit(".example.com/casino-bonus/"), d.cast("string")))
            .when(d % 5 == 3,
                  F.concat(F.lit("https://blog.example.net/post/"), d.cast("string"),
                           F.lit("?download=free")))
            .otherwise(F.concat(F.lit("https://host"), (d % 20).cast("string"),
                                F.lit(".example.com/doc/"), d.cast("string")))
        )
        docs = _t(spark, sf, "documents").select("doc_id", url.alias("url"))
        blocklist = [f"tracker{k}.com" for k in range(4)] + ["blog.example.net"]
        weights = {"casino": 1.0, "bonus": 0.5, "download": 0.4, "free": 0.4}
        out = url_quality_filter(docs, blocklist, keyword_weights=weights)
        return out.select("doc_id", "url", "host", "domain_blocked", "url_score", "keep")

    def q_html_extract(spark, sf):  # full-page HTML -> text, id-grammar replay
        from hydra_spark.analysis.extract import html_to_text
        from hydra_spark.datagen import rich_html_page

        docs = _t(spark, sf, "documents").select("doc_id")
        html, _ = rich_html_page(F.col("doc_id"))
        pages = docs.select("doc_id", F.encode(html, "UTF-8").alias("html"))
        out = pages.select("doc_id", html_to_text("html").alias("text"))
        return out.select("doc_id", "text", F.length("text").alias("n_chars"))

    def q_claim_cap(spark, sf):  # §2.4: per-domain in-round politeness cap
        # the claimed SET under the cap depends on the xxhash64 seeded
        # order (not md5-replayable), but the per-domain claim COUNT is
        # exactly least(eligible, backoff_nb_req) on the reference-exact
        # claim path — which is what politeness promises
        from hydra_spark.config import DEFAULT
        from hydra_spark.crawl.select_batch import select_batch
        from hydra_spark.datagen import generate_frontier

        frontier = generate_frontier(spark, _docs_pages(spark, sf))
        batch = select_batch(
            frontier, None, DEFAULT.with_(batch_size=10_000), 1, NOW
        )
        return batch.groupBy("domain").agg(F.count("*").alias("n_claimed"))

    def q_soft404(spark, sf):  # crawl quality: 200-with-error-body detection
        from hydra_spark.crawl.soft404 import detect_soft404

        d = F.col("doc_id")
        text = (
            F.when(d % 7 == 1, F.lit("Error 404: the page was not found."))
            .when(d % 11 == 3, F.lit("ok"))
            .otherwise(F.col("text"))
        )
        status = F.when(d % 13 == 5, F.lit(404)).otherwise(F.lit(200))
        pages = _t(spark, sf, "documents").select(
            F.concat(F.lit("https://host"), (d % 20).cast("string"),
                     F.lit(".example.com/doc/"), d.cast("string")).alias("url"),
            text.alias("text"), status.alias("status"),
        )
        return detect_soft404(pages).select("url", "status", "reason", "is_soft404")

    def q_conditional_fetch(spark, sf):  # RFC 9110 §13.1 revalidation savings
        from hydra_spark.crawl.revalidate import revalidation_stats

        d = F.col("doc_id")
        ds = d.cast("string")
        domain = F.concat(F.lit("host"), (d % 20).cast("string"), F.lit(".example.com"))
        rid = F.concat(F.lit("r"), ds)
        changed = d % 5 == 0
        etag1 = F.concat(F.lit('"e'), ds, F.lit('"'))
        etag2 = F.when(changed, F.concat(F.lit('"e'), ds, F.lit('x"'))).otherwise(etag1)
        lm1 = F.lit("Mon, 01 Jan 2024 00:00:00 GMT")
        lm2 = F.when(changed, F.lit("Tue, 02 Jan 2024 00:00:00 GMT")).otherwise(lm1)

        def hdrs(etag, lm):
            # validator class: d%3==0 → ETag only; ==1 → Last-Modified
            # only; ==2 → no validator
            return (
                F.when(d % 3 == 0, F.create_map(F.lit("etag"), etag))
                .when(d % 3 == 1, F.create_map(F.lit("last-modified"), lm))
                .otherwise(F.create_map().cast("map<string,string>"))
            )

        # fan=False: revalidation_stats is window-bound (resource_id
        # exchange redistributes anyway); pre-spreading measured 1.4x
        # slower at bench scale
        docs = _t(spark, sf, "documents", fan=False)
        c1 = docs.select(
            (d * 2).alias("id"), rid.alias("resource_id"), domain.alias("domain"),
            F.to_timestamp(F.lit("2025-01-01 00:00:00")).alias("created_at"),
            hdrs(etag1, lm1).alias("headers"),
            (F.lit(1000) + d % 5000).alias("filesize"),
        )
        c2 = docs.select(
            (d * 2 + 1).alias("id"), rid.alias("resource_id"), domain.alias("domain"),
            F.to_timestamp(F.lit("2025-01-02 00:00:00")).alias("created_at"),
            hdrs(etag2, lm2).alias("headers"),
            (F.lit(1000) + (d * 7) % 5000).alias("filesize"),
        )
        return revalidation_stats(c1.unionByName(c2))

    def q_link_stats(spark, sf):  # per-host outlink profile over extract_links
        from hydra_spark.crawl.discover import extract_links
        from hydra_spark.crawl.graph import host_link_stats

        d = F.col("doc_id")
        ds = d.cast("string")
        base = F.concat(
            F.lit("https://host"), (d % 20).cast("string"), F.lit(".example.com/dir"),
            (d % 3).cast("string"), F.lit("/doc"), ds, F.lit(".html"),
        )
        html = F.concat(
            F.lit('<html><body><a href="https://ext'), (d % 5).cast("string"),
            F.lit(".example.org/page/"), ds, F.lit('">x</a>'),
            F.lit('<a href="/rel/'), ds, F.lit('">x</a>'),
            F.lit('<a href="//cdn'), (d % 3).cast("string"),
            F.lit(".example.net/a/"), ds, F.lit('">x</a>'),
            F.lit('<a href="sub/'), ds, F.lit('">x</a></body></html>'),
        )
        docs = _t(spark, sf, "documents").select(
            base.alias("url"), F.encode(html, "UTF-8").alias("html")
        )
        return host_link_stats(extract_links(docs))

    def q_mirror_detect(spark, sf):  # cross-host mirror sets by content digest
        from hydra_spark.ml.dedup import mirror_sets

        d = F.col("doc_id")
        # groups of 3 consecutive ids share a body (mirrored across the
        # 3 distinct d%20 hosts) EXCEPT ids with d%9<3, which stay
        # unique — those groups must be filtered by min_hosts=2
        base = F.when(d % 9 < 3, d).otherwise(d - d % 3)
        # fan=False: mirror_sets is one digest-keyed aggregate whose
        # exchange redistributes anyway (see mirror_sets docstring)
        pages = _t(spark, sf, "documents", fan=False).select(
            F.concat(F.lit("https://host"), (d % 20).cast("string"),
                     F.lit(".example.com/doc/"), d.cast("string")).alias("url"),
            F.concat(F.lit("content-"), base.cast("string")).alias("text"),
        )
        return mirror_sets(pages)

    return {
        "latest_check": q_latest_check,
        "last_two_change": q_last_two_change,
        "backoff_rate_window": q_backoff_rate_window,
        "next_check_ladder": q_next_check_ladder,
        "status_counts": q_status_counts,
        "checks_aggregate_topk": q_checks_aggregate_topk,
        "crawler_status_sums": q_crawler_status_sums,
        "percent_of_total": q_percent_of_total,
        "excluded_filter": q_excluded_filter,
        "tier_selection": q_tier_selection,
        "canonicalize": q_canonicalize,
        "md5_naming": q_md5_naming,
        "content_type": q_content_type,
        "json_header_access": q_json_header_access,
        "stuck_semi_join": q_stuck_semi_join,
        "orphan_purge": q_orphan_purge,
        "upsert_latest": q_upsert_latest,
        "profile": q_profile,
        "exact_dedup": q_exact_dedup,
        "token_quality": q_token_quality,
        "langid": q_langid,
        "cosine_topk": q_cosine_topk,
        "geojson_coords": q_geojson_coords,
        "cors_classification": q_cors_classification,
        "resources_stats": q_resources_stats,
        "checks_stats": q_checks_stats,
        "catalog_upsert": q_catalog_upsert,
        "parquet_export_roundtrip": q_parquet_export_roundtrip,
        "xlsx_parse": q_xlsx_parse,
        "xls_parse": q_xls_parse,
        "image_meta": q_image_meta,
        "media_meta": q_media_meta,
        "tile_assign": q_tile_assign,
        "csv_inspect": q_csv_inspect,
        "ogc_metadata": q_ogc_metadata,
        "queue_depth": q_queue_depth,
        "sessionize": q_sessionize,
        "adaptive_recrawl": q_adaptive_recrawl,
        "all_checks_join": q_all_checks_join,
        "partitioned_export": q_partitioned_export,
        "fingerprint": q_fingerprint,
        "minhash_pairs": q_minhash_pairs,
        "simhash": q_simhash,
        "ann_topk": q_ann_topk,
        "ivf_topk": q_ivf_topk,
        "ivf_indexed": q_ivf_indexed,
        "ivf_append": q_ivf_append,
        "embedding_near_dups": q_embedding_near_dups,
        "dedup_components": q_dedup_components,
        "keep_best": q_keep_best,
        "corpus_curation": q_corpus_curation,
        "jaccard_verify": q_jaccard_verify,
        "bloom_seen": q_bloom_seen,
        "crawl_round": q_crawl_round,
        "multimodal_features": q_multimodal_features,
        "repetition_stats": q_repetition_stats,
        "line_dedup": q_line_dedup,
        "decontaminate": q_decontaminate,
        "decontaminate_spans": q_decontaminate_spans,
        "unigram_lm": q_unigram_lm,
        "bigram_lm": q_bigram_lm,
        "pmi": q_pmi,
        "stratified_sample": q_stratified_sample,
        "exact_sample": q_exact_sample,
        "domain_mix": q_domain_mix,
        "redact_pii": q_redact_pii,
        "corpus_token_stats": q_corpus_token_stats,
        "token_topk": q_token_topk,
        "snapshot_diff": q_snapshot_diff,
        "url_templates": q_url_templates,
        "robots_rfc": q_robots_rfc,
        "pack_sequences": q_pack_sequences,
        "duplicate_spans": q_duplicate_spans,
        "quality_classifier": q_quality_classifier,
        "perplexity_buckets": q_perplexity_buckets,
        "leakage_splits": q_leakage_splits,
        "gopher_quality": q_gopher_quality,
        "incremental_dedup": q_incremental_dedup,
        "html_extract": q_html_extract,
        "url_filter": q_url_filter,
        "c4_quality": q_c4_quality,
        "link_extract": q_link_extract,
        "sitemap_extract": q_sitemap_extract,
        "sitemap_index": q_sitemap_index,
        "warc_dedup": q_warc_dedup,
        "warc_parse": q_warc_parse,
        "wat_extract": q_wat_extract,
        "host_rank": q_host_rank,
        "anchor_extract": q_anchor_extract,
        "anchor_score": q_anchor_score,
        "surt_key": q_surt_key,
        "unicode_norm": q_unicode_norm,
        "claim_cap": q_claim_cap,
        "soft404": q_soft404,
        "conditional_fetch": q_conditional_fetch,
        "link_stats": q_link_stats,
        "mirror_detect": q_mirror_detect,
    }


def oracle_sql() -> dict[str, str]:
    stop_en = _STOP_EN.replace("'", "''") if "'" in _STOP_EN else _STOP_EN
    stop_fr = _STOP_FR
    # word 3-gram shingles, twin of hydra_spark.ml.text.shingles
    shingle_cte = r"""
        SELECT doc_id,
               CASE WHEN len(words) <= 2 THEN [array_to_string(words, ' ')]
                    ELSE [array_to_string(words[i:i+2], ' ') for i in range(1, len(words)-1)]
               END AS shingles
        FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS words
              FROM documents)
    """
    # exact top-k by cosine — the oracle for BOTH brute force and the
    # full-coverage ANN/IVF configurations (which provably equal it)
    brute_force_topk = """
            SELECT query_id, neighbor_id, CAST(round(cosine, 4) AS DOUBLE) AS cosine, rank
            FROM (
              SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                     list_cosine_similarity(CAST(c.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])) AS cosine,
                     row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY list_cosine_similarity(CAST(c.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])) DESC,
                                c.vec_id) AS rank
              FROM embeddings c CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 3) q)
            WHERE rank <= 5
    """
    # 60-bit integer from the first 15 hex nibbles of md5(url) — twin of
    # datagen.generate_frontier's conv(substring(md5(url),1,15),16,10)
    md5_idx = (
        "list_sum([(strpos('0123456789abcdef', substring(md5(url), i, 1))-1)::BIGINT "
        "<< (4*(15-i)) for i in range(1,16)])"
    )
    crawl_urls = (
        "SELECT doc_id, text, 'https://host' || CAST(doc_id % 20 AS VARCHAR) || "
        "'.example.com/doc/' || CAST(doc_id AS VARCHAR) AS url FROM documents"
    )
    return {
        "latest_check": f"""
            SELECT user_id, event_id AS latest_event_id,
                   strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s, event_type
            FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn
                  FROM events) WHERE rn = 1
        """,
        "last_two_change": """
            SELECT user_id,
                   round(value, 6) AS cur_value,
                   round(prev_value, 6) AS prev_value,
                   (prev_value IS NOT NULL AND value <> prev_value) AS changed
            FROM (SELECT user_id, value,
                         lead(value) OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS prev_value,
                         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
                  FROM events) WHERE rn = 1
        """,
        "backoff_rate_window": """
            SELECT 'host' || CAST(user_id % 20 AS VARCHAR) AS domain,
                   count(*) AS nb_req,
                   count(*) >= 50 AS backoff
            FROM events
            WHERE ts >= (SELECT max(ts) FROM events) - INTERVAL 7 DAY
            GROUP BY 1
        """,
        "next_check_ladder": f"""
            SELECT o_orderkey,
                   CAST(delay AS INT) AS delay_hours,
                   strftime(TIMESTAMP '{NOW}' + delay * INTERVAL 1 HOUR, '%Y-%m-%d %H:%M:%S') AS next_check_s
            FROM (
              SELECT o_orderkey,
                     CASE WHEN since_h <= 12 THEN 12 WHEN since_h <= 24 THEN 24
                          WHEN since_h <= 168 THEN 168 ELSE 720 END AS delay
              FROM (SELECT o_orderkey,
                           (epoch(TIMESTAMP '{NOW}') - epoch(o_orderdate)) / 3600.0 AS since_h
                    FROM orders))
        """,
        "status_counts": """
            SELECT o_orderstatus AS status, count(*) AS count FROM orders GROUP BY 1
        """,
        "checks_aggregate_topk": """
            SELECT event_type AS value, count(*) AS count
            FROM events GROUP BY 1 ORDER BY count DESC, value LIMIT 20
        """,
        "crawler_status_sums": """
            SELECT count(*) AS total,
                   CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS open_orders,
                   CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS finished,
                   CAST(sum(CASE WHEN o_orderdate <= TIMESTAMP '1995-06-01 00:00:00' THEN 1 ELSE 0 END) AS BIGINT) AS due
            FROM orders
        """,
        "percent_of_total": """
            SELECT c_mktsegment AS segment, count(*) AS count,
                   CAST(round(count(*) * 100.0 / sum(count(*)) OVER (), 2) AS DOUBLE) AS percentage
            FROM customer GROUP BY 1
        """,
        "excluded_filter": f"""
            SELECT doc_id, url FROM (SELECT doc_id, {_DOC_URL_SQL} AS url FROM documents)
            WHERE url NOT LIKE 'http%geo.data.gouv.fr%' AND url NOT LIKE '%?format=shp%'
        """,
        "tier_selection": f"""
            SELECT doc_id, tier, url FROM (
              SELECT doc_id, url,
                     CASE WHEN doc_id % 97 = 0 THEN 0 WHEN doc_id % 5 = 0 THEN 1
                          WHEN doc_id % 3 = 0 THEN 2 END AS tier,
                     md5(CAST(doc_id AS VARCHAR)) AS rnd
              FROM (SELECT doc_id, {_DOC_URL_SQL} AS url FROM documents))
            WHERE tier IS NOT NULL ORDER BY tier, rnd LIMIT 40
        """,
        "canonicalize": """
            SELECT doc_id, canonical,
                   regexp_extract(canonical, '^[a-z][a-z0-9+.\\-]*://([^/:?]+)', 1) AS domain
            FROM (
              SELECT doc_id,
                     lower(regexp_extract(nofrag, '^([a-zA-Z][a-zA-Z0-9+.\\-]*)://', 1)) || '://' ||
                     CASE
                       WHEN lower(regexp_extract(nofrag, '^([a-zA-Z][a-zA-Z0-9+.\\-]*)://', 1)) = 'http'
                         THEN regexp_replace(lower(regexp_extract(rest, '^([^/?]+)', 1)), ':80$', '')
                       WHEN lower(regexp_extract(nofrag, '^([a-zA-Z][a-zA-Z0-9+.\\-]*)://', 1)) = 'https'
                         THEN regexp_replace(lower(regexp_extract(rest, '^([^/?]+)', 1)), ':443$', '')
                       ELSE lower(regexp_extract(rest, '^([^/?]+)', 1))
                     END ||
                     CASE WHEN regexp_replace(rest, '^[^/?]+', '') = '' THEN '/'
                          ELSE regexp_replace(rest, '^[^/?]+', '') END AS canonical
              FROM (
                SELECT doc_id, nofrag,
                       regexp_replace(nofrag, '^[a-zA-Z][a-zA-Z0-9+.\\-]*://', '') AS rest
                FROM (
                  SELECT doc_id, regexp_replace(messy, '#.*$', '') AS nofrag
                  FROM (
                    SELECT doc_id,
                      CASE WHEN doc_id % 3 = 0 THEN 'HTTPS://Host' || CAST(doc_id % 20 AS VARCHAR) || '.Example.COM:443/p/' || CAST(doc_id AS VARCHAR)
                           WHEN doc_id % 3 = 1 THEN 'http://host' || CAST(doc_id % 20 AS VARCHAR) || '.example.com:80/q?id=' || CAST(doc_id AS VARCHAR)
                           ELSE 'https://host' || CAST(doc_id % 20 AS VARCHAR) || '.example.com/r/' || CAST(doc_id AS VARCHAR) || '#frag'
                      END AS messy
                    FROM documents))))
        """,
        "md5_naming": f"""
            SELECT doc_id, md5(url) AS parsing_table
            FROM (SELECT doc_id, {_DOC_URL_SQL} AS url FROM documents)
        """,
        "content_type": """
            SELECT p_partkey,
                   trim(split_part('text/' || lower(p_brand) || '; charset=utf-8', ';', 1)) AS content_type
            FROM part
        """,
        "json_header_access": """
            SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k_val FROM events
        """,
        "stuck_semi_join": """
            SELECT o_orderkey, o_orderstatus FROM orders
            WHERE o_orderkey NOT IN (SELECT l_orderkey FROM lineitem)
        """,
        "orphan_purge": """
            SELECT p_partkey, p_name FROM part
            WHERE p_partkey NOT IN (SELECT l_partkey FROM lineitem)
        """,
        "upsert_latest": """
            SELECT o_custkey, o_orderkey AS latest_orderkey,
                   strftime(o_orderdate, '%Y-%m-%d') AS orderdate_s
            FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) rn
                  FROM orders) WHERE rn = 1
        """,
        "profile": """
            SELECT l_returnflag,
                   CAST(round(min(l_quantity), 4) AS DOUBLE) AS min_qty,
                   CAST(round(max(l_quantity), 4) AS DOUBLE) AS max_qty,
                   CAST(round(avg(l_quantity), 4) AS DOUBLE) AS mean_qty,
                   CAST(round(stddev(l_quantity), 4) AS DOUBLE) AS std_qty,
                   count(*) AS n
            FROM lineitem GROUP BY 1
        """,
        "exact_dedup": """
            SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS content_hash,
                   count(*) AS n_dups, min(doc_id) AS canonical_id
            FROM documents GROUP BY 1
        """,
        "token_quality": r"""
            SELECT doc_id,
                   length(text) AS n_chars,
                   CASE WHEN trim(text) = '' THEN 0
                        ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
                   len(regexp_extract_all(text, '\w+|[^\w\s]')) AS n_bpe_tokens,
                   CAST(round(len(regexp_extract_all(text, '[0-9]')) /
                        CAST(greatest(length(text), 1) AS DOUBLE), 6) AS DOUBLE) AS digit_ratio,
                   CAST(round(len(regexp_extract_all(text, '[^\w\s]')) /
                        CAST(greatest(length(text), 1) AS DOUBLE), 6) AS DOUBLE) AS punct_ratio
            FROM documents
        """,
        "langid": f"""
            SELECT doc_id, en_hits, fr_hits,
                   CASE WHEN en_hits + fr_hits = 0 THEN 'unknown'
                        WHEN en_hits > fr_hits THEN 'en'
                        WHEN fr_hits > en_hits THEN 'fr'
                        ELSE 'unknown' END AS lang_detected
            FROM (SELECT doc_id,
                         len(regexp_extract_all(text, '{_STOP_EN}')) AS en_hits,
                         len(regexp_extract_all(text, '{_STOP_FR}')) AS fr_hits
                  FROM documents)
        """,
        "cosine_topk": brute_force_topk,
        "ann_topk": brute_force_topk,
        "ivf_topk": brute_force_topk,
        "ivf_indexed": brute_force_topk,
        "ivf_append": brute_force_topk,
        "geojson_coords": """
            SELECT c_custkey,
                   CAST(((c_nationkey * 7) % 180) AS DOUBLE) AS lon,
                   CAST((c_custkey % 90) AS DOUBLE) AS lat
            FROM customer
        """,
        "cors_classification": """
            SELECT cls, count(*) AS count,
                   CAST(round(count(*) * 100.0 / sum(count(*)) OVER (), 2) AS DOUBLE) AS percentage
            FROM (SELECT user_id,
                         CASE WHEN max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) = 1
                              THEN 'clicker' ELSE 'lurker' END AS cls
                  FROM events GROUP BY user_id)
            GROUP BY cls
        """,
        "resources_stats": f"""
            SELECT count(*) AS total,
                   CAST(sum(CASE WHEN idx % 499 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS deleted,
                   CAST(sum(CASE WHEN idx % 97 = 0 AND idx % 499 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS priority
            FROM (SELECT {md5_idx} AS idx FROM ({crawl_urls}))
        """,
        "checks_stats": """
            SELECT category, status, count(*) AS count,
                   CAST(round(count(*) * 100.0 / sum(count(*)) OVER (), 2) AS DOUBLE) AS percentage
            FROM (
              SELECT CASE WHEN doc_id % 11 = 0 THEN 'timeout'
                          WHEN doc_id % 7 = 0 THEN 'error'
                          ELSE 'ok' END AS category,
                     CASE WHEN doc_id % 11 = 0 THEN NULL
                          WHEN doc_id % 7 = 0 THEN 404
                          WHEN doc_id % 5 = 0 THEN 301
                          ELSE 200 END AS status
              FROM documents)
            GROUP BY 1, 2 ORDER BY count DESC, status
        """,
        "catalog_upsert": """
            SELECT 'rid-' || lpad(CAST(i AS VARCHAR), 5, '0') AS resource_id,
                   'https://cat' || CAST(i % 9 AS VARCHAR) || '.example.com/res/' || CAST(i AS VARCHAR) AS url,
                   i < 50 AS deleted,
                   'res ' || CAST(i AS VARCHAR) || CASE WHEN i >= 50 THEN ' v2' ELSE '' END AS title
            FROM range(200) t(i) WHERE i % 10 <> 0
        """,
        "parquet_export_roundtrip": """
            SELECT 'item_' || CAST(i % 11 AS VARCHAR) AS label,
                   count(*) AS n,
                   CAST(sum(i * 3) AS BIGINT) AS sum_code,
                   CAST(round(sum(i % 7 + 0.5), 2) AS DOUBLE) AS sum_ratio
            FROM range(300) t(i) GROUP BY 1
        """,
        "xlsx_parse": """
            SELECT 'https://files.example.com/wb' || CAST(i AS VARCHAR) || '.xlsx' AS url,
                   j AS __id,
                   CAST(i * 100 + j AS INT) AS code,
                   'item_' || CAST(j AS VARCHAR) AS label,
                   CAST(j + 0.5 AS DOUBLE) AS ratio,
                   CAST(TIMESTAMP '2020-01-01 00:00:00'
                        + INTERVAL (i) DAY + INTERVAL (j) HOUR AS VARCHAR) AS seen
            FROM range(50) t(i), range(1, 5) u(j)
        """,
        "xls_parse": """
            SELECT 'https://files.example.com/wb' || CAST(i AS VARCHAR) || '.xls' AS url,
                   j AS __id,
                   CAST(i * 100 + j AS INT) AS code,
                   'item_' || CAST(j AS VARCHAR) AS label,
                   CAST(j + 0.5 AS DOUBLE) AS ratio
            FROM range(50) t(i), range(1, 5) u(j)
        """,
        "tile_assign": """
            WITH pts AS (
              SELECT doc_id,
                     CAST(doc_id % 171 - 85 + 0.123 AS DOUBLE) AS lat,
                     CAST((doc_id * 7) % 360 - 180 + 0.321 AS DOUBLE) AS lon
              FROM documents
            ), zoomed AS (
              SELECT doc_id, lat, lon, z, CAST(POW(2, z) AS DOUBLE) AS n,
                     (lon + 180.0) / 360.0 * CAST(POW(2, z) AS DOUBLE) AS xf,
                     (1.0 - ln(tan(radians(GREATEST(-85.0511287798, LEAST(85.0511287798, lat))))
                               + 1.0 / cos(radians(GREATEST(-85.0511287798, LEAST(85.0511287798, lat)))))
                            / pi()) / 2.0 * CAST(POW(2, z) AS DOUBLE) AS yf
              FROM pts, (SELECT UNNEST([2, 6]) AS z)
            )
            SELECT doc_id, CAST(z AS INT) AS z,
                   CAST(LEAST(FLOOR(xf), n - 1) AS INT) AS x,
                   CAST(LEAST(FLOOR(yf), n - 1) AS INT) AS y,
                   CAST(LEAST(FLOOR((xf - LEAST(FLOOR(xf), n - 1)) * 4096), 4095) AS INT) AS fx,
                   CAST(LEAST(FLOOR((yf - LEAST(FLOOR(yf), n - 1)) * 4096), 4095) AS INT) AS fy
            FROM zoomed
        """,
        "image_meta": """
            SELECT i AS asset_id,
                   'png' AS format,
                   CAST(4 + i % 13 AS INT) AS width,
                   CAST(3 + i % 7 AS INT) AS height,
                   CAST([1, 3, 4][i % 3 + 1] AS INT) AS channels,
                   CAST(8 AS INT) AS bit_depth
            FROM range(200) t(i)
        """,
        "media_meta": """
            SELECT i AS asset_id,
                   CASE i % 8 WHEN 0 THEN 'flac' WHEN 1 THEN 'mp3'
                              WHEN 2 THEN 'ogg-vorbis' WHEN 3 THEN 'mp4'
                              WHEN 4 THEN 'webm' WHEN 5 THEN 'avi'
                              WHEN 6 THEN 'wav' ELSE 'png' END AS format,
                   CAST(CASE WHEN i % 8 = 3 THEN 320 + ((i // 8) % 8) * 160
                             WHEN i % 8 = 4 THEN 426 + ((i // 8) % 6) * 160
                             WHEN i % 8 = 5 THEN 320 + ((i // 8) % 10) * 64
                             WHEN i % 8 = 7 THEN 4 + (i // 8) % 13 END AS INT) AS width,
                   CAST(CASE WHEN i % 8 = 3 THEN 240 + ((i // 8) % 8) * 120
                             WHEN i % 8 = 4 THEN 240 + ((i // 8) % 6) * 90
                             WHEN i % 8 = 5 THEN 240 + ((i // 8) % 10) * 48
                             WHEN i % 8 = 7 THEN 3 + (i // 8) % 7 END AS INT) AS height,
                   CAST(CASE WHEN i % 8 = 1 THEN 2
                             WHEN i % 8 IN (0, 2, 4, 6) THEN 1 + (i // 8) % 2
                             WHEN i % 8 = 7 THEN [1, 3, 4][(i // 8) % 3 + 1] END AS INT) AS n_channels,
                   CAST(CASE WHEN i % 8 IN (0, 6) THEN 16
                             WHEN i % 8 = 7 THEN 8 END AS INT) AS bit_depth,
                   CAST(CASE WHEN i % 8 IN (0, 1) THEN 44100
                             WHEN i % 8 = 2 THEN 32000 + ((i // 8) % 3) * 8000
                             WHEN i % 8 = 4 THEN 48000
                             WHEN i % 8 = 6 THEN 16000 END AS INT) AS sample_rate,
                   CAST(CASE WHEN i % 8 = 0 THEN ((i // 8) % 10 + 1) * 1000
                             WHEN i % 8 = 1 THEN (417 * (3 + (i // 8) % 5) * 8 * 1000) // 128000
                             WHEN i % 8 = 3 THEN ((i // 8) % 20 + 1) * 1000
                             WHEN i % 8 = 4 THEN ((i // 8) % 15 + 1) * 500
                             WHEN i % 8 = 5 THEN (33333 * ((i // 8) % 30 + 1) * 25) // 1000
                             WHEN i % 8 = 6 THEN ((i // 8) % 20 + 1) * 50
                        END AS BIGINT) AS duration_ms,
                   CAST(CASE WHEN i % 8 = 1 THEN 128
                             WHEN i % 8 = 2 THEN 64 + ((i // 8) % 4) * 32 END AS INT) AS bitrate_kbps
            FROM range(250) t(i)
        """,
        "csv_inspect": """
            SELECT 'https://files.example.com/t' || CAST(i AS VARCHAR) || '.csv' AS url,
                   CAST(i % 3 AS INT) AS header_row_idx,
                   ',' AS separator,
                   CAST(3 AS INT) AS total_lines
            FROM range(60) t(i)
        """,
        "ogc_metadata": """
            SELECT 'r' || CAST(i AS VARCHAR) AS resource_id,
                   CASE WHEN i % 2 = 0 THEN 'wfs' ELSE 'wms' END AS format,
                   CASE WHEN i % 2 = 0 THEN ['2.0.0','1.1.0','1.0.0'][(i // 2) % 3 + 1]
                        ELSE ['1.3.0','1.1.1'][(i // 2) % 2 + 1] END AS version,
                   CASE WHEN i % 2 = 0 THEN 'ns:layer_' || CAST(i % 4 AS VARCHAR) END AS detected_layer,
                   CAST(i % 4 + 1 AS INT) AS n_layers
            FROM range(30) t(i)
        """,
        # adaptive_recrawl twin: same lag-transition counting; the rung
        # thresholds compare the UNROUNDED rate like the operator
        "adaptive_recrawl": """
            WITH h AS (
              SELECT user_id, event_type,
                     lag(event_type) OVER (PARTITION BY user_id ORDER BY ts) AS prev
              FROM events
            ),
            agg AS (
              SELECT user_id, count(*) AS n_obs,
                     CAST(sum(CASE WHEN prev IS NOT NULL
                              AND event_type IS DISTINCT FROM prev
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_changes
              FROM h GROUP BY 1
            )
            SELECT user_id, n_obs, n_changes,
                   CASE WHEN n_obs > 1
                        THEN round(n_changes / CAST(n_obs - 1 AS DOUBLE), 6)
                   END AS change_rate,
                   CAST(CASE
                     WHEN n_obs <= 1 THEN 12
                     WHEN n_changes / CAST(n_obs - 1 AS DOUBLE) >= 2.0/3.0 THEN 12
                     WHEN n_changes / CAST(n_obs - 1 AS DOUBLE) >= 1.0/3.0 THEN 24
                     WHEN n_changes > 0 THEN 168
                     ELSE 720 END AS INT) AS next_delay_hours
            FROM agg
        """,
        # sessionize twin: gaps-and-islands with the 30-min rule; Spark
        # floors timestamps to seconds (cast long), so epoch() is
        # floored here too; SUM-over-int is HUGEINT in DuckDB -> cast
        "sessionize": """
            WITH flagged AS (
              SELECT user_id, ts, event_id,
                     CASE WHEN lag(ts) OVER w IS NULL
                          OR CAST(floor(epoch(ts)) AS BIGINT)
                             - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 1800
                          THEN 1 ELSE 0 END AS ns
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ),
            numbered AS (
              SELECT user_id, ts,
                     SUM(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS session_id
              FROM flagged
            )
            SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
                   strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS start_s,
                   strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS end_s,
                   count(*) AS n_events,
                   CAST(floor(epoch(max(ts))) AS BIGINT)
                   - CAST(floor(epoch(min(ts))) AS BIGINT) AS duration_s
            FROM numbered GROUP BY user_id, session_id
        """,
        "queue_depth": f"""
            SELECT tier, count(*) AS count FROM (
              SELECT CASE WHEN idx % 97 = 0 THEN 0
                          WHEN idx % 3 <> 0 THEN 1
                          WHEN idx % 2 = 0 THEN 2
                     END AS tier
              FROM (SELECT {md5_idx} AS idx FROM ({crawl_urls}))
              WHERE idx % 499 <> 0)
            WHERE tier IS NOT NULL GROUP BY 1
        """,
        "all_checks_join": """
            SELECT c_custkey, c_name, o_orderkey,
                   strftime(o_orderdate, '%Y-%m-%d') AS orderdate_s
            FROM customer JOIN orders ON o_custkey = c_custkey
        """,
        "partitioned_export": """
            SELECT c_mktsegment AS segment, count(*) AS count,
                   CAST(round(sum(c_acctbal), 2) AS DOUBLE) AS sum_acctbal
            FROM customer GROUP BY 1
        """,
        "fingerprint": f"""
            SELECT doc_id, list_min([md5(s) for s in shingles]) AS fingerprint
            FROM ({shingle_cte})
        """,
        "minhash_pairs": f"""
            WITH sh AS ({shingle_cte}),
            sigs AS (
              SELECT doc_id,
                [list_min([md5(CAST(i AS VARCHAR) || '|' || s) for s in shingles])
                 for i in range(0,16)] AS sig
              FROM sh
            ), banded AS (
              SELECT doc_id, b AS band,
                md5(CAST(b AS VARCHAR) || '|' || array_to_string(sig[b*4+1:b*4+4], ',')) AS band_hash
              FROM sigs, range(0,4) t(b)
            ), buckets AS (
              SELECT band, band_hash, count(*) AS n FROM banded GROUP BY 1, 2
            ), eligible AS (
              SELECT banded.* FROM banded JOIN buckets USING (band, band_hash)
              WHERE n > 1 AND n <= 50
            )
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM eligible a JOIN eligible b USING (band, band_hash)
            WHERE a.doc_id < b.doc_id
        """,
        "simhash": r"""
            SELECT doc_id,
              CAST(list_sum([CASE WHEN 2*list_sum([(h >> b) & 1 FOR h IN hashes]) > len(hashes)
                             THEN (1::BIGINT << b) ELSE 0 END FOR b IN range(0,16)])
                   AS BIGINT) AS simhash
            FROM (
              SELECT doc_id,
                [list_sum([(strpos('0123456789abcdef', substring(md5(w), j, 1))-1)::BIGINT
                           << (4*(4-j)) FOR j IN range(1,5)]) FOR w IN words] AS hashes
              FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS words
                    FROM documents))
        """,
        "embedding_near_dups": """
            WITH corpus AS (
              SELECT vec_id, embedding FROM embeddings
              UNION ALL
              SELECT vec_id + 100000 AS vec_id, embedding FROM embeddings WHERE vec_id < 15
            )
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   CAST(round(round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                                           CAST(b.embedding AS DOUBLE[])), 6), 4) AS DOUBLE) AS cosine
            FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
            WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                         CAST(b.embedding AS DOUBLE[])) >= 0.99
        """,
        "dedup_components": """
            SELECT i AS id, (i // 5) * 5 AS component FROM range(60) t(i)
        """,
        # keep_best twin: components in closed form for the path graphs,
        # argmax by (score DESC, doc_id) per component, singletons keep
        "keep_best": """
            WITH docs AS (
              SELECT i AS doc_id,
                     CASE WHEN i < 60 THEN CAST((i // 5) * 5 AS BIGINT) END AS comp,
                     (i % 2) / 2.0 AS score
              FROM range(70) t(i)
            ),
            ranked AS (
              SELECT doc_id, comp, score,
                     row_number() OVER (PARTITION BY comp ORDER BY score DESC, doc_id) AS rn
              FROM docs
            )
            SELECT doc_id, coalesce(comp, doc_id) AS component, score,
                   (comp IS NULL OR rn = 1) AS keep
            FROM ranked
        """,
        "corpus_curation": f"""
            WITH scored AS (
              SELECT doc_id, text,
                CAST(round(
                  least(n_tokens / 100.0, 1.0) * 0.4
                  + least(round(n_stop / CAST(greatest(n_tokens, 1) AS DOUBLE), 6) * 4, 1.0) * 0.3
                  + (1 - least(round(n_digit / safe, 6) * 5, 1.0)) * 0.15
                  + (1 - least(round(n_punct / safe, 6) * 5, 1.0)) * 0.15, 6) AS DOUBLE) AS quality_score,
                CASE WHEN en_hits + fr_hits = 0 THEN 'unknown'
                     WHEN en_hits > fr_hits THEN 'en'
                     WHEN fr_hits > en_hits THEN 'fr'
                     ELSE 'unknown' END AS lang
              FROM (
                SELECT doc_id, text,
                  CASE WHEN trim(text) = '' THEN 0
                       ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens,
                  CAST(greatest(length(text), 1) AS DOUBLE) AS safe,
                  len(regexp_extract_all(text, '[^\\w\\s]')) AS n_punct,
                  len(regexp_extract_all(text, '[0-9]')) AS n_digit,
                  len(regexp_extract_all(text, '{_STOP_EN}')) + len(regexp_extract_all(text, '{_STOP_FR}')) AS n_stop,
                  len(regexp_extract_all(text, '{_STOP_EN}')) AS en_hits,
                  len(regexp_extract_all(text, '{_STOP_FR}')) AS fr_hits
                FROM documents)
            ), gates AS (
              SELECT *, quality_score < 0.3 AS low_q,
                     lang NOT IN ('en', 'fr') AS bad_lang
              FROM scored
            ), kept AS (
              SELECT count(*) AS kept_docs,
                     CAST(sum(n - 1) AS BIGINT) AS dropped_exact_dups
              FROM (SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS h,
                           count(*) AS n
                    FROM gates WHERE NOT low_q AND NOT bad_lang GROUP BY 1)
            )
            SELECT count(*) AS total_docs,
                   CAST(sum(CASE WHEN low_q THEN 1 ELSE 0 END) AS BIGINT) AS dropped_low_quality,
                   CAST(sum(CASE WHEN NOT low_q AND bad_lang THEN 1 ELSE 0 END) AS BIGINT) AS dropped_language,
                   (SELECT kept_docs FROM kept) AS kept_docs,
                   (SELECT dropped_exact_dups FROM kept) AS dropped_exact_dups
            FROM gates
        """,
        "jaccard_verify": f"""
            WITH sh AS (
              SELECT doc_id, list_distinct(shingles) AS toks FROM ({shingle_cte})
            )
            SELECT id_a, id_b,
                   CAST(round(CASE WHEN u > 0 THEN inter / CAST(u AS DOUBLE) ELSE 0.0 END, 6) AS DOUBLE) AS jaccard
            FROM (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     len(list_intersect(a.toks, b.toks)) AS inter,
                     len(list_distinct(list_concat(a.toks, b.toks))) AS u
              FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
              WHERE a.doc_id % 2 = 0)
        """,
        "bloom_seen": f"""
            SELECT url, true AS seen
            FROM (SELECT {_DOC_URL_SQL} AS url FROM documents)
        """,
        "crawl_round": f"""
            WITH flagged AS (
              SELECT *, md5(url) AS h, {md5_idx} AS idx FROM ({crawl_urls})
            )
            SELECT
              substring(h,1,8) || '-' || substring(h,9,4) || '-' || substring(h,13,4)
                || '-' || substring(h,17,4) || '-' || substring(h,21,12) AS resource_id,
              url,
              'host' || CAST(doc_id % 20 AS VARCHAR) || '.example.com' AS domain,
              200 AS status,
              CAST(length(text) AS BIGINT) AS filesize,
              CASE WHEN substring(text,1,5) = '<html' THEN 'text/html'
                   WHEN substring(text,1,1) = '{{'
                        AND strpos(substring(text,1,200), '"FeatureCollection"') > 0
                        THEN 'application/vnd.geo+json'
                   WHEN len(string_split(string_split(substring(text,1,200), chr(10))[1], ',')) >= 3
                        AND strpos(substring(text,1,200), chr(10)) > 0 THEN 'text/csv'
                   ELSE 'text/plain' END AS mime_type
            FROM flagged
            WHERE idx % 499 <> 0
        """,
        "multimodal_features": """
            SELECT range AS asset_id,
              CASE range % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
              CAST(256 AS BIGINT) AS n_bytes,
              array_to_string([CAST(CAST(floor(x * 1000000.0 / 256.0) AS BIGINT) AS VARCHAR) for x in
                [0, 0, 0, d, 0, 0, 256 - d, 0, 0, 0, 0, 0, 0, 0, 0, 0]], ',') AS features_enc
            FROM (SELECT range,
                         8 * len(regexp_extract_all(md5('42' || CAST(range AS VARCHAR)), '[0-9]')) AS d
                  FROM range(200))
        """,
        # --- webtext curation family (ml/webtext.py) ---
        # chunking twin of webtext.chunk_segments: non-overlapping k-word
        # chunks over lowercased \s+ tokens; overlapping 2-grams twin of
        # text.shingles(n=2).
        "repetition_stats": r"""
            WITH w AS (
              SELECT doc_id, length(text) AS doc_chars,
                     regexp_split_to_array(lower(trim(text)), '\s+') AS words
              FROM documents),
            c AS (
              SELECT doc_id, doc_chars,
                     [array_to_string(words[(i-1)*2+1:(i-1)*2+2], ' ')
                      for i in range(1, CAST(ceil(len(words)/2.0) AS BIGINT)+1)] AS chunks,
                     CASE WHEN len(words) <= 1 THEN [array_to_string(words, ' ')]
                          ELSE [array_to_string(words[i:i+1], ' ')
                                for i in range(1, len(words))] END AS grams
              FROM w),
            g AS (SELECT doc_id, unnest(grams) AS gram FROM c),
            t AS (SELECT doc_id, gram, count(*) AS cnt,
                         row_number() OVER (PARTITION BY doc_id
                                            ORDER BY count(*) DESC, gram ASC) AS rn
                  FROM g GROUP BY 1, 2)
            SELECT c.doc_id,
                   len(c.chunks) AS n_chunks,
                   CAST(round((len(c.chunks) - len(list_distinct(c.chunks)))
                        / CAST(greatest(len(c.chunks), 1) AS DOUBLE), 6) AS DOUBLE)
                     AS dup_chunk_frac,
                   CAST(round((CAST(list_sum(list_transform(c.chunks, x -> length(x))) AS BIGINT)
                         - CAST(list_sum(list_transform(list_distinct(c.chunks), x -> length(x))) AS BIGINT))
                        / CAST(greatest(CAST(list_sum(list_transform(c.chunks, x -> length(x))) AS BIGINT), 1) AS DOUBLE), 6) AS DOUBLE)
                     AS dup_chunk_char_frac,
                   t.gram AS top_2gram,
                   CAST(t.cnt AS INT) AS top_2gram_count,
                   CAST(round(t.cnt * length(t.gram)
                        / CAST(greatest(c.doc_chars, 1) AS DOUBLE), 6) AS DOUBLE)
                     AS top_2gram_char_frac
            FROM c JOIN t ON c.doc_id = t.doc_id AND t.rn = 1
        """,
        "line_dedup": r"""
            WITH w AS (
              SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS words
              FROM documents),
            c AS (
              SELECT doc_id,
                     [array_to_string(words[(i-1)*4+1:(i-1)*4+4], ' ')
                      for i in range(1, CAST(ceil(len(words)/4.0) AS BIGINT)+1)] AS chunks
              FROM w),
            e AS (SELECT doc_id,
                         unnest([{'chunk': chunks[i], 'pos': i - 1}
                                 for i in range(1, len(chunks)+1)]) AS u
                  FROM c),
            x AS (SELECT doc_id, u.chunk AS chunk, u.pos AS pos FROM e),
            fr AS (SELECT chunk, count(DISTINCT doc_id) AS df_count FROM x GROUP BY 1),
            rk AS (SELECT *, row_number() OVER (PARTITION BY chunk
                                                ORDER BY doc_id, pos) AS rn FROM x),
            kept AS (SELECT rk.doc_id, rk.pos, rk.chunk
                     FROM rk JOIN fr USING (chunk)
                     WHERE fr.df_count <= 1 OR rk.rn = 1),
            reb AS (SELECT doc_id, string_agg(chunk, ' ' ORDER BY pos) AS text_deduped,
                           count(*) AS n_kept
                    FROM kept GROUP BY 1)
            SELECT c.doc_id,
                   coalesce(reb.text_deduped, '') AS text_deduped,
                   len(c.chunks) AS n_chunks,
                   len(c.chunks) - coalesce(reb.n_kept, 0) AS n_removed
            FROM c LEFT JOIN reb USING (doc_id)
        """,
        "decontaminate": r"""
            WITH w AS (
              SELECT doc_id, source,
                     regexp_split_to_array(lower(trim(text)), '\s+') AS words
              FROM documents),
            s AS (
              SELECT doc_id, source,
                     CASE WHEN len(words) <= 3 THEN [array_to_string(words, ' ')]
                          ELSE [array_to_string(words[i:i+3], ' ')
                                for i in range(1, len(words)-2)] END AS grams
              FROM w),
            bench AS (SELECT DISTINCT unnest(grams) AS gram FROM s WHERE source = 'src0'),
            dg AS (SELECT doc_id, unnest(list_distinct(grams)) AS gram
                   FROM s WHERE source <> 'src0'),
            hits AS (SELECT dg.doc_id, count(*) AS n_hits
                     FROM dg JOIN bench USING (gram) GROUP BY 1)
            SELECT s.doc_id,
                   coalesce(hits.n_hits, 0) AS n_hits,
                   coalesce(hits.n_hits, 0) > 0 AS is_contaminated
            FROM s LEFT JOIN hits ON s.doc_id = hits.doc_id
            WHERE s.source <> 'src0'
        """,
        # gaps-and-islands twin of webtext.decontaminate_spans: each
        # colliding 4-gram at word pos p covers [p, p+3]; spans merge
        # when the next hit starts <= running-max-end + 1
        "decontaminate_spans": r"""
            WITH w AS (
              SELECT doc_id, source,
                     regexp_split_to_array(lower(trim(text)), '\s+') AS words
              FROM documents),
            s AS (
              SELECT doc_id, source,
                     CASE WHEN len(words) <= 3 THEN [array_to_string(words, ' ')]
                          ELSE [array_to_string(words[i:i+3], ' ')
                                for i in range(1, len(words)-2)] END AS grams
              FROM w),
            bench AS (SELECT DISTINCT unnest(grams) AS gram FROM s WHERE source = 'src0'),
            pg AS (SELECT doc_id, unnest(grams) AS gram,
                          unnest(range(len(grams))) AS pos
                   FROM s WHERE source <> 'src0'),
            hits AS (SELECT pg.doc_id, pg.pos FROM pg JOIN bench USING (gram)),
            m AS (SELECT doc_id, pos,
                         CASE WHEN max(pos + 3) OVER prev IS NULL
                                OR pos > max(pos + 3) OVER prev + 1
                              THEN 1 ELSE 0 END AS new_span
                  FROM hits
                  WINDOW prev AS (PARTITION BY doc_id ORDER BY pos
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
            i AS (SELECT doc_id, pos,
                         sum(new_span) OVER (PARTITION BY doc_id ORDER BY pos) AS span_id
                  FROM m)
            SELECT doc_id, CAST(span_id AS BIGINT) AS span_id,
                   CAST(min(pos) AS BIGINT) AS start_token,
                   CAST(max(pos) + 3 AS BIGINT) AS end_token,
                   count(*) AS n_grams
            FROM i GROUP BY 1, 2
        """,
        "unigram_lm": r"""
            WITH w AS (
              SELECT doc_id,
                     unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS word
              FROM documents),
            tot AS (SELECT CAST(count(*) AS DOUBLE) AS total FROM w),
            freq AS (SELECT word, count(*) AS cnt FROM w GROUP BY 1),
            vocab AS (SELECT word, cnt FROM freq ORDER BY cnt DESC, word LIMIT 20),
            sc AS (SELECT w.doc_id,
                          log10(coalesce(CAST(v.cnt AS DOUBLE), 0.5) / t.total) AS lp
                   FROM w LEFT JOIN vocab v USING (word) CROSS JOIN tot t)
            SELECT doc_id, count(*) AS n_words,
                   CAST(round(-avg(lp), 6) AS DOUBLE) AS lm_score
            FROM sc GROUP BY 1
        """,
        # pmi twin: same truncated tables, PMI on the tiny bigram
        # table; ORDER BY uses the ROUNDED pmi exactly like the operator
        "pmi": r"""
            WITH t AS (SELECT regexp_split_to_array(lower(trim(text)), '\s+') AS ws
                       FROM documents),
            words AS (SELECT unnest(ws) AS word FROM t),
            nw AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM words),
            uni AS (SELECT word, count(*) AS cnt_u FROM words GROUP BY 1
                    ORDER BY cnt_u DESC, word LIMIT 50000),
            pairs AS (SELECT ws[i] AS prev, ws[i+1] AS w FROM (
                        SELECT ws, unnest(range(1, len(ws))) AS i
                        FROM t WHERE len(ws) >= 2)),
            np AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM pairs),
            big AS (SELECT prev, w, count(*) AS cnt FROM pairs GROUP BY 1, 2
                    HAVING count(*) >= 5
                    ORDER BY cnt DESC, prev, w LIMIT 50000)
            SELECT big.prev, big.w, big.cnt,
                   round(log10((big.cnt / (SELECT v FROM np))
                         / ((up.cnt_u / (SELECT v FROM nw))
                            * (uw.cnt_u / (SELECT v FROM nw)))), 6) AS pmi
            FROM big
            JOIN uni up ON big.prev = up.word
            JOIN uni uw ON big.w = uw.word
            ORDER BY pmi DESC, big.prev, big.w LIMIT 20
        """,
        # bigram_lm twin: Jelinek-Mercer interpolation with the same
        # truncated tables; (1.0 - 0.7) is COMPUTED (not the literal 0.3)
        # so both engines use the identical IEEE subtraction result
        "bigram_lm": r"""
            WITH w AS (
              SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS ws
              FROM documents),
            words AS (SELECT doc_id, unnest(ws) AS word FROM w),
            tot AS (SELECT CAST(count(*) AS DOUBLE) AS total FROM words),
            uni AS (SELECT word, count(*) AS cnt_u FROM words GROUP BY 1
                    ORDER BY cnt_u DESC, word LIMIT 20),
            pairs AS (
              SELECT doc_id, ws[i] AS prev, ws[i+1] AS w FROM (
                SELECT doc_id, ws, unnest(range(1, len(ws))) AS i
                FROM w WHERE len(ws) >= 2)
            ),
            big AS (SELECT prev, w, count(*) AS cnt_b FROM pairs GROUP BY 1, 2
                    ORDER BY cnt_b DESC, prev, w LIMIT 20),
            sc AS (
              SELECT p.doc_id,
                     log10(0.7 * least(1.0, coalesce(CAST(b.cnt_b AS DOUBLE), 0.0)
                                  / coalesce(CAST(up.cnt_u AS DOUBLE), 0.5))
                           + (1.0 - 0.7) * coalesce(CAST(uw.cnt_u AS DOUBLE), 0.5)
                             / t.total) AS lp
              FROM pairs p
              LEFT JOIN big b ON p.prev = b.prev AND p.w = b.w
              LEFT JOIN uni up ON p.prev = up.word
              LEFT JOIN uni uw ON p.w = uw.word
              CROSS JOIN tot t)
            SELECT doc_id, count(*) AS n_bigrams,
                   CAST(round(-avg(lp), 6) AS DOUBLE) AS lm2_score
            FROM sc GROUP BY 1
        """,
        # uniform_hash twin: first 8 md5 nibbles of '13|<doc_id>' over 2^32;
        # exact binary rates (1.0/0.5/0.25/0.125) make the compare exact
        "stratified_sample": r"""
            SELECT doc_id, source FROM documents
            WHERE list_sum([(strpos('0123456789abcdef',
                     substring(md5('13|' || CAST(doc_id AS VARCHAR)), i, 1))-1)::BIGINT
                     << (4*(8-i)) for i in range(1,9)]) / 4294967296.0
                  < CASE CAST(substring(source, 4) AS INT) % 4
                      WHEN 0 THEN 1.0 WHEN 1 THEN 0.5 WHEN 2 THEN 0.25 ELSE 0.125 END
        """,
        # exact-sample twin: rank by the seed-13 md5 uniform within each
        # source, keep the first 10 (ties -> doc_id, matching Spark)
        "exact_sample": r"""
            SELECT doc_id, source FROM (
              SELECT doc_id, source,
                     row_number() OVER (
                       PARTITION BY source
                       ORDER BY list_sum([(strpos('0123456789abcdef',
                         substring(md5('13|' || CAST(doc_id AS VARCHAR)), i, 1))-1)::BIGINT
                         << (4*(8-i)) for i in range(1,9)]) / 4294967296.0,
                       doc_id
                     ) AS rk
              FROM documents
            ) WHERE rk <= 10
        """,
        # domain-mix twin: w_d = T_d^0.7, keep rate min(1, budget*share/T),
        # membership by the seed-17 md5 uniform
        "domain_mix": r"""
            WITH base AS (
              SELECT doc_id, source,
                     CAST(CASE WHEN trim(text) = '' THEN 0
                          ELSE len(regexp_split_to_array(trim(text), '\s+'))
                          END AS BIGINT) AS n_tokens
              FROM documents
            ),
            w AS (SELECT source, CAST(SUM(n_tokens) AS DOUBLE) AS T,
                         power(CAST(SUM(n_tokens) AS DOUBLE), 0.7) AS w
                  FROM base GROUP BY source),
            tot AS (SELECT SUM(w) AS sw FROM w),
            rates AS (SELECT source,
                             CASE WHEN T > 0
                                  THEN least(1.0, 50000.0 * w / (SELECT sw FROM tot) / T)
                                  ELSE 0.0 END AS keep_rate
                      FROM w)
            SELECT b.doc_id, b.source, b.n_tokens,
                   round(r.keep_rate, 9) AS keep_rate
            FROM base b JOIN rates r USING (source)
            WHERE list_sum([(strpos('0123456789abcdef',
                     substring(md5('17|' || CAST(b.doc_id AS VARCHAR)), i, 1))-1)::BIGINT
                     << (4*(8-i)) for i in range(1,9)]) / 4294967296.0 < r.keep_rate
        """,
        # twin of webtext.redact_pii over the same planted-PII grammar
        "redact_pii": r"""
            WITH planted AS (
              SELECT doc_id,
                     text
                     || CASE WHEN doc_id % 5 = 0
                             THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.org'
                             ELSE '' END
                     || CASE WHEN doc_id % 7 = 0
                             THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.1'
                             ELSE '' END
                     || CASE WHEN doc_id % 11 = 0 THEN ' tel +33 1 22 33 44 55' ELSE '' END
                       AS text
              FROM documents),
            e AS (SELECT doc_id,
                         CAST(len(regexp_extract_all(text,
                              '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_emails,
                         regexp_replace(text,
                              '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1
                  FROM planted),
            i AS (SELECT doc_id, n_emails,
                         CAST(len(regexp_extract_all(t1, '\b(\d{1,3}\.){3}\d{1,3}\b')) AS INT) AS n_ips,
                         regexp_replace(t1, '\b(\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g') AS t2
                  FROM e)
            SELECT doc_id,
                   regexp_replace(t2, '\+?\d[\d .-]{7,}\d', '<PHONE>', 'g') AS text_redacted,
                   n_emails, n_ips,
                   CAST(len(regexp_extract_all(t2, '\+?\d[\d .-]{7,}\d')) AS INT) AS n_phones
            FROM i
        """,
        # robots_rfc twin: the verdicts in closed form per the grammar
        "robots_rfc": """
            SELECT 'https://h' || (doc_id % 5) || '.example.com' ||
                   CASE doc_id % 4
                     WHEN 0 THEN '/private/file' || doc_id
                     WHEN 1 THEN '/private/open/file' || doc_id
                     WHEN 2 THEN '/cache/' || doc_id || '.tmp'
                     ELSE '/pub/' || doc_id || '.tmp.html' END AS url,
                   'h' || (doc_id % 5) || '.example.com' AS domain,
                   (doc_id % 4 = 0 OR doc_id % 4 = 2) AS blocked
            FROM documents
        """,
        # url_templates twin: same URL grammar, template via the same
        # digit-collapse + sorted-param-name rules (regexp_replace needs
        # the 'g' flag in DuckDB; empty param list -> '' via coalesce)
        "url_templates": r"""
            WITH urls AS (
              SELECT CASE WHEN doc_id % 3 = 0
                THEN 'https://host' || (doc_id % 10) || '.example.com/about'
                ELSE 'https://host' || (doc_id % 10) || '.example.com/page/'
                     || doc_id || '?session=' || (doc_id % 7) || '&ref=x'
              END AS url
              FROM documents
            ),
            parts AS (
              SELECT lower(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.\-]*://([^/?#]+)', 1)) AS host,
                     regexp_replace(
                       regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.\-]*://[^/?#]+([^?#]*)', 1),
                       '[0-9]+', '{N}', 'g') AS tpath,
                     coalesce(array_to_string(
                       list_sort(list_distinct(regexp_extract_all(
                         regexp_extract(url, '\?([^#]*)', 1), '(?:^|&)([^=&]+)', 1))),
                       ','), '') AS pstr
              FROM urls
            ),
            templ AS (
              SELECT host,
                     host || tpath ||
                     CASE WHEN pstr = '' THEN '' ELSE '?' || pstr END AS template
              FROM parts WHERE host <> ''
            )
            SELECT host, template, count(*) AS n_urls,
                   (template LIKE '%{N}%' AND count(*) >= 20) AS is_trap_candidate
            FROM templ GROUP BY host, template
        """,
        # snapshot_diff twin: same synthetic two-crawl construction
        "snapshot_diff": """
            WITH old AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 5 = 0 THEN text || ' OLD' ELSE text END AS text
              FROM documents WHERE doc_id % 11 <> 0
            ),
            new AS (SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 0)
            SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
                   CASE WHEN o.doc_id IS NULL THEN 'added'
                        WHEN n.doc_id IS NULL THEN 'removed'
                        WHEN md5(o.text) <> md5(n.text) THEN 'changed'
                        ELSE 'unchanged' END AS status,
                   md5(o.text) AS old_digest, md5(n.text) AS new_digest
            FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
        """,
        # token_topk twin: at full coverage the MG sketch equals the
        # exact group-count top-k; err_bound = floor(N / (capacity+1))
        "token_topk": r"""
            WITH toks AS (
              SELECT t AS token FROM (
                SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS t
                FROM documents
              ) WHERE t <> ''
            )
            SELECT token, count(*) AS cnt,
                   CAST((SELECT count(*) FROM toks) // 4097 AS BIGINT) AS err_bound
            FROM toks GROUP BY token
            ORDER BY cnt DESC, token LIMIT 20
        """,
        "corpus_token_stats": r"""
            SELECT source,
                   count(*) AS n_docs,
                   CAST(sum(nt) AS BIGINT) AS total_tokens,
                   CAST(min(nt) AS INT) AS min_tokens,
                   CAST(max(nt) AS INT) AS max_tokens,
                   CAST(round(avg(nt), 6) AS DOUBLE) AS avg_tokens,
                   count(DISTINCT nt // 32) AS n_size_buckets
            FROM (SELECT source,
                         CASE WHEN trim(text) = '' THEN 0
                              ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS nt
                  FROM documents)
            GROUP BY 1
        """,
        "pack_sequences": r"""
            WITH tok AS (
              SELECT doc_id, source,
                     CASE WHEN trim(text) = '' THEN 0
                          ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS nt
              FROM documents),
            c AS (SELECT doc_id, source, nt,
                         CAST(sum(nt) OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT) AS cum
                  FROM tok)
            SELECT doc_id, source,
                   CAST(nt AS INT) AS n_tokens,
                   cum - nt AS start_offset,
                   (cum - nt) // 64 AS seq_id,
                   (cum - nt + greatest(nt, 1) - 1) // 64 - (cum - nt) // 64 + 1 AS seq_count
            FROM c
        """,
        # per-domain claim count = least(eligible, backoff_nb_req=180);
        # eligibility = not deleted (idx % 499 == 0 is the deleted flag,
        # same replay as crawl_round)
        "claim_cap": f"""
            WITH flagged AS (
              SELECT 'host' || CAST(doc_id % 20 AS VARCHAR) || '.example.com' AS domain,
                     {md5_idx} AS idx
              FROM ({crawl_urls})
            )
            SELECT domain, CAST(least(count(*), 180) AS BIGINT) AS n_claimed
            FROM flagged WHERE idx % 499 <> 0 GROUP BY 1
        """,
        # gaps-and-islands twin of webtext.duplicate_spans (n=5,
        # min_count=2): a 5-gram at word pos p covers [p, p+4]; grams
        # occurring >=2 times ANYWHERE in the corpus are hits (Spark
        # keys the count on xxhash64(gram); grouping the strings is
        # count-identical absent 64-bit collisions)
        "duplicate_spans": r"""
            WITH w AS (
              SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS words
              FROM documents),
            s AS (
              SELECT doc_id,
                     CASE WHEN len(words) <= 4 THEN [array_to_string(words, ' ')]
                          ELSE [array_to_string(words[i:i+4], ' ')
                                for i in range(1, len(words)-3)] END AS grams
              FROM w),
            pg AS (SELECT doc_id, unnest(grams) AS gram,
                          unnest(range(len(grams))) AS pos
                   FROM s),
            fr AS (SELECT gram FROM (SELECT gram, count(*) AS occ FROM pg GROUP BY 1)
                   WHERE occ >= 2),
            hits AS (SELECT pg.doc_id, pg.pos FROM pg JOIN fr USING (gram)),
            m AS (SELECT doc_id, pos,
                         CASE WHEN max(pos + 4) OVER prev IS NULL
                                OR pos > max(pos + 4) OVER prev + 1
                              THEN 1 ELSE 0 END AS new_span
                  FROM hits
                  WINDOW prev AS (PARTITION BY doc_id ORDER BY pos
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
            i AS (SELECT doc_id, pos,
                         sum(new_span) OVER (PARTITION BY doc_id ORDER BY pos) AS span_id
                  FROM m)
            SELECT doc_id, CAST(span_id AS BIGINT) AS span_id,
                   CAST(min(pos) AS BIGINT) AS start_token,
                   CAST(max(pos) + 4 AS BIGINT) AS end_token,
                   count(*) AS n_grams
            FROM i GROUP BY 1, 2
        """,
        # naive-Bayes twin of webtext.nb_quality_classifier: positives =
        # lang='en' docs, negatives = whole corpus, vocab = top-64 by
        # combined count (word tie-break), alpha=0.5 over FULL vocab V
        "quality_classifier": r"""
            WITH pw AS (SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS word
                        FROM documents WHERE lang = 'en'),
            nw AS (SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS word
                   FROM documents),
            pc AS (SELECT word, count(*) AS pc FROM pw GROUP BY 1),
            nc AS (SELECT word, count(*) AS nc FROM nw GROUP BY 1),
            merged AS (SELECT coalesce(pc.word, nc.word) AS word,
                              coalesce(pc.pc, 0) AS pc, coalesce(nc.nc, 0) AS nc
                       FROM pc FULL JOIN nc ON pc.word = nc.word),
            vocab AS (SELECT * FROM merged ORDER BY pc + nc DESC, word LIMIT 64),
            tot AS (SELECT CAST(sum(pc) AS DOUBLE) AS pos_tot,
                           CAST(sum(nc) AS DOUBLE) AS neg_tot,
                           CAST(count(*) AS DOUBLE) AS v
                    FROM merged),
            sc AS (SELECT nw.doc_id,
                          ln((coalesce(CAST(v.pc AS DOUBLE), 0) + 0.5) / (t.pos_tot + 0.5 * t.v))
                        - ln((coalesce(CAST(v.nc AS DOUBLE), 0) + 0.5) / (t.neg_tot + 0.5 * t.v)) AS llr
                   FROM nw LEFT JOIN vocab v USING (word) CROSS JOIN tot t)
            SELECT doc_id, count(*) AS n_words,
                   CAST(round(avg(llr), 6) AS DOUBLE) AS nb_llr,
                   CAST(round(avg(llr), 6) AS DOUBLE) > 0 AS is_quality
            FROM sc GROUP BY 1
        """,
        # unigram_lm (vocab 20) joined back to lang, then CCNet
        # head/middle/tail terciles: ntile(3) over (lm_score, doc_id)
        # within each language
        "perplexity_buckets": r"""
            WITH w AS (
              SELECT doc_id,
                     unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS word
              FROM documents),
            tot AS (SELECT CAST(count(*) AS DOUBLE) AS total FROM w),
            freq AS (SELECT word, count(*) AS cnt FROM w GROUP BY 1),
            vocab AS (SELECT word, cnt FROM freq ORDER BY cnt DESC, word LIMIT 20),
            sc AS (SELECT w.doc_id,
                          log10(coalesce(CAST(v.cnt AS DOUBLE), 0.5) / t.total) AS lp
                   FROM w LEFT JOIN vocab v USING (word) CROSS JOIN tot t),
            lm AS (SELECT doc_id,
                          CAST(round(-avg(lp), 6) AS DOUBLE) AS lm_score
                   FROM sc GROUP BY 1),
            j AS (SELECT lm.doc_id, d.lang, lm.lm_score
                  FROM lm JOIN documents d USING (doc_id))
            SELECT doc_id, lang, lm_score,
                   CASE ntile(3) OVER (PARTITION BY lang ORDER BY lm_score, doc_id)
                     WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
            FROM j
        """,
        # cluster-consistent split twin: cluster key md5(normalized
        # text), representative = min doc_id, uniform_hash(seed 17) of
        # the rep decides the split with exact-binary cut points
        # 0.875 / 0.9375
        "leakage_splits": r"""
            WITH k AS (SELECT doc_id, md5(lower(trim(text))) AS digest FROM documents),
            r AS (SELECT digest, min(doc_id) AS cluster_rep FROM k GROUP BY 1),
            u AS (SELECT digest, cluster_rep,
                         list_sum([(strpos('0123456789abcdef',
                             substring(md5('17|' || CAST(cluster_rep AS VARCHAR)), i, 1))-1)::BIGINT
                             << (4*(8-i)) for i in range(1,9)]) / 4294967296.0 AS uh
                  FROM r),
            a AS (SELECT digest, cluster_rep,
                         CASE WHEN uh < 0.875 THEN 'train'
                              WHEN uh < 0.9375 THEN 'validation'
                              ELSE 'test' END AS split
                  FROM u)
            SELECT k.doc_id, a.cluster_rep, a.split
            FROM k JOIN a USING (digest)
        """,
        # Rae et al. 2021 Table A1 named quality rules, feature-for-
        # feature twin of webtext.gopher_quality_flags
        "gopher_quality": r"""
            WITH base AS (
              SELECT doc_id,
                     regexp_split_to_array(lower(trim(text)), '\s+') AS words,
                     regexp_split_to_array(text, '\n') AS lines,
                     CASE WHEN trim(text) = '' THEN 0
                          ELSE CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INT)
                     END AS n_words,
                     len(regexp_extract_all(text, '#|\.\.\.|…')) AS n_symbols
              FROM documents),
            feat AS (
              SELECT doc_id, n_words,
                     round(list_sum([len(w) for w in words])
                           / CAST(greatest(n_words, 1) AS DOUBLE), 6) AS mean_word_len,
                     round(n_symbols / CAST(greatest(n_words, 1) AS DOUBLE), 6)
                       AS symbol_word_ratio,
                     round(len(list_filter(lines, l -> regexp_matches(l, '^\s*[•‣▪\-\*]')))
                           / CAST(greatest(len(lines), 1) AS DOUBLE), 6) AS bullet_line_frac,
                     round(len(list_filter(lines, l -> regexp_matches(l, '(\.\.\.|…)\s*$')))
                           / CAST(greatest(len(lines), 1) AS DOUBLE), 6) AS ellipsis_line_frac,
                     round(len(list_filter(words, w -> regexp_matches(w, '[a-z]')))
                           / CAST(greatest(n_words, 1) AS DOUBLE), 6) AS alpha_word_frac,
                     CAST(list_contains(words, 'the') AS INT)
                     + CAST(list_contains(words, 'be') AS INT)
                     + CAST(list_contains(words, 'to') AS INT)
                     + CAST(list_contains(words, 'of') AS INT)
                     + CAST(list_contains(words, 'and') AS INT)
                     + CAST(list_contains(words, 'that') AS INT)
                     + CAST(list_contains(words, 'have') AS INT)
                     + CAST(list_contains(words, 'with') AS INT) AS n_required_stopwords
              FROM base),
            fl AS (
              SELECT *,
                     n_words BETWEEN 50 AND 100000 AS flag_word_count,
                     mean_word_len BETWEEN 3.0 AND 10.0 AS flag_mean_word_len,
                     symbol_word_ratio <= 0.1 AS flag_symbol_ratio,
                     bullet_line_frac <= 0.9 AS flag_bullet_lines,
                     ellipsis_line_frac <= 0.3 AS flag_ellipsis_lines,
                     alpha_word_frac >= 0.8 AS flag_alpha_words,
                     n_required_stopwords >= 2 AS flag_stopwords
              FROM feat)
            SELECT doc_id, n_words, mean_word_len, symbol_word_ratio,
                   bullet_line_frac, ellipsis_line_frac, alpha_word_frac,
                   n_required_stopwords,
                   flag_word_count, flag_mean_word_len, flag_symbol_ratio,
                   flag_bullet_lines, flag_ellipsis_lines, flag_alpha_words,
                   flag_stopwords,
                   flag_word_count AND flag_mean_word_len AND flag_symbol_ratio
                   AND flag_bullet_lines AND flag_ellipsis_lines
                   AND flag_alpha_words AND flag_stopwords AS passes_gopher
            FROM fl
        """,
        # cross-snapshot dedup twin: prior = src0 digests, new = rest;
        # first occurrence per digest keeps, prior hits win over within
        "incremental_dedup": r"""
            WITH norm AS (
              SELECT doc_id, source,
                     md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS digest
              FROM documents),
            prior AS (SELECT DISTINCT digest FROM norm WHERE source = 'src0'),
            nw AS (SELECT doc_id, digest FROM norm WHERE source <> 'src0'),
            f AS (SELECT doc_id, digest,
                         min(doc_id) OVER (PARTITION BY digest) AS first_id,
                         digest IN (SELECT digest FROM prior) AS in_prior
                  FROM nw)
            SELECT doc_id, digest,
                   CASE WHEN in_prior THEN 'dup_prior'
                        WHEN doc_id <> first_id THEN 'dup_within'
                        ELSE 'kept' END AS status
            FROM f
        """,
        # id-grammar replay of datagen.rich_html_page: the oracle never
        # parses HTML — it rebuilds the extractor's expected text from
        # the id arithmetic alone (same pattern as media_meta)
        "html_extract": r"""
            WITH t AS (
              SELECT doc_id,
                     'Heading ' || doc_id || chr(10)
                     || array_to_string(['para ' || doc_id || ' ' || j || ' alpha & beta'
                                         for j in range(0, CAST(doc_id % 3 AS BIGINT) + 1)],
                                        chr(10))
                     || CASE WHEN doc_id % 4 = 0
                             THEN chr(10) || 'item one ' || doc_id
                                  || chr(10) || 'item "two"'
                             ELSE '' END AS text
              FROM documents)
            SELECT doc_id, text, CAST(len(text) AS INT) AS n_chars FROM t
        """,
        # URL-gate twin: rebuild the synthesized URL per the same id
        # arithmetic; blocklist matching = exact host or label-aligned
        # parent domain; score = sum of contained keyword weights
        "url_filter": r"""
            WITH u AS (
              SELECT doc_id,
                     CASE
                       WHEN doc_id % 5 = 0 THEN 'https://ads.tracker' || (doc_id % 7)
                            || '.com/banner/' || doc_id
                       WHEN doc_id % 5 = 1 THEN 'https://cdn.media' || (doc_id % 9)
                            || '.example.org/asset/' || doc_id
                       WHEN doc_id % 5 = 2 THEN 'https://host' || (doc_id % 20)
                            || '.example.com/casino-bonus/' || doc_id
                       WHEN doc_id % 5 = 3 THEN 'https://blog.example.net/post/'
                            || doc_id || '?download=free'
                       ELSE 'https://host' || (doc_id % 20)
                            || '.example.com/doc/' || doc_id
                     END AS url
              FROM documents),
            h AS (SELECT doc_id, url,
                         regexp_extract(url, '^https://([^/]+)/', 1) AS host
                  FROM u),
            f AS (SELECT doc_id, url, host,
                         len(list_filter(
                               ['tracker0.com', 'tracker1.com', 'tracker2.com',
                                'tracker3.com', 'blog.example.net'],
                               b -> host = b OR ends_with(host, '.' || b))) > 0
                           AS domain_blocked,
                         round(CASE WHEN contains(lower(url), 'bonus') THEN 0.5 ELSE 0 END
                               + CASE WHEN contains(lower(url), 'casino') THEN 1.0 ELSE 0 END
                               + CASE WHEN contains(lower(url), 'download') THEN 0.4 ELSE 0 END
                               + CASE WHEN contains(lower(url), 'free') THEN 0.4 ELSE 0 END,
                               6) AS url_score
                  FROM h)
            SELECT doc_id, url, host, domain_blocked, url_score,
                   NOT domain_blocked AND url_score < 0.5 AS keep
            FROM f
        """,
        # C4 line/page rules over the same planted multi-line grammar
        "c4_quality": r"""
            WITH p AS (
              SELECT doc_id,
                     text
                     || CASE WHEN doc_id % 3 = 0
                             THEN chr(10) || 'this short line has javascript in it.'
                             ELSE '' END
                     || CASE WHEN doc_id % 4 = 0
                             THEN chr(10) || 'a good line with plenty of words ends properly.'
                             ELSE '' END
                     || CASE WHEN doc_id % 5 = 0
                             THEN chr(10) || 'no terminal punctuation here at all'
                             ELSE '' END
                     || CASE WHEN doc_id % 7 = 0
                             THEN chr(10) || 'lorem ipsum dolor sit amet.'
                             ELSE '' END
                     || CASE WHEN doc_id % 11 = 0
                             THEN chr(10) || 'function() { return 1; }'
                             ELSE '' END AS text
              FROM documents),
            l AS (SELECT doc_id, text,
                         regexp_split_to_array(text, chr(10)) AS lines
                  FROM p),
            k AS (SELECT doc_id, text, lines,
                         list_filter(lines, x ->
                            regexp_matches(x, '[.!?"]\s*$')
                            AND (CASE WHEN trim(x) = '' THEN 0
                                 ELSE len(regexp_split_to_array(trim(x), '\s+')) END) >= 5
                            AND NOT contains(lower(x), 'javascript')) AS kept
                  FROM l),
            c AS (SELECT doc_id, text, lines, kept,
                         -- array_to_string([]) is NULL in DuckDB but '' in Spark
                         coalesce(array_to_string(kept, chr(10)), '') AS text_clean
                  FROM k)
            SELECT doc_id,
                   CAST(len(lines) AS INT) AS n_lines,
                   CAST(len(kept) AS INT) AS n_kept_lines,
                   CAST(len(regexp_extract_all(text_clean, '[.!?]')) AS INT) AS n_sentences,
                   contains(lower(text), 'lorem ipsum') AS has_lorem_ipsum,
                   contains(text, '{') AS has_curly_brace,
                   regexp_matches(lower(text), '\b(porn|xxx|fuck|shit)\b') AS has_badword,
                   len(regexp_extract_all(text_clean, '[.!?]')) >= 3
                     AND NOT contains(lower(text), 'lorem ipsum')
                     AND NOT contains(text, '{')
                     AND NOT regexp_matches(lower(text), '\b(porn|xxx|fuck|shit)\b')
                     AS passes_c4,
                   text_clean
            FROM c
        """,
        # href-grammar replay: 4 resolvable links per doc (absolute,
        # root-relative, protocol-relative, directory-relative), the
        # fragment/mailto hrefs drop; the oracle rebuilds the resolved+
        # canonicalized set from doc_id arithmetic
        "link_extract": r"""
            WITH b AS (
              SELECT doc_id,
                     'https://host' || (doc_id % 20) || '.example.com/dir'
                       || (doc_id % 3) || '/doc' || doc_id || '.html' AS url
              FROM documents)
            SELECT url,
                   unnest(['https://ext' || (doc_id % 5) || '.example.org/page/' || doc_id,
                           'https://host' || (doc_id % 20) || '.example.com/rel/' || doc_id,
                           'https://cdn' || (doc_id % 3) || '.example.net/a/' || doc_id,
                           'https://host' || (doc_id % 20) || '.example.com/dir'
                             || (doc_id % 3) || '/sub/' || doc_id]) AS link
            FROM b
        """,
        # WARC roundtrip replay: the oracle reconstructs every parsed
        # field from doc_id arithmetic + the fixed HTTP head (44 bytes:
        # status line 17 + content-type 25 + blank 2)
        "warc_parse": r"""
            SELECT 'https://host' || (doc_id % 20) || '.example.com/doc/' || doc_id
                     AS target_uri,
                   'response' AS warc_type,
                   TIMESTAMP '2025-01-01 00:00:00'
                     + to_seconds(CAST(doc_id * 97 % 864000 AS BIGINT)) AS warc_date,
                   CAST(44 + octet_length(encode(text)) AS BIGINT) AS content_length,
                   200 AS http_status,
                   md5(text) AS body_md5,
                   CAST(octet_length(encode(text)) AS BIGINT) AS body_len
            FROM documents
        """,
        # PageRank twin: the 2-iteration damped power iteration unrolled
        # as CTEs — same dangling-mass redistribution, same edge set
        "host_rank": r"""
            WITH e AS (
              SELECT DISTINCT src, dst FROM (
                SELECT 'h' || (doc_id % 11) AS src, 'h' || (doc_id % 7) AS dst
                FROM documents
                UNION ALL
                SELECT 'h' || (doc_id % 11), 'sink' FROM documents WHERE doc_id % 5 = 0
              ) WHERE src <> dst
            ),
            hosts AS (SELECT DISTINCT host
                      FROM (SELECT src AS host FROM e UNION ALL SELECT dst FROM e)),
            nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM hosts),
            deg AS (SELECT src, COUNT(*) AS out FROM e GROUP BY src),
            r0 AS (SELECT host, 1.0 / (SELECT n FROM nn) AS r FROM hosts),
            d0 AS (SELECT COALESCE(SUM(r), 0) AS m FROM r0
                   WHERE host NOT IN (SELECT src FROM deg)),
            c0 AS (SELECT e.dst AS host, SUM(r0.r / deg.out) AS c
                   FROM e JOIN deg ON e.src = deg.src JOIN r0 ON r0.host = e.src
                   GROUP BY e.dst),
            r1 AS (SELECT h.host,
                          0.15 / (SELECT n FROM nn)
                          + 0.85 * (COALESCE(c0.c, 0)
                                    + (SELECT m FROM d0) / (SELECT n FROM nn)) AS r
                   FROM hosts h LEFT JOIN c0 ON h.host = c0.host),
            d1 AS (SELECT COALESCE(SUM(r), 0) AS m FROM r1
                   WHERE host NOT IN (SELECT src FROM deg)),
            c1 AS (SELECT e.dst AS host, SUM(r1.r / deg.out) AS c
                   FROM e JOIN deg ON e.src = deg.src JOIN r1 ON r1.host = e.src
                   GROUP BY e.dst)
            SELECT h.host,
                   0.15 / (SELECT n FROM nn)
                   + 0.85 * (COALESCE(c1.c, 0)
                             + (SELECT m FROM d1) / (SELECT n FROM nn)) AS rank
            FROM hosts h LEFT JOIN c1 ON h.host = c1.host
        """,
        # anchor grammar replay: href + whitespace-collapsed text per <a>;
        # the href-less anchor drops
        # anchor_score twin: one anchor per link, scores closed-form;
        # ext hosts blend rank k/10, relative links have no host
        "anchor_score": """
            WITH d AS (SELECT doc_id FROM documents)
            SELECT link, CAST(1 AS BIGINT) AS n_anchors,
                   anchor_score, anchor_score AS best_anchor_score, priority
            FROM (
              SELECT 'https://ext' || (doc_id % 5) || '.example.org/p/' || doc_id AS link,
                     0.5 AS anchor_score,
                     round(0.5 + (doc_id % 5) / 10.0, 6) AS priority
              FROM d
              UNION ALL
              SELECT '/rel/' || doc_id, 0.25, 0.25 FROM d
            )
        """,
        "anchor_extract": r"""
            WITH b AS (SELECT doc_id,
                              'https://host' || (doc_id % 20) || '.example.com/doc/'
                                || doc_id AS url
                       FROM documents)
            SELECT url,
                   'https://ext' || (doc_id % 5) || '.example.org/p/' || doc_id AS link,
                   'Click ' || doc_id AS anchor
            FROM b
            UNION ALL
            SELECT url, '/rel/' || doc_id, 'rel ' || doc_id FROM b
        """,
        # WAT envelope replay: title whitespace-collapsed (absent every
        # 11th doc), links are the RAW hrefs in document order
        "wat_extract": r"""
            SELECT 'https://host' || (doc_id % 20) || '.example.com/doc/' || doc_id
                     AS target_uri,
                   CASE WHEN doc_id % 11 = 0 THEN NULL
                        ELSE 'Doc ' || doc_id END AS title,
                   unnest(['https://ext' || (doc_id % 5) || '.example.org/p/' || doc_id,
                           '/rel/' || doc_id || '.html']) AS link
            FROM documents
        """,
        # sitemap <loc> grammar replay: entity-decoded query-string loc
        # + fragment-stripped loc survive; the bogus loc drops
        "sitemap_extract": r"""
            SELECT 'https://site' || (doc_id % 7) || '.example.org/sitemap.xml' AS url,
                   unnest(['https://site' || (doc_id % 7) || '.example.org/page/'
                             || doc_id || '?a=1&b=' || (doc_id % 3),
                           'https://site' || (doc_id % 7) || '.example.org/page/'
                             || doc_id]) AS loc
            FROM documents
        """,
        # warc_dedup twin: group = doc_id%50, canonical = min url
        "warc_dedup": """
            WITH u AS (
              SELECT doc_id,
                     'https://host' || (doc_id % 10) || '.example.com/doc'
                       || doc_id || '.html' AS url,
                     doc_id % 50 AS grp
              FROM documents),
            c AS (SELECT grp, min(url) AS canon FROM u GROUP BY grp)
            SELECT u.url,
                   CASE WHEN u.url = c.canon THEN 'response'
                        ELSE 'revisit' END AS wtype,
                   c.canon AS canon_url
            FROM u JOIN c USING (grp)
        """,
        # sitemap_index twin: the same mixed index/urlset grammar in
        # closed form (index when doc_id%5=0, else a one-page urlset)
        "sitemap_index": r"""
            WITH base AS (
              SELECT doc_id,
                     'https://site' || (doc_id % 7) || '.example.org' AS site
              FROM documents
            )
            SELECT site || '/sitemap.xml' AS url,
                   site || '/maps/' || doc_id || '-1.xml' AS loc,
                   'sitemap' AS kind
            FROM base WHERE doc_id % 5 = 0
            UNION ALL
            SELECT site || '/sitemap.xml',
                   site || '/maps/' || doc_id || '-2.xml?a=1&b=2', 'sitemap'
            FROM base WHERE doc_id % 5 = 0
            UNION ALL
            SELECT site || '/sitemap.xml', site || '/page/' || doc_id, 'page'
            FROM base WHERE doc_id % 5 <> 0
        """,
        # SURT url-key replay: scheme dropped, www stripped, host
        # reversed, default port dropped / explicit port kept, tail
        # lowercased, query params sorted; no-scheme rows key NULL
        "surt_key": r"""
            WITH u AS (
              SELECT doc_id,
                     CASE
                       WHEN doc_id % 4 = 0 THEN 'https://www.Host' || (doc_id % 20)
                            || '.Example.COM:443/Path/' || doc_id || '?b=2&a=' || (doc_id % 5)
                       WHEN doc_id % 4 = 1 THEN 'http://sub' || (doc_id % 3)
                            || '.site' || (doc_id % 7) || '.org:8080/x/' || doc_id
                       WHEN doc_id % 4 = 2 THEN 'https://host' || (doc_id % 20)
                            || '.example.com/doc/' || doc_id
                       ELSE 'relative-no-scheme-' || doc_id
                     END AS url
              FROM documents)
            SELECT doc_id, url,
                   CASE
                     WHEN doc_id % 4 = 0 THEN 'com,example,host' || (doc_id % 20)
                          || ')/path/' || doc_id || '?a=' || (doc_id % 5) || '&b=2'
                     WHEN doc_id % 4 = 1 THEN 'org,site' || (doc_id % 7)
                          || ',sub' || (doc_id % 3) || ':8080)/x/' || doc_id
                     WHEN doc_id % 4 = 2 THEN 'com,example,host' || (doc_id % 20)
                          || ')/doc/' || doc_id
                     ELSE NULL
                   END AS urlkey
            FROM u
        """,
        # NFC twin: DuckDB nfc_normalize == python unicodedata NFC;
        # control strip replayed with the same character class
        "unicode_norm": r"""
            WITH p AS (
              SELECT doc_id,
                     text
                     || CASE WHEN doc_id % 3 = 0 THEN ' cafe' || chr(769) ELSE '' END
                     || CASE WHEN doc_id % 5 = 0 THEN chr(7) || 'bell' ELSE '' END
                     || CASE WHEN doc_id % 7 = 0 THEN ' A' || chr(778) ELSE '' END
                       AS text
              FROM documents),
            n AS (SELECT doc_id, text,
                         nfc_normalize(regexp_replace(text,
                             '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g')) AS text_norm
                  FROM p)
            SELECT doc_id, text_norm,
                   text_norm <> text AS changed,
                   CAST(length(text) AS INT) AS n_chars_before,
                   CAST(length(text_norm) AS INT) AS n_chars_after
            FROM n
        """,
        # marker/thin rules replayed on the same planted-text grammar
        "soft404": r"""
            WITH p AS (
              SELECT 'https://host' || (doc_id % 20) || '.example.com/doc/' || doc_id AS url,
                     CASE WHEN doc_id % 7 = 1 THEN 'Error 404: the page was not found.'
                          WHEN doc_id % 11 = 3 THEN 'ok'
                          ELSE text END AS text,
                     CASE WHEN doc_id % 13 = 5 THEN 404 ELSE 200 END AS status
              FROM documents),
            f AS (
              SELECT url, status, text,
                     (contains(lower(text), 'page not found')
                      OR contains(lower(text), 'error 404')
                      OR contains(lower(text), '404 not found')
                      OR contains(lower(text), 'could not be found')
                      OR contains(lower(text), 'no longer available')
                      OR contains(lower(text), 'does not exist')
                      OR contains(lower(text), 'page introuvable')
                      OR contains(lower(text), 'n''existe pas')) AS marker,
                     length(trim(text)) < 80 AS thin
              FROM p)
            SELECT url, status,
                   CASE WHEN marker THEN 'marker' WHEN thin THEN 'thin' END AS reason,
                   status = 200 AND (marker OR thin) AS is_soft404
            FROM f
        """,
        # two synthetic checks per resource; validator class d%3
        # (0=etag, 1=last-modified, 2=none), d%5=0 → validator changed
        "conditional_fetch": r"""
            WITH c AS (
              SELECT doc_id AS d,
                     'host' || (doc_id % 20) || '.example.com' AS domain,
                     CAST(1000 + (doc_id * 7) % 5000 AS BIGINT) AS filesize2,
                     (doc_id % 3) AS vclass,
                     (doc_id % 5 = 0) AS changed
              FROM documents)
            SELECT domain,
                   CAST(COUNT(*) AS BIGINT) AS refetches,
                   CAST(SUM(CASE WHEN vclass IN (0, 1) AND NOT changed
                                 THEN 1 ELSE 0 END) AS BIGINT) AS revalidatable,
                   CAST(round(SUM(CASE WHEN vclass IN (0, 1) AND NOT changed
                                       THEN 1 ELSE 0 END)::DOUBLE / COUNT(*), 4)
                        AS DOUBLE) AS revalidatable_pct,
                   CAST(SUM(CASE WHEN vclass IN (0, 1) AND NOT changed
                                 THEN filesize2 ELSE 0 END) AS BIGINT) AS bytes_saved
            FROM c GROUP BY domain
        """,
        # the link_extract resolution replayed, then aggregated per
        # source host
        "link_stats": r"""
            WITH l AS (
              SELECT 'host' || (doc_id % 20) || '.example.com' AS src_host,
                     unnest(['ext' || (doc_id % 5) || '.example.org',
                             'host' || (doc_id % 20) || '.example.com',
                             'cdn' || (doc_id % 3) || '.example.net',
                             'host' || (doc_id % 20) || '.example.com']) AS dst_host
              FROM documents)
            SELECT src_host,
                   CAST(COUNT(*) AS BIGINT) AS outlinks,
                   CAST(COUNT(DISTINCT dst_host) AS BIGINT) AS distinct_hosts,
                   CAST(SUM(CASE WHEN dst_host = src_host THEN 1 ELSE 0 END)
                        AS BIGINT) AS internal,
                   CAST(round(SUM(CASE WHEN dst_host = src_host THEN 1 ELSE 0 END)::DOUBLE
                              / COUNT(*), 4) AS DOUBLE) AS internal_ratio
            FROM l GROUP BY src_host
        """,
        # mirrored bodies: groups of 3 consecutive ids share content
        # unless d%9<3 (unique → filtered by the n_hosts>=2 gate)
        "mirror_detect": r"""
            WITH p AS (
              SELECT 'https://host' || (doc_id % 20) || '.example.com/doc/' || doc_id AS url,
                     'host' || (doc_id % 20) || '.example.com' AS host,
                     md5('content-' || CAST(CASE WHEN doc_id % 9 < 3 THEN doc_id
                                                 ELSE doc_id - doc_id % 3 END AS VARCHAR)) AS digest
              FROM documents)
            SELECT digest,
                   CAST(COUNT(DISTINCT host) AS BIGINT) AS n_hosts,
                   CAST(COUNT(*) AS BIGINT) AS n_urls,
                   MIN(url) AS canonical_url
            FROM p GROUP BY digest HAVING COUNT(DISTINCT host) >= 2
        """,
    }
