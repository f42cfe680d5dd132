"""Physical-plan quality gates (SURVEY.md §4): filters/columns reach the
parquet scan, small sides broadcast, the scale-path claim has no global
sort, codegen covers the hot expressions."""

import pytest
from pyspark.sql import functions as F

from hydra_spark.config import DEFAULT
from hydra_spark.crawl.select_batch import select_batch
from hydra_spark.datagen import generate_frontier, generate_pages

SF = "/root/testdata/sf0.01"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _keyed_exchanges(plan: str) -> int:
    """Data-movement exchanges that matter at scale: hash/range
    repartitions. The round-6 `fan_out` guard adds ONE RoundRobin
    exchange when (and only when) the input scan is degenerate — a
    single-file/single-row-group local fixture — so the shuffle gates
    count keyed exchanges and ignore that scan-spreading repartition
    (which disappears on a properly partitioned production table)."""
    return plan.count("Exchange hashpartitioning") + plan.count("Exchange rangepartitioning")


def _formatted(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_and_column_pushdown(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    q = li.where(F.col("l_shipdate") < "1995-01-01").select("l_orderkey", "l_quantity")
    plan = _formatted(q)
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
    # column pruning: scan schema only carries the 3 referenced columns
    assert "l_extendedprice" not in plan.split("ReadSchema")[1].split("\n")[0]


def test_broadcast_join_for_small_dim(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    supp = spark.read.parquet(f"{SF}/supplier.parquet")
    q = li.join(supp, li.l_suppkey == supp.s_suppkey)
    assert "BroadcastHashJoin" in _plan(q)


def test_scale_claim_has_no_global_sort(spark):
    pages = generate_pages(spark, 2000, n_hosts=10)
    frontier = generate_frontier(spark, pages)
    cfg = DEFAULT.with_(batch_size=50_000, bucket_claim_threshold=100)
    plan = _plan(select_batch(frontier, None, cfg, 1, "2025-01-15 00:00:00"))
    # per-bucket quota path: only within-partition window sorts, no
    # global sort, no TakeOrdered driver-side merge; Spark 4 even turns
    # the rank filter into a WindowGroupLimit
    assert "TakeOrderedAndProject" not in plan
    assert "Sort [host_bucket" in plan  # window sorts, clustered by bucket
    assert plan.count("Exchange hashpartitioning(host_bucket") == 1  # ONE claim shuffle


def test_small_claim_uses_top_k(spark):
    pages = generate_pages(spark, 2000, n_hosts=10)
    frontier = generate_frontier(spark, pages)
    plan = _plan(select_batch(frontier, None, DEFAULT.with_(batch_size=40), 1, "2025-01-15 00:00:00"))
    assert "TakeOrderedAndProject" in plan


def test_fetch_join_reuses_pages_partitioning(spark):
    from hydra_spark.crawl.fetch import simulate_fetch

    pages = generate_pages(spark, 2000, n_hosts=10).repartition(8, F.col("url")).persist()
    pages.count()
    frontier = generate_frontier(spark, pages)
    batch = select_batch(frontier, None, DEFAULT.with_(batch_size=40), 1, "2025-01-15 00:00:00")
    plan = _plan(simulate_fetch(batch, pages, DEFAULT, 1, "2025-01-15 00:00:00"))
    # pages side: cached scan feeds the join with NO new exchange on it
    # (either reused via its existing hash partitioning or the tiny batch
    # side was broadcast — both avoid reshuffling the corpus)
    assert ("BroadcastHashJoin" in plan) or (
        plan.count("Exchange hashpartitioning(url") <= 1
    )
    pages.unpersist()


@pytest.mark.parametrize(
    "cfg, join",
    [
        (DEFAULT.with_(batch_size=40), "BroadcastHashJoin"),
        (DEFAULT.with_(batch_size=50_000, bucket_claim_threshold=100), "ShuffledHashJoin"),
    ],
    ids=["below_claim_threshold", "above_claim_threshold"],
)
def test_join_strategy_follows_claim_threshold(spark, cfg, join):
    """Small rounds broadcast the small side; bucket-claim rounds hash-
    build on the narrow side: the claim's latest-check join and the
    fetch join each plan exactly one join of the expected kind."""
    from hydra_spark.crawl.fetch import simulate_fetch

    now = "2025-01-15 00:00:00"
    pages = generate_pages(spark, 2000, n_hosts=10)
    frontier = generate_frontier(spark, pages)
    lc = frontier.select(
        "resource_id", F.to_timestamp(F.lit("2025-01-01 00:00:00")).alias("next_check_at")
    )
    claim = _plan(select_batch(frontier, lc, cfg, 1, now))
    fetch = _plan(simulate_fetch(select_batch(frontier, None, cfg, 1, now), pages, cfg, 1, now))
    for plan in (claim, fetch):
        assert join in plan and plan.count("Join") == 1, plan


def test_whole_stage_codegen_covers_fetch_exprs(spark):
    from hydra_spark.crawl.fetch import simulate_fetch

    pages = generate_pages(spark, 500, n_hosts=5)
    frontier = generate_frontier(spark, pages)
    batch = select_batch(frontier, None, DEFAULT.with_(batch_size=40), 1, "2025-01-15 00:00:00")
    fetched = simulate_fetch(batch, pages, DEFAULT, 1, "2025-01-15 00:00:00")
    fetched.collect()  # AQE finalizes (and codegen-annotates) only on execution
    plan = _plan(fetched)
    assert "isFinalPlan=true" in plan
    assert "WholeStageCodegen" in plan or "*(" in plan


def test_curation_is_single_shuffle(spark):
    """The curation pipeline's gates are stateless predicates; only the
    dedup window shuffles — exactly ONE exchange in the whole plan."""
    from hydra_spark.ml.pipeline import curate

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(curate(docs))
    assert _keyed_exchanges(plan) == 1, plan


def test_minhash_plan_has_no_cartesian(spark):
    """LSH banding must compile to a hash-partitioned equi-join on the
    bucket keys — never a cartesian/nested-loop pair enumeration."""
    from hydra_spark.ml.dedup import minhash_lsh_candidates

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(minhash_lsh_candidates(docs, k=16, bands=4))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # any equi-join flavor is fine (AQE broadcasts the capped band side
    # at small sf; sort-merge/shuffled-hash at scale)
    assert any(j in plan for j in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin"))


def test_repetition_features_is_shuffle_free(spark):
    """Per-doc repetition stats are pure column expressions — the plan
    must contain NO exchange at all (embarrassingly parallel at 100 TB)."""
    from hydra_spark.ml.webtext import repetition_features

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(repetition_features(docs, k=2))
    assert _keyed_exchanges(plan) == 0, plan


def test_unigram_lm_corpus_side_never_shuffles(spark):
    """The scoring join must broadcast the aggregated vocab; the only
    exchanges allowed are the vocab/total aggregations and the final
    per-doc re-agg — the exploded corpus itself must not hash-partition
    by word (stopword skew would kill that at scale)."""
    from hydra_spark.ml.webtext import unigram_lm_score

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(unigram_lm_score(docs, vocab_size=20))
    assert "BroadcastHashJoin" in plan
    # exactly ONE word-keyed exchange: the vocab frequency aggregate
    # (map-side combined, so only (word, count) rows move) — the raw
    # exploded corpus itself never hash-partitions by word
    assert plan.count("Exchange hashpartitioning(word") == 1, plan


def test_pack_sequences_single_window_exchange(spark):
    """Packing is one cumulative-sum window per shard: exactly ONE
    exchange, keyed on the shard column."""
    from hydra_spark.ml.webtext import pack_sequences

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(pack_sequences(docs, window=64))
    assert _keyed_exchanges(plan) == 1, plan
    assert "Exchange hashpartitioning(source" in plan


def test_chunk_dedup_no_cartesian_and_bounded_exchanges(spark):
    """Corpus line dedup: frequency-table shuffle + co-keyed join +
    per-doc re-agg — a handful of hash exchanges, never a cartesian."""
    from hydra_spark.ml.webtext import chunk_dedup_corpus

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(chunk_dedup_corpus(docs, k=4))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Exchange hashpartitioning") <= 6, plan
    # the frequency exchange and join key on xxhash64(chunk), not the
    # raw chunk string (8 B vs ~25 B+ of shuffle bytes per row)
    assert "Exchange hashpartitioning(chunk_h" in plan, plan
    assert "Exchange hashpartitioning(chunk," not in plan, plan
    assert "Exchange hashpartitioning(chunk#" not in plan, plan
