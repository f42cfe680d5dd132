"""The spark-submit entry point: one script, one subcommand per job, the
analog of the reference's `udata-hydra` CLI (reference cli.py entry
points). Submit with:

    python scripts/package.py          # builds dist/hydra_spark.zip
    spark-submit --py-files dist/hydra_spark.zip jobs/hydra.py crawl \
        --pages 5000 --rounds 2 --store /tmp/crawl_store

Subcommands: crawl, load-catalog, analyse-csv, csv-sample,
download-resource, insert-resource-into-catalog, insert-url-into-catalog
(`jobs/hydra.py <subcommand> --help` lists each one's flags).

The package ships to every executor via --py-files, the master/executor
topology comes from spark-submit (here local[*]; on a real cluster
`--master yarn|k8s --num-executors N`), and all state lives in the
StateStore directory (Iceberg tables in production — StateStore is the
seam, see README).

The script deliberately imports hydra_spark ONLY from the shipped zip,
inside the handlers: tests run it from a scratch cwd with a bare
PYTHONPATH to prove the package is self-contained.

Every subcommand prints a final `summary` JSON line on stdout (crawl
prints one line per round before it) and exits 0, or 1 where its
handler says so.
"""

from __future__ import annotations

import argparse
import csv
import hashlib
import json
import os
import sys
import tempfile

from pyspark.sql import Row, SparkSession
from pyspark.sql import functions as F


def crawl(spark: SparkSession, args: argparse.Namespace) -> int:
    """Run crawl rounds over a synthetic or parquet pages corpus,
    seeding the frontier from it on a fresh store (the reference's
    `udata-hydra-crawl`)."""
    from hydra_spark.config import DEFAULT
    from hydra_spark.crawl import run_crawl
    from hydra_spark.crawl.loop import init_state
    from hydra_spark.datagen import generate_frontier, generate_linked_pages, generate_pages
    from hydra_spark.storage import StateStore

    if args.pages_parquet:
        pages = spark.read.parquet(args.pages_parquet)
    elif args.linked_corpus:
        pages = generate_linked_pages(spark, args.pages, n_hosts=args.hosts)
    else:
        pages = generate_pages(spark, args.pages, n_hosts=args.hosts)
    pages = pages.cache()

    store = StateStore(args.store)
    if store.last_round() == 0:
        seed_pages = pages
        if args.seed_every:
            seed_pages = pages.where(
                F.regexp_extract("url", r"/(?:page|doc)/(\d+)$", 1).cast("long")
                % args.seed_every == 0
            )
        init_state(store, generate_frontier(spark, seed_pages))

    cfg = DEFAULT.with_(
        batch_size=args.batch_size, discover_links=args.discover_links,
        mine_traps_every=args.mine_traps_every, trap_min_urls=args.trap_min_urls,
    )
    results = run_crawl(spark, store, pages, cfg, rounds=args.rounds)
    for r in results:
        print(json.dumps({k: v for k, v in r.items() if not isinstance(v, dict)}))
    checked = sum(r["n_checked"] for r in results)
    print(json.dumps({
        "summary": True,
        "rounds_run": len(results),
        "n_checked_total": checked,
        "last_round": store.last_round(),
        "checks_rows": store.checks.read(spark).count(),
    }))
    return 0


def load_catalog(spark: SparkSession, args: argparse.Namespace) -> int:
    """Reference cli/catalog.py:20-113: download catalog CSV →
    mark-deleted sweep → per-row UPSERT (skip archived) → stuck-status
    cleanup. Here the whole load is ONE Spark job: read CSV → MERGE into
    the frontier (one full-outer join on resource_id) → missing rows
    marked deleted → the seen shards learn the new URLs. The first load
    merges into an empty frontier; re-running with a newer export is the
    incremental catalog refresh. `--keep-missing` leaves unlisted rows as
    they are (re-listed ones are still undeleted)."""
    from hydra_spark.catalog import read_catalog_csv, upsert_catalog
    from hydra_spark.storage import StateStore

    store = StateStore(args.store)
    stats = upsert_catalog(
        spark, store, read_catalog_csv(spark, args.catalog),
        mark_missing_deleted=not args.keep_missing,
    )
    frontier = store.frontier.read(spark)
    print(json.dumps({
        "summary": True,
        **stats,
        "frontier_rows": frontier.count(),
        "deleted_rows": frontier.where("deleted").count(),
    }))
    return 0


def analyse_csv(spark: SparkSession, args: argparse.Namespace) -> int:
    """Reference cli/analysis.py:42-123: run the csv analysis pipeline
    on one resource on demand. Here: read the file bytes, run the same
    fused inspection + typed-ingest pass the crawl uses (gzip/xlsx/xls
    transparently handled), append the parsed rows + tables_index entry
    to the store, and print the inspection JSON on stdout."""
    from hydra_spark.analysis.ingest import analyse_csv_batch, tables_index_entries
    from hydra_spark.storage import StateStore

    with open(args.input, "rb") as f:
        data = f.read()
    # stable across processes (hash() is PYTHONHASHSEED-salted): reruns
    # on the same file must append under the same resource_id
    rid = args.resource_id or f"cli-{hashlib.md5(args.input.encode()).hexdigest()[:8]}"
    url = f"file://{args.input}"
    df = spark.createDataFrame(
        [Row(url=url, resource_id=rid, dataset_id="cli", html=bytearray(data))]
    )
    parsed = analyse_csv_batch(df).cache()
    insp_row = parsed.where("inspection IS NOT NULL").select("inspection").first()
    err_row = parsed.where("parsing_error IS NOT NULL").select("parsing_error").first()
    n_rows = parsed.where("row_json IS NOT NULL").count()

    if args.store:
        store = StateStore(args.store)
        rnd = store.last_round() + 1
        with_kind = parsed.selectExpr("'row' AS kind", "*", "CAST(NULL AS STRING) AS text")
        store.outputs.append(with_kind, round_id=rnd)
        store.tables_index.append(
            tables_index_entries(with_kind, "2025-01-15 00:00:00"), round_id=rnd
        )
        store.commit_round(rnd, meta={"analyse_csv": args.input})

    print(json.dumps({
        "summary": True,
        "resource_id": rid,
        "rows_parsed": n_rows,
        "parsing_error": err_row.parsing_error if err_row else None,
        "inspection": json.loads(insp_row.inspection) if insp_row else None,
    }))
    return 0


def csv_sample(spark: SparkSession, args: argparse.Namespace) -> int:
    """Reference cli/db.py:15-101: sample `size` CSV resources from the
    latest checks — half from "remote" domains, half from the platform's
    own static domain — list them in `data/_index.csv`, and optionally
    download each file and record its sniffed mime + real size.
    Differences forced by the engine: ORDER BY RANDOM() becomes a
    deterministic md5(resource_id) order (reproducible across runs and
    engines), and --download reads bodies from the pages corpus parquet
    instead of HTTP."""
    from hydra_spark.crawl.fetch import sniff_mime
    from hydra_spark.storage import StateStore

    store = StateStore(args.store)
    lc = store.latest_checks_view(spark)
    if lc is None:
        raise FileNotFoundError(f"store {args.store} has no checks")
    frontier = store.frontier.read(spark).select(
        F.col("resource_id").alias("_frid"), "dataset_id"
    )
    base = (
        lc.join(frontier, lc.resource_id == frontier._frid, "left")
        .withColumn("content_type",
                    F.coalesce(F.col("headers")["content-type"], F.col("mime_type")))
        .withColumn("content_length",
                    F.coalesce(F.col("headers")["content-length"].cast("long"),
                               F.col("filesize")))
        .where(
            F.col("content_type").like("%csv%")
            & F.col("status").between(200, 399)
            & (F.coalesce(F.col("content_length"), F.lit(0)) <= args.max_size)
        )
        .select("resource_id", "dataset_id", "url", "domain",
                "content_type", "content_length")
    )
    # deterministic stand-in for ORDER BY RANDOM(): md5 of the key is
    # uniform and engine-portable, so the sample replays bit-for-bit
    half = max(args.size // 2, 1)
    rnd = F.md5(F.col("resource_id"))
    remote = (base.where(F.col("domain") != args.own_domain)
              .orderBy(rnd).limit(half))
    ours = (base.where(F.col("domain") == args.own_domain)
            .orderBy(rnd).limit(half))
    sample = remote.unionByName(ours).collect()  # ≤ size rows by contract

    dl_dir = os.path.join(args.out_dir, "downloaded")
    os.makedirs(dl_dir, exist_ok=True)

    bodies = {}
    if args.download and sample:
        wanted = {r["url"] for r in sample}
        pages = spark.read.parquet(args.pages_parquet).where(
            F.col("url").isin(list(wanted))
        )
        bodies = {r["url"]: bytes(r["html"]) for r in
                  pages.select("url", "html").collect()}

    lines = []
    for r in sample:
        filename = os.path.join(dl_dir, f"{r['dataset_id']}_{r['resource_id']}.csv")
        line = {
            "resource_id": r["resource_id"], "dataset_id": r["dataset_id"],
            "url": r["url"], "content_type": r["content_type"],
            "content_length": r["content_length"], "filename": filename,
        }
        if args.download:
            body = bodies.get(r["url"], b"")
            with open(filename, "wb") as f:
                f.write(body)
            line["magic_mime"] = sniff_mime(body)
            line["real_size"] = len(body)
        lines.append(line)

    index_path = os.path.join(args.out_dir, "_index.csv")
    if lines:
        with open(index_path, "w", newline="") as f:
            w = csv.DictWriter(f, fieldnames=list(lines[0].keys()))
            w.writeheader()
            w.writerows(lines)

    print(json.dumps({
        "summary": True,
        "sampled": len(lines),
        "downloaded": len(bodies) if args.download else 0,
        "index": index_path if lines else None,
    }))
    return 0


def download_resource(spark: SparkSession, args: argparse.Namespace) -> int:
    """Reference cli/crawl.py:40-74: look a resource up in the catalog,
    download its url, and move the file to
    `{output_dir}/{resource_id}{ext}`. Here the body comes from the pages
    corpus parquet (the engine's fetch source) instead of HTTP; the
    extension is derived from the sniffed payload magic like the
    reference derives it from headers. Exits 1 when the resource is not
    in the frontier (reference logs an error and returns)."""
    from hydra_spark.analysis.xls import XLS_MIME
    from hydra_spark.analysis.xlsx import XLSX_MIME
    from hydra_spark.crawl.fetch import sniff_mime
    from hydra_spark.storage import StateStore

    store = StateStore(args.store)
    row = (
        store.frontier.read(spark)
        .where(F.col("resource_id") == args.resource_id)
        .select("resource_id", "url")
        .first()
    )
    if row is None:
        print(json.dumps({"summary": True, "error":
                          f"Resource {args.resource_id} not found in catalog"}))
        return 1

    page = (
        spark.read.parquet(args.pages_parquet)
        .where(F.col("url") == row["url"])
        .select("html")
        .first()
    )
    body = bytes(page["html"]) if page is not None and page["html"] is not None else b""

    ext = {"application/gzip": ".csv.gz", XLSX_MIME: ".xlsx", XLS_MIME: ".xls"}.get(
        sniff_mime(body)
    )
    if ext is None:
        tail = row["url"].rsplit("/", 1)[-1]
        ext = "." + tail.rsplit(".", 1)[-1] if "." in tail else ".csv"
    out_dir = args.output_dir or tempfile.mkdtemp(prefix="hydra_download_")
    os.makedirs(out_dir, exist_ok=True)
    out_path = os.path.join(out_dir, f"{args.resource_id}{ext}")
    with open(out_path, "wb") as f:
        f.write(body)

    print(json.dumps({
        "summary": True,
        "resource_id": args.resource_id,
        "url": row["url"],
        "output": out_path,
        "n_bytes": len(body),
        "found_body": page is not None,
    }))
    return 0


def insert_resource_into_catalog(spark: SparkSession, args: argparse.Namespace) -> int:
    """Reference cli/catalog.py:115-173: insert/update ONE catalog row
    without resyncing the whole export (the reference resolves metadata
    from the data.gouv API; here it comes from the flags)."""
    from hydra_spark.catalog import insert_resource
    from hydra_spark.storage import StateStore

    res = insert_resource(
        spark, StateStore(args.store), args.resource_id, args.url,
        dataset_id=args.dataset_id, title=args.title, type=args.type,
        format=args.format, harvest_modified_at=args.harvest_modified_at,
    )
    print(json.dumps({"summary": True, "resource_id": args.resource_id, **res}))
    return 0


def insert_url_into_catalog(spark: SparkSession, args: argparse.Namespace) -> int:
    """Reference cli/catalog.py:176-219: register an arbitrary URL for
    analysis under the fixed 'temp_external' dataset (type 'main',
    default format 'csv')."""
    from hydra_spark.catalog import insert_url
    from hydra_spark.storage import StateStore

    res = insert_url(spark, StateStore(args.store), args.url, args.resource_id)
    print(json.dumps({"summary": True, "resource_id": args.resource_id, **res}))
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(description="hydra_spark jobs")
    sub = p.add_subparsers(dest="command", required=True)

    def command(name, handler, description):
        s = sub.add_parser(name, description=description)
        s.set_defaults(handler=handler, parser=s)
        return s

    s = command("crawl", crawl, "hydra_spark crawl job")
    s.add_argument("--pages", type=int, default=5000, help="synthetic corpus size")
    s.add_argument("--hosts", type=int, default=40, help="distinct hosts in the corpus")
    s.add_argument("--rounds", type=int, default=2)
    s.add_argument("--batch-size", type=int, default=1000)
    s.add_argument("--store", required=True, help="StateStore directory (resume-able)")
    s.add_argument("--pages-parquet", default=None,
                   help="read the pages corpus from parquet instead of synthesizing")
    s.add_argument("--discover-links", action="store_true",
                   help="grow the frontier from hrefs in fetched pages")
    s.add_argument("--linked-corpus", action="store_true",
                   help="synthesize the linked-page graph corpus instead of the mixed one")
    s.add_argument("--seed-every", type=int, default=None,
                   help="seed only every Nth page into the frontier (discovery demos)")
    s.add_argument("--mine-traps-every", type=int, default=0,
                   help="re-mine crawler-trap URL templates every N rounds (0 = off)")
    s.add_argument("--trap-min-urls", type=int, default=5000,
                   help="template fan-out threshold; keep above legit pages-per-host")

    s = command("load-catalog", load_catalog, "hydra_spark catalog loader")
    s.add_argument("--catalog", required=True, help="catalog CSV (data.gouv export shape)")
    s.add_argument("--store", required=True, help="StateStore directory")
    s.add_argument("--keep-missing", action="store_true",
                   help="do NOT mark frontier rows missing from this export as deleted")

    s = command("analyse-csv", analyse_csv, "hydra_spark on-demand csv analysis")
    s.add_argument("--input", required=True, help="local csv/csv.gz/xlsx/xls file")
    s.add_argument("--store", default=None, help="StateStore dir (omit to only inspect)")
    s.add_argument("--resource-id", default=None)

    s = command("csv-sample", csv_sample, "hydra_spark csv sample")
    s.add_argument("--store", required=True, help="StateStore dir with checks")
    s.add_argument("--size", type=int, default=1000, help="sample size (files)")
    s.add_argument("--max-size", type=int, default=100_000_000,
                   help="max content-length per file (bytes)")
    s.add_argument("--download", action="store_true",
                   help="write file bodies (needs --pages-parquet)")
    s.add_argument("--pages-parquet", default=None,
                   help="pages corpus parquet (body source for --download)")
    s.add_argument("--out-dir", default="./data")
    s.add_argument("--own-domain", default="static.data.example.org",
                   help="the platform's own domain (reference: static.data.gouv.fr)")

    s = command("download-resource", download_resource, "hydra_spark resource download")
    s.add_argument("--resource-id", required=True)
    s.add_argument("--store", required=True, help="StateStore dir (frontier lookup)")
    s.add_argument("--pages-parquet", required=True, help="pages corpus parquet")
    s.add_argument("--output-dir", default=None,
                   help="defaults to a temporary download folder, like the reference")

    s = command("insert-resource-into-catalog", insert_resource_into_catalog,
                "hydra_spark single-resource catalog insert")
    s.add_argument("--store", required=True, help="StateStore directory")
    s.add_argument("--resource-id", required=True)
    s.add_argument("--url", required=True)
    s.add_argument("--dataset-id", default=None)
    s.add_argument("--title", default=None)
    s.add_argument("--type", default=None)
    s.add_argument("--format", default=None)
    s.add_argument("--harvest-modified-at", default=None,
                   help="timestamp string, e.g. '2025-01-01 00:00:00'")

    s = command("insert-url-into-catalog", insert_url_into_catalog,
                "hydra_spark external-URL catalog insert")
    s.add_argument("--store", required=True, help="StateStore directory")
    s.add_argument("--url", required=True)
    s.add_argument("--resource-id", required=True)
    return p


def session(app_name: str) -> SparkSession:
    """The one session policy of every job. spark-submit owns
    master/deploy-mode; only job-level SQL conf here."""
    spark = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    if args.command == "csv-sample" and args.download and not args.pages_parquet:
        args.parser.error("--download requires --pages-parquet")
    spark = session(f"hydra_spark_{args.command.replace('-', '_')}")
    try:
        return args.handler(spark, args)
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
