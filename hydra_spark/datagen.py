"""Deterministic synthetic web corpus + frontier seed (FIXTURES.md §1-2).

Everything is pure column expressions over ``spark.range`` — seeded,
reproducible at any scale factor, executable distributed (no driver-side
data). Host sizes follow a Zipf-ish law so per-host skew (and therefore
salting + AQE skew handling) is actually exercised.

Special rows (FIXTURES.md §1): 404s, 429s, timeout sentinels, a
no-netloc URL, EXCLUDED_PATTERNS matches, CSV payloads for the analysis
path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hydra_spark.catalog import as_frontier_rows
from hydra_spark.config import DEFAULT, HydraConfig
from hydra_spark.functions.urls import resource_id_of

BASE_TS = "2025-01-01 00:00:00"


def _u01(col, seed: int):
    """Deterministic uniform(0,1) from a column (xxhash64-based)."""
    return (F.pmod(F.xxhash64(col, F.lit(seed)), F.lit(1_000_000_007)) / 1_000_000_007.0)


def generate_pages(
    spark: SparkSession,
    n_urls: int,
    n_hosts: int = 100,
    seed: int = 42,
    csv_rows_per_page: int = 20,
    hot_host_frac: float | None = None,
) -> DataFrame:
    """Common-Crawl-style ``pages`` table (BASELINE.json input_hint):
    (url string, warc_ts timestamp, html binary, text string, lang string).

    ~30% of pages carry a CSV payload (the analysis path); the rest are
    HTML. ``text`` is the reference-extracted text for the byte-identical
    invariant: for CSV pages the raw CSV text, for HTML the body text.

    ``hot_host_frac`` forces that fraction of all pages onto host0 —
    the skew stress corpus (SURVEY §7 risk register: one domain owning
    half the frontier must not serialize the claim or the round).
    """
    df = spark.range(n_urls).withColumnRenamed("id", "page_id")

    # Zipf-ish host assignment: inverse-CDF of 1/(h+1) mass.
    u = _u01(F.col("page_id"), seed)
    host_id = (F.floor(F.exp(u * F.log(F.lit(float(n_hosts + 1))))) - 1).cast("int")
    if hot_host_frac is not None:
        is_hot = _u01(F.col("page_id"), seed + 5) < float(hot_host_frac)
        host_id = F.when(is_hot, F.lit(0)).otherwise(host_id)
    df = df.withColumn("host_id", F.least(host_id, F.lit(n_hosts - 1)))
    df = df.withColumn(
        "host",
        F.concat(F.lit("host"), F.col("host_id").cast("string"), F.lit(".example.com")),
    )

    pid = F.col("page_id")
    df = df.withColumn(
        "url",
        F.when(pid % 401 == 13, F.lit(None).cast("string"))  # replaced below
        .otherwise(
            F.concat(
                F.lit("https://"),
                F.col("host"),
                F.when(pid % 101 == 7, F.concat(F.lit("/status/404/r"), pid.cast("string")))
                .when(pid % 211 == 11, F.concat(F.lit("/status/429/r"), pid.cast("string")))
                .when(pid % 307 == 17, F.concat(F.lit("/timeout/r"), pid.cast("string")))
                .when(pid % 89 == 29, F.concat(F.lit("/private/r"), pid.cast("string")))
                .otherwise(F.concat(F.lit("/r/"), pid.cast("string"))),
            )
        ),
    )
    # special rows: excluded patterns + a no-netloc URL (F5)
    df = df.withColumn(
        "url",
        F.when(pid % 401 == 13, F.concat(F.lit("http://geo.data.gouv.fr/shp/"), pid.cast("string")))
        .when(pid % 509 == 19, F.concat(F.lit("https://"), F.col("host"), F.lit("/export?format=shp&id="), pid.cast("string")))
        .when(pid == 13, F.lit("no-netloc-url-13"))
        .otherwise(F.col("url")),
    )

    df = df.withColumn(
        "warc_ts",
        F.to_timestamp(F.lit(BASE_TS)) + F.make_interval(secs=(pid * 37 % 864000).cast("double")),
    )

    # payload: ~30% CSV (deterministic), else HTML
    is_csv = F.pmod(F.xxhash64(pid, F.lit(seed + 1)), F.lit(10)) < 3
    row_idx = F.sequence(F.lit(0), F.lit(csv_rows_per_page - 1))
    csv_body = F.concat(
        F.lit("code_insee,number,label\n"),
        F.array_join(
            F.transform(
                row_idx,
                lambda i: F.concat(
                    ((pid * 131 + i * 7919) % 95999 + 1000).cast("string"),
                    F.lit(","),
                    ((pid + i * 13) % 1000).cast("string"),
                    F.lit(",item_"),
                    i.cast("string"),
                ),
            ),
            "\n",
        ),
    )
    html_text = F.concat(
        F.lit("Document "),
        pid.cast("string"),
        F.lit(" from "),
        F.col("host"),
        F.lit(". Lorem ipsum dolor sit amet, id="),
        (pid % 7777).cast("string"),
        F.lit("."),
    )
    html_body = F.concat(
        F.lit("<html><head><title>"),
        pid.cast("string"),
        F.lit("</title></head><body><p>"),
        html_text,
        F.lit("</p></body></html>"),
    )
    df = (
        df.withColumn("is_csv", is_csv)
        .withColumn("text", F.when(is_csv, csv_body).otherwise(html_text))
        .withColumn("payload", F.when(is_csv, csv_body).otherwise(html_body))
        .withColumn("html", F.encode(F.col("payload"), "UTF-8"))
        .withColumn("lang", F.when(F.col("host_id") % 3 == 0, F.lit("en")).otherwise(F.lit("fr")))
        # a slice of CSV pages ships gzip-compressed (S5/C17 path),
        # another as xlsx workbooks and a third as legacy .xls (S7
        # paths); `text` stays the decompressed/decoded reference text
        # either way
        .withColumn("gzipped", is_csv & (pid % 131 == 3))
        .withColumn("xlsxed", is_csv & (pid % 127 == 5) & ~(pid % 131 == 3))
        .withColumn(
            "xlsed",
            is_csv & (pid % 137 == 7) & ~(pid % 131 == 3) & ~(pid % 127 == 5),
        )
    )
    out = df.select("url", "warc_ts", "html", "text", "lang", "gzipped", "xlsxed", "xlsed")

    def _gz(batches):
        import gzip

        from hydra_spark.analysis.xls import xls_bytes
        from hydra_spark.analysis.xlsx import xlsx_bytes

        for pdf in batches:
            mask = pdf["gzipped"]
            if mask.any():
                pdf.loc[mask, "html"] = pdf.loc[mask, "html"].map(
                    lambda b: gzip.compress(bytes(b), compresslevel=1, mtime=0)
                )
            for col, codec in (("xlsxed", xlsx_bytes), ("xlsed", xls_bytes)):
                xmask = pdf[col]
                if xmask.any():
                    pdf.loc[xmask, "html"] = pdf.loc[xmask, "text"].map(
                        lambda t: codec([line.split(",") for line in t.split("\n")])
                    )
            yield pdf.drop(columns=["gzipped", "xlsxed", "xlsed"])

    return out.mapInPandas(
        _gz, schema="url string, warc_ts timestamp, html binary, text string, lang string"
    )


def generate_media_pages(
    spark: SparkSession, n: int, n_hosts: int = 10, seed: int = 7
) -> DataFrame:
    """Media-asset pages for the multimodal crawl path: real PNG images
    (even ids) and PCM WAV clips (odd ids), deterministically generated
    per id executor-side (numpy seeded by (seed, id)) — same schema as
    `generate_pages` so the frontier/crawl machinery runs unchanged."""
    import io
    import wave

    base = spark.range(n).select(
        F.col("id").alias("page_id"),
        F.concat(
            F.lit("https://media"), (F.col("id") % n_hosts).cast("string"),
            F.lit(".example.com/asset/"), F.col("id").cast("string"),
            F.when(F.col("id") % 2 == 0, F.lit(".png")).otherwise(F.lit(".wav")),
        ).alias("url"),
        (F.to_timestamp(F.lit(BASE_TS))
         + F.make_interval(secs=(F.col("id") * 53 % 864000).cast("double"))).alias("warc_ts"),
    )

    def gen(batches):
        import numpy as np
        import pandas as pd

        from hydra_spark.ml.multimodal import encode_png

        for pdf in batches:
            payloads = []
            for pid in pdf["page_id"]:
                rng = np.random.default_rng((seed, int(pid)))
                if pid % 2 == 0:
                    px = rng.integers(0, 256, size=(12, 10, 3), dtype=np.uint8)
                    payloads.append(encode_png(px))
                else:
                    buf = io.BytesIO()
                    with wave.open(buf, "wb") as w:
                        w.setnchannels(1)
                        w.setsampwidth(2)
                        w.setframerate(2000)
                        samples = (rng.standard_normal(1000) * 8000).astype("<i2")
                        w.writeframes(samples.tobytes())
                    payloads.append(buf.getvalue())
            yield pd.DataFrame({
                "url": pdf["url"], "warc_ts": pdf["warc_ts"],
                "html": payloads, "text": [""] * len(pdf),
                "lang": [None] * len(pdf),
            })

    return base.mapInPandas(
        gen, schema="url string, warc_ts timestamp, html binary, text string, lang string"
    )


def generate_robots_pages(spark: SparkSession, pages: DataFrame) -> DataFrame:
    """(domain, body): one robots.txt fetch per host of the corpus.
    Every fifth host (by murmur3 of its domain: `pmod(hash(domain), 5)
    == 0`) disallows /private/ for all agents; the rest allow
    everything. The bodies carry comment/crawl-delay/sitemap noise so
    the parser is exercised, not just the happy path."""
    from hydra_spark.functions.urls import url_domain

    domains = pages.select(url_domain("url").alias("domain")).where(
        F.col("domain").isNotNull()
    ).distinct()
    blocked = F.pmod(F.hash("domain"), F.lit(5)) == 0
    body = F.when(
        blocked,
        F.concat(
            F.lit("# synthetic robots\nUser-agent: *\nCrawl-delay: 1\nDisallow: /private/\n\nSitemap: https://"),
            F.col("domain"),
            F.lit("/sitemap.xml\n"),
        ),
    ).otherwise(F.lit("# open host\nUser-agent: *\nDisallow:\n"))
    return domains.select("domain", body.alias("body"))


def generate_frontier(
    spark: SparkSession,
    pages: DataFrame,
    cfg: HydraConfig = DEFAULT,
    seed: int = 42,
) -> DataFrame:
    """Seed frontier (hydra `catalog`) from the pages corpus: one
    resource per URL, deterministic UUID-shaped resource ids from
    md5(url) (the reference names parsed tables md5(url) too —
    data_formats/csv_like/to_db.py:41). `as_frontier_rows` builds the
    rows, as it builds every new frontier row."""
    h = F.md5(F.col("url"))
    # md5-derived index (first 15 hex nibbles → 60-bit int) rather than
    # xxhash64: same determinism, but reproducible in any md5-capable
    # engine — the DuckDB oracle for the crawl round replays deleted/
    # priority/harvest flags from it
    idx = F.conv(F.substring(F.md5(F.col("url")), 1, 15), 16, 10).cast("long")
    return as_frontier_rows(
        pages.select(
            F.substring(F.md5(F.concat(F.lit("ds"), F.col("url"))), 1, 24).alias("dataset_id"),
            resource_id_of("url").alias("resource_id"),
            F.col("url"),
            (F.pmod(idx, F.lit(499)) == 0).alias("deleted"),
            # NULL, but set before the dedup rather than defaulted after
            # it: a literal NULL there lets the optimizer prove no row was
            # ever checked and drop the claim's latest-check join from
            # plans built on this frontier (tests/test_plans.py checks it)
            F.lit(None).cast("long").alias("last_check"),
            (F.pmod(idx, F.lit(97)) == 0).alias("priority"),
            F.when(F.pmod(idx, F.lit(5)) == 0, F.col("warc_ts") - F.expr("INTERVAL 10 DAYS"))
            .alias("harvest_modified_at"),
            F.lit("main").alias("type"),
            F.when(F.substring(F.col("html").cast("string"), 1, 5) != "<html", F.lit("csv"))
            .alias("format"),
            F.concat(F.lit("resource "), F.substring(h, 1, 8)).alias("title"),
        ),
        cfg,
    )


def rich_html_page(idx: Column) -> tuple[Column, Column]:
    """(html_source, expected_text) for a deterministic full-page HTML
    grammar exercising every behavior of `analysis.extract.html_to_text`:
    skip containers (head/title/style/script/nav/footer), comments,
    inline markup flowing through block text, entity decoding, intra-
    block whitespace collapse, per-id paragraph multiplicity and a
    conditional list. Both sides are pure column expressions, so a SQL
    oracle can rebuild `expected_text` from the id alone — the same
    arithmetic-replay pattern as the media-container grammar."""
    i = idx.cast("string")
    paras_html = F.array_join(
        F.transform(
            F.sequence(F.lit(0), (idx % 3).cast("int")),
            lambda j: F.concat(
                F.lit("<p>para  "), i, F.lit(" "), j.cast("string"),
                F.lit("  alpha &amp; beta</p>"),
            ),
        ),
        "",
    )
    list_html = F.when(
        idx % 4 == 0,
        F.concat(
            F.lit("<ul><li>item one "), i,
            F.lit("</li><li>item &quot;two&quot;</li></ul>"),
        ),
    ).otherwise(F.lit(""))
    html = F.concat(
        F.lit("<html><head><title>Doc "), i,
        F.lit("</title><style>p { color: red }</style></head><body>"),
        F.lit("<nav>home | about | contact</nav><!-- build "), i, F.lit(" -->"),
        F.lit("<h1>Heading <b>"), i, F.lit("</b></h1>"),
        F.lit("<script>var x = "), i, F.lit(";</script>"),
        paras_html,
        list_html,
        F.lit("<footer>&copy; example.com</footer></body></html>"),
    )
    paras_text = F.array_join(
        F.transform(
            F.sequence(F.lit(0), (idx % 3).cast("int")),
            lambda j: F.concat(
                F.lit("para "), i, F.lit(" "), j.cast("string"),
                F.lit(" alpha & beta"),
            ),
        ),
        "\n",
    )
    expected = F.concat(
        F.lit("Heading "), i, F.lit("\n"), paras_text,
        F.when(
            idx % 4 == 0,
            F.concat(F.lit("\nitem one "), i, F.lit('\nitem "two"')),
        ).otherwise(F.lit("")),
    )
    return html, expected


def generate_linked_pages(
    spark: SparkSession,
    n: int,
    n_hosts: int = 100,
    out_degree: int = 3,
) -> DataFrame:
    """Pure-HTML corpus whose pages LINK to each other — a deterministic
    web graph for exercising frontier growth (crawl/discover.py): page
    ``i`` links to ``(i*7+1) % n``, ``(i*13+3) % n``, ``(i*31+7) % n``
    (first ``out_degree``), a fixed-degree expander-ish graph that a
    breadth-first crawl reaches fully from a small seed set in a few
    rounds. Same (url, warc_ts, html, text, lang) shape as
    `generate_pages`."""
    muls = [(7, 1), (13, 3), (31, 7)][:out_degree]
    i = F.col("id")

    def url_of(x):
        return F.concat(
            F.lit("https://host"), (x % n_hosts).cast("string"),
            F.lit(".example.com/page/"), x.cast("string"),
        )

    text = F.concat(F.lit("linked doc "), i.cast("string"))
    anchors = [
        F.concat(F.lit('<a href="'), url_of((i * m + c) % n), F.lit('">l</a>'))
        for m, c in muls
    ]
    html = F.concat(
        F.lit("<html><head><title>d</title></head><body><p>"), text, F.lit("</p>"),
        *anchors, F.lit("</body></html>"),
    )
    return spark.range(n).select(
        url_of(i).alias("url"),
        (F.to_timestamp(F.lit("2025-01-01 00:00:00"))
         + F.make_interval(secs=(i * 53 % 864000).cast("double"))).alias("warc_ts"),
        F.encode(html, "UTF-8").alias("html"),
        text.alias("text"),
        F.when(i % 3 == 0, F.lit("en")).otherwise(F.lit("fr")).alias("lang"),
    )
