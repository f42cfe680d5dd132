"""Vectorized "fetch": the HTTP HEAD/GET check as a join + columns.

Reference: udata_hydra/crawl/check_resources.py:58-234 — one aiohttp
HEAD (GET fallback) per URL producing a check row. Here the live web is
the ``pages`` table (BASELINE.json input_hint), so a check is a join of
the claimed batch against ``pages`` on url plus pure column expressions
deriving status / headers / checksum / mime — zero per-row Python
(north rule). HEAD→GET fallback (crawl/check_resources.py:107-115,
helpers.py:51-74) degenerates to a `method` column since the simulated
server answers both identically.

Scale: the batch and `pages` are both hash-shuffled on `url` for the
join; when the claimed batch is small Catalyst/AQE broadcasts it. sha1/
length/map construction are whole-stage-codegen expressions over the
binary column — no data leaves the JVM.

Special URL conventions in the synthetic corpus (FIXTURES.md §1):
`/status/404` → 404, `/status/429` → 429, `/timeout` → timeout row,
missing page → connection error, URL without netloc → error check
(check_resources.py:75-90).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hydra_spark.config import HydraConfig
from hydra_spark.crawl.select_batch import hash_build_side
from hydra_spark.functions.urls import url_domain

RFC1123 = "EEE, dd MMM yyyy HH:mm:ss 'GMT'"
# config_default.toml SUSPICIOUS_HTML_HEAD_MAX_BYTES: a HEAD answering a
# small text/html body is assumed to be a WAF block page
SUSPICIOUS_HTML_HEAD_MAX_BYTES = 4096


def has_nice_head(status: Column, headers: Column) -> Column:
    """Is a HEAD response useful, or must the check retry with GET?
    (crawl/helpers.py:51-65 `has_nice_head`): valid status AND at least
    one of content-length/last-modified present AND not a suspiciously
    small text/html answer (non-numeric content-length counts as
    suspicious in the html branch, like the reference's int() except)."""
    from hydra_spark.crawl.change import is_valid_status

    valid = is_valid_status(status).eqNullSafe(True)  # 429's NULL is not nice
    cl_raw = F.element_at(headers, "content-length")
    lm_raw = F.element_at(headers, "last-modified")
    has_hdr = headers.isNotNull() & (cl_raw.isNotNull() | lm_raw.isNotNull())
    ct = F.lower(F.coalesce(F.element_at(headers, "content-type"), F.lit("")))
    cl = cl_raw.try_cast("long")  # non-numeric → NULL (ANSI-safe)
    html_small = ct.startswith("text/html") & (
        cl.isNull() | (cl < SUSPICIOUS_HTML_HEAD_MAX_BYTES)
    )
    return valid & has_hdr & ~html_small


def simulate_fetch(
    batch: DataFrame,
    pages: DataFrame,
    cfg: HydraConfig,
    round_id: int,
    now: str,
) -> DataFrame:
    """Return one check row per batch row (CHECKS_SCHEMA columns plus
    the batch's passthrough columns prefixed as-is)."""
    # only what the check derives from: warc_ts (last-modified) is folded
    # into headers below and dropped; page text rides in `html` — carrying
    # extra columns here doubles the bytes cached per round
    p = pages.select(
        F.col("url").alias("_purl"),
        F.col("warc_ts"),
        F.col("html"),
    )
    # Join strategy (guide §3.1): small claims stay un-hinted so
    # Catalyst broadcasts them (pages not reshuffled at all); production
    # batches get SHUFFLE_HASH on the batch side — build the hash map
    # from the claim (Spark 3.5+ supports build-left for LEFT OUTER,
    # SPARK-36612) instead of the default sort-merge join, which would
    # re-SORT the payload-carrying pages side (~GBs of html) every
    # round. The batch carries ~150 B/row, so per-partition builds are
    # a few MB; pages stream unsorted.
    b = hash_build_side(batch, cfg)
    df = b.join(p, b.url == p._purl, "left").drop("_purl")

    now_ts = F.to_timestamp(F.lit(now))
    no_netloc = url_domain("url").isNull() | (url_domain("url") == "")
    found = F.col("html").isNotNull()
    is_timeout = F.col("url").contains("/timeout/")

    status = (
        F.when(no_netloc | is_timeout | ~found, F.lit(None).cast("int"))
        .when(F.col("url").contains("/status/404/"), F.lit(404))
        .when(F.col("url").contains("/status/429/"), F.lit(429))
        .otherwise(F.lit(200))
    )
    error = (
        F.when(no_netloc, F.concat(F.lit("URL has no netloc: "), F.col("url")))
        .when(is_timeout, F.lit(None).cast("string"))
        .when(~found, F.lit("connection error"))
        .otherwise(F.lit(None).cast("string"))
    )

    # mime: sniff leading bytes (magic-equivalent, utils/file.py:94-113):
    # gzip magic → application/gzip (transparent extraction downstream,
    # utils/file.py:37-43); zip magic → xlsx (the only zip payload in
    # this corpus, like the reference's magic→xlsx detection); html
    # marker → text/html; a first line with ≥2 commas followed by more
    # lines → text/csv; else text/plain. `sniff_mime` is the python twin;
    # change both together (tests/test_fetch_headers.py compares them)
    from hydra_spark.analysis.xls import XLS_MAGIC, XLS_MIME
    from hydra_spark.analysis.xlsx import XLSX_MIME

    is_gzip = F.hex(F.substring(F.col("html"), 1, 2)) == "1F8B"
    is_zip = F.hex(F.substring(F.col("html"), 1, 4)) == "504B0304"
    is_ole2 = F.hex(F.substring(F.col("html"), 1, 8)) == XLS_MAGIC.hex().upper()
    # media magics (utils/file.py's python-magic would report these too);
    # media mimes skip the tabular-analysis gate downstream
    is_png = F.hex(F.substring(F.col("html"), 1, 8)) == "89504E470D0A1A0A"
    is_jpeg = F.hex(F.substring(F.col("html"), 1, 2)) == "FFD8"
    is_gif = F.hex(F.substring(F.col("html"), 1, 4)) == "47494638"
    is_wav = (F.hex(F.substring(F.col("html"), 1, 4)) == "52494646") & (
        F.hex(F.substring(F.col("html"), 9, 4)) == "57415645"
    )
    is_parquet = F.hex(F.substring(F.col("html"), 1, 4)) == "50415231"  # PAR1
    # lenient UTF-8 (cast, not decode): gzip bodies are not valid UTF-8
    # and Spark 4's decode() raises on malformed input
    head = F.substring(F.col("html"), 1, 200).cast("string")
    first_line = F.split(head, "\n")[0]
    looks_csv = (F.size(F.split(first_line, ",")) >= 3) & (F.instr(head, "\n") > 0)
    mime = F.when(~found, F.lit(None).cast("string")).otherwise(
        F.when(is_gzip, F.lit("application/gzip"))
        .when(is_zip, F.lit(XLSX_MIME))
        .when(is_ole2, F.lit(XLS_MIME))
        .when(is_png, F.lit("image/png"))
        .when(is_jpeg, F.lit("image/jpeg"))
        .when(is_gif, F.lit("image/gif"))
        .when(is_wav, F.lit("audio/x-wav"))
        .when(is_parquet, F.lit("application/vnd.apache.parquet"))
        .when(head.startswith("<html"), F.lit("text/html"))
        # GeoJSON sniff: JSON head declaring a FeatureCollection (the
        # reference detects from catalog format / standard mime; our
        # synthetic fetch has only the bytes) — checked before the CSV
        # heuristic so comma-rich compact JSON can't be misread as CSV
        .when(
            head.startswith("{") & head.contains('"FeatureCollection"'),
            F.lit("application/vnd.geo+json"),
        )
        .when(looks_csv, F.lit("text/csv"))
        .otherwise(F.lit("text/plain"))
    )

    ok = status.isNotNull() & (status < 400)
    headers = F.when(
        ok,
        F.map_from_arrays(
            F.array(F.lit("content-length"), F.lit("content-type"), F.lit("last-modified")),
            F.array(
                F.length("html").cast("string"),
                # header derives from the sniffed mime: text types carry a
                # charset, binary (gzip) does not — a constant here would
                # corrupt the C12 content-type-change trigger the moment a
                # page flips text/plain → text/csv
                F.when(mime.startswith("text/"), F.concat(mime, F.lit("; charset=utf-8")))
                .otherwise(mime),
                F.date_format("warc_ts", RFC1123),
            ),
        ),
    ).otherwise(F.lit(None).cast("map<string,string>"))

    # CORS probe (check_resources.py:262-299): synthetic per-host policy —
    # a quarter of hosts expose permissive CORS
    has_cors = F.pmod(F.hash(F.col("domain")), F.lit(4)) == 0
    cors = F.when(
        ok & has_cors,
        F.create_map(
            F.lit("access-control-allow-origin"), F.lit("*"),
            F.lit("access-control-allow-methods"), F.lit("GET, OPTIONS"),
        ),
    ).otherwise(F.lit(None).cast("map<string,string>"))

    # deterministic latency in [0.01, 0.5); timeouts report the 5 s cap
    rt = F.when(is_timeout, F.lit(5.0)).otherwise(
        0.01 + F.pmod(F.xxhash64("url", F.lit(round_id)), F.lit(490)) / 1000.0
    )

    # HEAD→GET fallback (S3, check_resources.py:107-115): the simulated
    # server's HEAD answer is the real headers, except on WAF-fronted
    # hosts (one in seven) whose HEAD returns a small text/html block
    # page; `has_nice_head` then routes the check through GET. Under the
    # simulated server GET returns the same content, so only the
    # `method` column records the retry — but the decision runs the
    # reference's actual heuristic (small-html pages also GET).
    is_waf_host = F.pmod(F.hash(F.col("domain")), F.lit(7)) == 0
    waf_head_headers = F.create_map(
        F.lit("content-length"), F.lit("512"),
        F.lit("content-type"), F.lit("text/html; charset=utf-8"),
    )
    head_headers = F.when(ok & is_waf_host, waf_head_headers).otherwise(headers)
    method = F.when(
        status.isNotNull() & ~has_nice_head(status, head_headers), F.lit("get")
    ).otherwise(F.lit("head"))

    # unique deterministic check id: collision-free w.h.p. and stable at
    # any parallelism (replaces the PG serial, which would need a global
    # row_number → single-partition shuffle at scale)
    check_id = F.xxhash64(F.col("resource_id"), F.lit(round_id + 1_000_003))

    return (
        df.withColumn("id", check_id)
        .withColumn("created_at", now_ts)
        .withColumn("status", status)
        .withColumn("headers", headers)
        .withColumn("timeout", F.when(is_timeout, F.lit(True)).otherwise(F.lit(False)))
        .withColumn("response_time", rt)
        .withColumn("error", error)
        .withColumn("checksum", F.when(found & ~is_timeout, F.sha1(F.col("html"))))
        .withColumn("filesize", F.when(found & ~is_timeout, F.length("html")))
        .withColumn("mime_type", F.when(~is_timeout, mime))
        .withColumn("cors_headers", cors)
        .withColumn("method", method)
        .drop("warc_ts")
    )


def sniff_mime(data: bytes) -> str:
    """`simulate_fetch`'s mime for a body held in python (the CLI jobs'
    `file -b --mime-type` stand-in): the same branches in the same order
    over the same first 200 bytes, decoded as leniently as the JVM's
    binary→string cast."""
    from hydra_spark.analysis.xls import XLS_MAGIC, XLS_MIME
    from hydra_spark.analysis.xlsx import XLSX_MIME

    head = data[:200]
    text = head.decode("utf-8", errors="replace")
    for hit, mime in (
        (head[:2] == b"\x1f\x8b", "application/gzip"),
        (head[:4] == b"PK\x03\x04", XLSX_MIME),
        (head[:8] == XLS_MAGIC, XLS_MIME),
        (head[:8] == b"\x89PNG\r\n\x1a\n", "image/png"),
        (head[:2] == b"\xff\xd8", "image/jpeg"),
        (head[:4] == b"GIF8", "image/gif"),
        (head[:4] == b"RIFF" and head[8:12] == b"WAVE", "audio/x-wav"),
        (head[:4] == b"PAR1", "application/vnd.apache.parquet"),
        (text.startswith("<html"), "text/html"),
        (text.startswith("{") and '"FeatureCollection"' in text, "application/vnd.geo+json"),
        ("\n" in text and text.split("\n", 1)[0].count(",") >= 2, "text/csv"),
    ):
        if hit:
            return mime
    return "text/plain"
