"""Fetch header fidelity: the content-type header must derive from the
sniffed mime (check_resources.py headers ↔ magic mime agreement), so the
C12 content-type-change trigger fires when a page flips text/plain →
text/csv."""

from pyspark.sql import functions as F

from hydra_spark.config import DEFAULT
from hydra_spark.crawl.change import has_check_changed_expr
from hydra_spark.crawl.fetch import simulate_fetch, sniff_mime

NOW = "2025-01-15 00:00:00"


def _pages(spark, body: str):
    return spark.createDataFrame(
        [("https://h.com/doc/1", body.encode())], "url string, html binary"
    ).select(
        "url", F.to_timestamp(F.lit("2025-01-01 00:00:00")).alias("warc_ts"), "html"
    )


def _batch(spark):
    return spark.createDataFrame(
        [("r1", "https://h.com/doc/1", "h.com")],
        "resource_id string, url string, domain string",
    )


def _fetch_one(spark, body: str):
    return simulate_fetch(_batch(spark), _pages(spark, body), DEFAULT, 1, NOW).first()


def test_content_type_header_matches_mime(spark):
    plain = _fetch_one(spark, "just some plain prose without commas")
    assert plain["mime_type"] == "text/plain"
    assert plain["headers"]["content-type"] == "text/plain; charset=utf-8"

    csv = _fetch_one(spark, "a,b,c\n1,2,3\n4,5,6")
    assert csv["mime_type"] == "text/csv"
    assert csv["headers"]["content-type"] == "text/csv; charset=utf-8"

    html = _fetch_one(spark, "<html><body><p>x</p></body></html>")
    assert html["mime_type"] == "text/html"
    assert html["headers"]["content-type"] == "text/html; charset=utf-8"

    import gzip

    gz_pages = spark.createDataFrame(
        [("https://h.com/doc/1", gzip.compress(b"a,b,c\n1,2,3", mtime=0))],
        "url string, html binary",
    ).select("url", F.to_timestamp(F.lit("2025-01-01 00:00:00")).alias("warc_ts"), "html")
    gz = simulate_fetch(_batch(spark), gz_pages, DEFAULT, 1, NOW).first()
    assert gz["mime_type"] == "application/gzip"
    assert gz["headers"]["content-type"] == "application/gzip"  # no charset on binary


def test_content_type_flip_fires_c12_trigger(spark):
    """text/plain → text/csv with identical length: only the
    content-type header differs, and has_check_changed must fire
    (preprocess_check_data.py:80-126 compares the header pair)."""
    prev = _fetch_one(spark, "plain prose here no commas at all..")
    cur = _fetch_one(spark, "a,b,c\n1,2,3\n4,5,6\n7,8,9,10,11,12,13")
    assert prev["filesize"] == cur["filesize"]  # isolate the type flip
    assert prev["status"] == cur["status"] == 200

    pair = spark.createDataFrame(
        [
            (
                cur["status"], cur["timeout"], cur["headers"], cur["cors_headers"],
                True, prev["status"], prev["timeout"], prev["headers"], prev["cors_headers"],
            )
        ],
        "status int, timeout boolean, headers map<string,string>,"
        " cors_headers map<string,string>, prev_exists boolean, prev_status int,"
        " prev_timeout boolean, prev_headers map<string,string>,"
        " prev_cors_headers map<string,string>",
    )
    assert pair.select(has_check_changed_expr().alias("x")).first()["x"] is True

    # control: identical checks do NOT fire
    same = spark.createDataFrame(
        [
            (
                cur["status"], cur["timeout"], cur["headers"], cur["cors_headers"],
                True, cur["status"], cur["timeout"], cur["headers"], cur["cors_headers"],
            )
        ],
        "status int, timeout boolean, headers map<string,string>,"
        " cors_headers map<string,string>, prev_exists boolean, prev_status int,"
        " prev_timeout boolean, prev_headers map<string,string>,"
        " prev_cors_headers map<string,string>",
    )
    assert same.select(has_check_changed_expr().alias("x")).first()["x"] is False


def test_has_nice_head_truth_table(spark):
    """crawl/helpers.py:51-65: valid status + a content-length or
    last-modified header + not a small text/html (WAF block) answer."""
    from hydra_spark.crawl.fetch import has_nice_head

    cases = [
        # (status, headers, expected)
        (200, {"content-length": "10000", "content-type": "text/csv"}, True),
        (200, {"last-modified": "Wed, 01 Jan 2025 00:00:00 GMT"}, True),
        (200, {}, False),                          # no useful headers
        (200, None, False),
        (404, {"content-length": "10000"}, False),  # invalid status
        (429, {"content-length": "10000"}, False),  # unknowable -> not nice
        (None, {"content-length": "10000"}, False),
        (200, {"content-length": "512", "content-type": "text/html"}, False),   # WAF block
        (200, {"content-length": "9999", "content-type": "text/html"}, True),   # real html
        (200, {"content-length": "oops", "content-type": "text/html"}, False),  # non-numeric
        (200, {"content-length": "oops", "content-type": "text/csv"}, True),    # only html branch checks size
    ]
    df = spark.createDataFrame(
        [(i, s, h) for i, (s, h, _) in enumerate(cases)],
        "i int, status int, headers map<string,string>",
    )
    got = {
        r["i"]: r["nice"]
        for r in df.select(
            "i", has_nice_head(F.col("status"), F.col("headers")).alias("nice")
        ).collect()
    }
    for i, (_, _, expected) in enumerate(cases):
        assert got[i] == expected, (i, cases[i], got[i])


def test_waf_host_head_falls_back_to_get(spark):
    """A WAF-fronted host's HEAD returns a small html block page ->
    the check records method='get'; a healthy big-enough answer keeps
    HEAD (check_resources.py:107-115)."""
    import pyspark.sql.functions as SF

    hosts = [f"h{i}.com" for i in range(30)]
    pages = spark.createDataFrame(
        [(f"https://{h}/doc/1", ("x" * 5000 + ",a,b\n1,2,3").encode()) for h in hosts],
        "url string, html binary",
    ).select("url", SF.to_timestamp(SF.lit("2025-01-01 00:00:00")).alias("warc_ts"), "html")
    batch = spark.createDataFrame(
        [(f"r{i}", f"https://{h}/doc/1", h) for i, h in enumerate(hosts)],
        "resource_id string, url string, domain string",
    )
    rows = simulate_fetch(batch, pages, DEFAULT, 1, NOW).collect()
    waf = {r["domain"] for r in rows if r["method"] == "get"}
    assert waf, "some hosts should be WAF-fronted"
    assert len(waf) < len(hosts), "not all hosts are WAF-fronted"
    # deterministic per-domain: same host always yields the same method
    rows2 = simulate_fetch(batch, pages, DEFAULT, 2, NOW).collect()
    assert {r["domain"] for r in rows2 if r["method"] == "get"} == waf


def test_sniff_mime_matches_fetch_mime(spark):
    """`sniff_mime` (the CLI jobs' sniffer) and `simulate_fetch`'s mime
    column give the same mime for every payload: each magic, html (and
    html after leading blanks, which is not html), geojson, csv, a
    one-line body, a csv whose first newline lies past the 200-byte
    window, an empty body and non-UTF-8 bytes."""
    import gzip

    from hydra_spark.analysis.xls import XLS_MAGIC

    payloads = [
        gzip.compress(b"a,b,c\n1,2,3", mtime=0),
        b"PK\x03\x04" + b"\x00" * 40,
        XLS_MAGIC + b"\x00" * 40,
        b"\x89PNG\r\n\x1a\n" + b"\x00" * 40,
        b"\xff\xd8\xff\xe0" + b"\x00" * 40,
        b"GIF89a" + b"\x00" * 40,
        b"RIFF\x24\x00\x00\x00WAVEfmt " + b"\x00" * 40,
        b"PAR1" + b"\x00" * 40,
        b"<html><body><p>x, y, z</p></body></html>\n",
        b"  <html><body>indented</body></html>\n",
        b'{"type": "FeatureCollection", "features": [{"a": 1, "b": 2}]}\n',
        b"a,b,c\n1,2,3\n",
        b"a,b,c",
        b"a,b," + b"x" * 250 + b"\n1,2,3\n",
        b"",
        b"caf\xe9,na\xefve,\xff\n1,2,3\n",
        b"\x80\x81\x82 plain",
    ]
    pages = spark.createDataFrame(
        [(f"https://h.com/doc/{i}", p) for i, p in enumerate(payloads)],
        "url string, html binary",
    ).select("url", F.to_timestamp(F.lit("2025-01-01 00:00:00")).alias("warc_ts"), "html")
    batch = spark.createDataFrame(
        [(f"r{i}", f"https://h.com/doc/{i}", "h.com") for i in range(len(payloads))],
        "resource_id string, url string, domain string",
    )
    jvm = {r["url"]: r["mime_type"] for r in
           simulate_fetch(batch, pages, DEFAULT, 1, NOW).select("url", "mime_type").collect()}
    py = {f"https://h.com/doc/{i}": sniff_mime(p) for i, p in enumerate(payloads)}
    assert jvm == py
    assert len(set(py.values())) == 12  # every branch is hit
