"""Analysis wired into the crawl round: parsed tables, tables_index,
work avoidance (reference: analysis/resource.py:41-184 + csv ingest)."""

import json

import pytest
from pyspark.sql import functions as F

from hydra_spark.analysis.ingest import load_parsed_table
from hydra_spark.config import DEFAULT
from hydra_spark.crawl.loop import init_state, run_crawl
from hydra_spark.datagen import generate_frontier, generate_pages
from hydra_spark.storage import StateStore


@pytest.fixture(scope="module")
def crawled(spark, tmp_path_factory):
    pages = generate_pages(spark, 600, n_hosts=10).cache()
    frontier = generate_frontier(spark, pages)
    store = StateStore(str(tmp_path_factory.mktemp("state")))
    init_state(store, frontier)
    run_crawl(spark, store, pages, DEFAULT.with_(batch_size=200), rounds=1)
    return store, pages


def test_csv_resources_parsed(spark, crawled):
    store, pages = crawled
    checks = store.checks.read(spark)
    parsed_checks = checks.where("parsing_table is not null")
    n = parsed_checks.count()
    assert n > 0
    rows = store.parsed_rows.read(spark)
    # every parsed resource produced its CSV's 20 data rows
    per_table = {r["parsing_table"]: r["cnt"] for r in
                 rows.groupBy("parsing_table").count().withColumnRenamed("count", "cnt").collect()}
    assert all(v == 20 for v in per_table.values())
    assert set(per_table) == {r["parsing_table"] for r in parsed_checks.collect()}


def test_tables_index_inspections(spark, crawled):
    store, _ = crawled
    ti = store.tables_index.read(spark).collect()
    assert ti
    insp = json.loads(ti[0]["csv_detective"])
    assert insp["separator"] == ","
    assert insp["header"] == ["code_insee", "number", "label"]
    assert insp["columns"]["number"]["python_type"] == "int"
    assert insp["total_lines"] == 20


def test_parsed_table_typed_roundtrip(spark, crawled):
    store, pages = crawled
    ti = store.tables_index.read(spark).first()
    insp = json.loads(ti["csv_detective"])
    df = load_parsed_table(spark, store.parsed_rows.read(spark), insp, ti["parsing_table"])
    recs = df.orderBy("__id").collect()
    assert recs[0]["__id"] == 1 and len(recs) == 20
    # byte-identical extracted text invariant: re-serialize and compare
    # against the pages.text column for that url
    page_text = pages.where(pages.url == ti["url"]).first()["text"]
    lines = page_text.splitlines()
    header = lines[0].split(",")
    first = dict(zip(header, lines[1].split(",")))
    # code_insee types per page: string when every value is a valid
    # 5-char INSEE code (csv-detective's code_commune_insee format —
    # leading zeros / 2A-2B make it a string), int otherwise
    if insp["columns"]["code_insee"]["python_type"] == "string":
        assert recs[0]["code_insee"] == first["code_insee"]
    else:
        assert recs[0]["code_insee"] == int(first["code_insee"])
    assert recs[0]["number"] == int(first["number"])
    assert recs[0]["label"] == first["label"]


def test_html_resources_not_parsed(spark, crawled):
    store, _ = crawled
    checks = store.checks.read(spark)
    html_checks = checks.where("mime_type = 'text/html'")
    assert html_checks.where("parsing_table is not null").count() == 0


def test_extracted_text_byte_identical(spark, crawled):
    """BASELINE.json per-row invariant: extracted text per url equals the
    reference text (pages.text) byte for byte."""
    store, pages = crawled
    texts = store.texts.read(spark)
    ref = pages.select(pages.url.alias("_u"), pages.text.alias("ref_text"))
    joined = texts.join(ref, texts.url == ref._u, "inner")
    n = joined.count()
    assert n == texts.count() and n > 0
    mismatched = joined.where("text <> ref_text").count()
    assert mismatched == 0


def test_gzip_pages_parsed_and_text_extracted(spark, tmp_path):
    """S5/C17: gzip bodies are detected (application/gzip), transparently
    extracted, parsed, and their text matches the reference bytes."""
    from hydra_spark.crawl.loop import init_state as _init, run_crawl as _run

    pages = generate_pages(spark, 2000, n_hosts=8).cache()
    gz = pages.where("url like '%/r/%'").where(
        "hex(substring(html, 1, 2)) = '1F8B'"
    )
    n_gz = gz.count()
    assert n_gz > 0
    frontier = generate_frontier(spark, pages)
    store = StateStore(str(tmp_path))
    _init(store, frontier)
    _run(spark, store, pages, DEFAULT.with_(batch_size=100_000, backoff_nb_req=100_000), rounds=1)
    checks = store.checks.read(spark)
    gz_checks = checks.where("mime_type = 'application/gzip'")
    assert gz_checks.count() == n_gz
    assert gz_checks.where("parsing_table is not null").count() == n_gz
    # parsed rows exist and text is byte-identical to pages.text
    texts = store.texts.read(spark)
    ref = pages.select(pages.url.alias("_u"), pages.text.alias("ref_text"))
    j = texts.join(ref, texts.url == ref._u).join(
        gz_checks.select(gz_checks.url.alias("_u2")), texts.url == F.col("_u2")
    )
    assert j.count() == n_gz and j.where("text <> ref_text").count() == 0


def test_size_cap_blocks_analysis(spark, tmp_path):
    from hydra_spark.crawl.loop import init_state as _init, run_crawl as _run

    pages = generate_pages(spark, 500, n_hosts=5).cache()
    frontier = generate_frontier(spark, pages)
    store = StateStore(str(tmp_path))
    _init(store, frontier)
    tiny_caps = dict(DEFAULT.max_filesize_allowed)
    tiny_caps["csv"] = 10  # everything is "too large"
    _run(spark, store, pages, DEFAULT.with_(batch_size=100_000, backoff_nb_req=100_000, max_filesize_allowed=tiny_caps), rounds=1)
    checks = store.checks.read(spark)
    assert checks.where("parsing_table is not null").count() == 0
    too_big = checks.where("analysis_error like 'File too large%'")
    assert too_big.count() > 0


def test_extraction_twins_agree(spark):
    """TWO extraction implementations must stay in lockstep: the python
    lane (the oracle) and the whole-stage-codegen JVM expression
    (plain/html payloads only — gzip and xlsx are routed to python by
    design, where the oracle unpacks them)."""
    import gzip as _gzip

    from pyspark.sql import functions as F

    from hydra_spark.analysis.extract import extract_text_jvm
    from hydra_spark.analysis.ingest import _extract_text_py
    from hydra_spark.analysis.xlsx import xlsx_bytes

    plain_cases = [
        b"<html><head></head><body><p>hello world</p></body></html>",
        b"<html><body>no paragraph <b>here</b>  at all</body></html>",
        b"<html><body><p>multi</p><p>para</p></body></html>",  # greedy like python re
        b"plain text, no markup",
        b"a,b,c\n1,2,3",
        b"",
        "café utf8 accents".encode(),
    ]
    python_only_cases = [
        _gzip.compress(b"a,b,c\n1,2,3", mtime=0),
        xlsx_bytes([["h1", "h2"], ["1", "x"]]),
    ]
    df = spark.createDataFrame(
        [(i, bytearray(b)) for i, b in enumerate(plain_cases)], "i int, html binary"
    )
    out = {
        r["i"]: r["jvm"]
        for r in df.select("i", extract_text_jvm(F.col("html")).alias("jvm")).collect()
    }
    for i, b in enumerate(plain_cases):
        expected = _extract_text_py(bytes(b))
        assert out[i] == expected, (i, "jvm", out[i], expected)
    # the python-only lane: gzip unpacks, xlsx reads as its sheet's CSV text
    assert [_extract_text_py(b) for b in python_only_cases] == ["a,b,c\n1,2,3", "h1,h2\n1,x"]


class TestHtmlToText:
    """Full-page extractor (analysis/extract.py html_to_text): boilerplate
    subtree removal, block-newline semantics, entities, malformed input."""

    def _x(self, s):
        from hydra_spark.analysis.extract import html_to_text_py

        return html_to_text_py(s)

    def test_grammar_replay_matches_oracle_expectation(self, spark):
        from pyspark.sql import functions as F

        from hydra_spark.analysis.extract import html_to_text
        from hydra_spark.datagen import rich_html_page

        html, expected = rich_html_page(F.col("id"))
        pages = spark.range(0, 64).select(
            "id", F.encode(html, "UTF-8").alias("html"), expected.alias("expected")
        )
        bad = pages.select(
            (html_to_text("html") == F.col("expected")).alias("ok")
        ).where("NOT ok")
        assert bad.count() == 0

    def test_skip_containers_and_comments(self):
        s = ("<html><head><title>T</title><script>x</script></head>"
             "<body><nav>menu</nav><!-- c --><p>keep</p>"
             "<footer>foot</footer></body></html>")
        assert self._x(s) == "keep"

    def test_nested_skip_and_unclosed_script(self):
        assert self._x("<div><script>a<style>b</style>c</script>ok</div>") == "ok"
        # unclosed script swallows the rest, like real boilerplate
        assert self._x("<p>first</p><script>var x;") == "first"

    def test_inline_tags_flow_and_entities_decode(self):
        s = "<p>a <b>bold</b> &amp; <i>ital</i> &#65;</p>"
        assert self._x(s) == "a bold & ital A"

    def test_block_boundaries_and_whitespace_collapse(self):
        s = "<h1>  Big\t Title </h1><p>one</p><p>two</p><ul><li>x</li><li>y</li></ul>"
        assert self._x(s) == "Big Title\none\ntwo\nx\ny"
        assert self._x("line<br>break") == "line\nbreak"

    def test_plain_text_and_edge_inputs(self):
        assert self._x("no tags at all") == "no tags at all"
        assert self._x("") == ""
        assert self._x(None) is None
        # invalid utf-8 bytes decode leniently, parse continues
        assert self._x(b"<p>ok \xff\xfe</p>") == "ok ��"


def test_route_python_boundary_matches_python_twin(spark):
    """The JVM/python boundary split (route_python_boundary) must be
    invisible in the outputs: for every payload class — valid-UTF-8
    text mimes (JVM lane), parquet magic (JVM "" lane), and the python
    lane (CSV-to-parse, gzip, media containers, latin-1/invalid UTF-8
    bytes sniffed as text) — the routed pass produces byte-identical
    rows to shipping raw bytes into python (the round-5 behavior).
    Regression: raw-byte binary→string casts of invalid UTF-8 used to
    crash the Arrow→pandas conversion (WAV payloads, latin-1 CSV)."""
    from hydra_spark.analysis.ingest import process_fetched, route_python_boundary

    wav = b"RIFF\x24\x00\x00\x00WAVEfmt " + bytes(range(256)) * 4
    latin1_csv = "col;date\nnoël;02/01/2024\n".encode("latin-1")
    cases = [
        # (mime_type, payload, parsing_table?)
        ("text/html", b"<html><body><p>hello</p></body></html>", None),
        ("text/plain", "plain café text".encode(), None),
        ("text/csv", b"a,b,c\n1,2,3", None),  # unchanged csv: text lane
        ("text/csv", b"a,b,c\n1,2,3", "t_parse"),  # to-parse: python lane
        ("application/vnd.apache.parquet", b"PAR1\x00\x01\x02", None),
        # parquet mime WITHOUT the magic (truncated/mislabeled): must go
        # to python — the JVM lane would raw-cast the invalid bytes
        ("application/vnd.apache.parquet", b"\xff\xfe not parquet", None),
        ("audio/x-wav", wav, None),  # binary: python lane, must not crash
        ("text/csv", latin1_csv, None),  # invalid UTF-8: python lane
        ("application/gzip", __import__("gzip").compress(b"x,y\n1,2", mtime=0), None),
        # valid UTF-8 under a text mime, but with the zip magic: the
        # python twin tries it as xlsx, so it must not take the text lane
        ("text/plain", b"PK\x03\x04 not a zip", None),
    ]
    df = spark.createDataFrame(
        [
            (f"u{i}", f"r{i}", f"d{i}", bytearray(b), pt, m)
            for i, (m, b, pt) in enumerate(cases)
        ],
        "url string, resource_id string, dataset_id string, html binary, "
        "parsing_table string, mime_type string",
    )
    routed = process_fetched(route_python_boundary(df)).collect()
    raw = process_fetched(df.drop("mime_type")).collect()
    assert sorted(map(tuple, routed), key=str) == sorted(map(tuple, raw), key=str)
    # the boundary really did split: text rows crossed with no payload
    shipped = route_python_boundary(df).collect()
    by_url = {r["url"]: r for r in shipped}
    assert by_url["u0"]["html"] is None and by_url["u0"]["pre_text"] == "hello"
    assert by_url["u4"]["html"] is None and by_url["u4"]["pre_text"] == ""
    for u in ("u3", "u5", "u6", "u7", "u9"):  # python lane keeps its bytes
        assert by_url[u]["html"] is not None and by_url[u]["pre_text"] is None
