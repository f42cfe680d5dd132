"""S7: stdlib xlsx codec + the xlsx ingest path through the crawl.

Mirrors the reference's xlsx fixtures (tests/test_analysis/
test_analysis_csv.py uses .xlsx inputs through the same casting
pipeline as CSV — utils/reader.py:31-67)."""

from pyspark.sql import functions as F

from hydra_spark.analysis.ingest import analyse_csv_batch
from hydra_spark.analysis.xlsx import XLSX_MIME, xlsx_bytes, xlsx_rows
from hydra_spark.config import DEFAULT
from hydra_spark.crawl.loop import init_state, run_crawl
from hydra_spark.datagen import generate_frontier, generate_pages
from hydra_spark.storage import StateStore

CSV = "code_insee,number,label\n75056,12,paris\n13055,7,marseille\n69123,3.5,lyon"


def test_xlsx_codec_roundtrip():
    rows = [["code", "label"], ["12", "item_a"], ["5.5", "item,b"], ["", "x<y&z"]]
    data = xlsx_bytes(rows)
    assert xlsx_rows(data) == rows
    assert xlsx_bytes(rows) == data  # deterministic bytes
    # numeric cells render like str(openpyxl value): int literals stay
    # ints, float literals stay floats ('3.0' != '3' — parity with the
    # openpyxl path matters for type detection)
    assert xlsx_rows(xlsx_bytes([["n"], [2], [2.5]])) == [["n"], ["2"], ["2.5"]]
    import io, zipfile
    raw = xlsx_bytes([["n"], [1]])
    zf = zipfile.ZipFile(io.BytesIO(raw))
    files = {f: zf.read(f).decode() for f in zf.namelist()}
    files["xl/worksheets/sheet1.xml"] = files["xl/worksheets/sheet1.xml"].replace(
        "<v>1</v>", "<v>3.0</v>")
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as out:
        for f, content in files.items():
            out.writestr(f, content)
    assert xlsx_rows(buf.getvalue()) == [["n"], ["3.0"]]


def test_xlsx_shared_strings():
    """Workbooks from real writers use sharedStrings — cover t="s"."""
    import io
    import zipfile

    base = xlsx_bytes([["h"], ["x"]])
    zf = zipfile.ZipFile(io.BytesIO(base))
    files = {n: zf.read(n).decode() for n in zf.namelist()}
    ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    files["xl/sharedStrings.xml"] = (
        f'<sst xmlns="{ns}"><si><t>alpha</t></si><si><r><t>be</t></r><r><t>ta</t></r></si></sst>'
    )
    files["xl/worksheets/sheet1.xml"] = (
        f'<worksheet xmlns="{ns}"><sheetData>'
        f'<row r="1"><c r="A1" t="s"><v>0</v></c><c r="C1" t="s"><v>1</v></c></row>'
        f"</sheetData></worksheet>"
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as out:
        for n, content in files.items():
            out.writestr(n, content)
    assert xlsx_rows(buf.getvalue()) == [["alpha", "", "beta"]]  # gap densified


def test_xlsx_ingest_matches_csv_path(spark):
    """The xlsx route must produce byte-identical typed rows to the CSV
    route for the same logical table (shared inspect/cast pipeline)."""
    rows = [line.split(",") for line in CSV.split("\n")]
    xdf = spark.createDataFrame(
        [("http://x/f.xlsx", "r1", "d1", bytearray(xlsx_bytes(rows)), "tbl")],
        "url string, resource_id string, dataset_id string, html binary, parsing_table string",
    )
    cdf = spark.createDataFrame(
        [("http://x/f.xlsx", "r1", "d1", bytearray(CSV.encode()), "tbl")],
        "url string, resource_id string, dataset_id string, html binary, parsing_table string",
    )
    got_x = {r["__id"]: r["row_json"] for r in analyse_csv_batch(xdf).collect()}
    got_c = {r["__id"]: r["row_json"] for r in analyse_csv_batch(cdf).collect()}
    assert got_x == got_c and len(got_x) == 3
    assert '"number": 3.5' in got_x[3] and '"label": "lyon"' in got_x[3]


def test_crawl_round_parses_xlsx_pages(spark, tmp_path):
    """End-to-end: xlsx pages in the corpus are mime-sniffed, parsed into
    typed rows, and their extracted text equals the reference text."""
    pages = generate_pages(spark, 2000, n_hosts=10).cache()
    frontier = generate_frontier(spark, pages)
    store = StateStore(str(tmp_path))
    init_state(store, frontier)
    run_crawl(spark, store, pages, DEFAULT.with_(batch_size=100_000, backoff_nb_req=100_000), rounds=1)
    checks = store.checks.read(spark)
    # parseable = fetchable (2xx) xlsx pages; 404/429/timeout sentinels
    # keep their mime but are rightly not parsed
    xlsx_checks = checks.where(
        (F.col("mime_type") == XLSX_MIME) & (F.col("status") == 200)
    ).collect()
    assert xlsx_checks, "corpus should contain fetchable xlsx pages"
    for r in xlsx_checks:
        assert r["parsing_table"] is not None and r["parsing_error"] is None

    # typed rows exist for each xlsx table
    parsed = store.parsed_rows.read(spark)
    n_rows = (
        parsed.where(F.col("parsing_table").isin([r["parsing_table"] for r in xlsx_checks]))
        .where(F.col("row_json").isNotNull())
        .count()
    )
    assert n_rows == 20 * len(xlsx_checks)  # 20 csv data rows per page

    # byte-identical extracted text vs the pages.text reference column
    texts = store.texts.read(spark).select("url", F.col("text").alias("extracted"))
    ref = pages.select("url", "text")
    joined = texts.join(ref, "url").where(
        F.col("url").isin([r["url"] for r in xlsx_checks])
    )
    mism = joined.where(F.col("extracted") != F.col("text")).count()
    assert mism == 0 and joined.count() == len(xlsx_checks)


def test_xls_codec_roundtrip():
    """Legacy .xls (BIFF8-in-OLE2) writer/reader twins: strings (latin-1
    and UTF-16), integers, floats, sheet names, determinism."""
    from hydra_spark.analysis.xls import XLS_MAGIC, xls_bytes, xls_rows, xls_sheet_names

    rows = [
        ["name", "count", "price", "note"],
        ["alpha", 3, 2.5, "héllo"],
        ["béta", -17, 0.125, "日本語"],
        ["gamma", 12345678, 3.0, ""],
    ]
    data = xls_bytes(rows, sheet_name="Feuille1", extra_sheets=[("Données", [["x"], [1]])])
    assert data[:8] == XLS_MAGIC
    assert xls_bytes(rows, sheet_name="Feuille1", extra_sheets=[("Données", [["x"], [1]])]) == data
    assert xls_sheet_names(data) == ["Feuille1", "Données"]
    got = xls_rows(data)
    assert got[0] == rows[0]
    assert got[1] == ["alpha", "3", "2.5", "héllo"]
    assert got[2] == ["béta", "-17", "0.125", "日本語"]
    assert got[3] == ["gamma", "12345678", "3", ""]
    assert xls_rows(data, sheet_name="Données") == [["x"], ["1"]]


def test_xls_rk_and_mulrk_cells():
    """Hand-built RK/MULRK records (what real writers emit for compact
    numerics) decode to the same strings as NUMBER records."""
    import struct

    from hydra_spark.analysis.xls import _parse_sheet, _rec

    def rk_int(v):
        return ((v << 2) & 0xFFFFFFFC) | 0x02

    rk_double = (struct.unpack("<Q", struct.pack("<d", 2.5))[0] >> 32) & 0xFFFFFFFC
    stream = (
        _rec(0x0809, struct.pack("<HHHHII", 0x0600, 0x0010, 0, 0, 0, 0))
        + _rec(0x027E, struct.pack("<HHHI", 0, 0, 0, rk_int(42)))
        + _rec(0x027E, struct.pack("<HHHI", 0, 1, 0, rk_int(250) | 0x01))  # /100
        + _rec(
            0x00BD,
            struct.pack("<HH", 1, 0)
            + struct.pack("<HI", 0, rk_double)
            + struct.pack("<HI", 0, rk_int(7))
            + struct.pack("<H", 1),
        )
        + _rec(0x000A, b"")
    )
    assert _parse_sheet(stream, 0, []) == [["42", "2.5"], ["2.5", "7"]]


def test_xlsx_sheet_selection():
    """Multi-sheet xlsx: workbook-order default + selection by name,
    like the reference's inspection-driven wb[sheet_name]."""
    from hydra_spark.analysis.xlsx import xlsx_sheet_names

    data = xlsx_bytes(
        [["main"], ["1"]],
        sheet_name="Primary",
        extra_sheets=[("Annexe", [["other"], ["2"]])],
    )
    assert xlsx_sheet_names(data) == ["Primary", "Annexe"]
    assert xlsx_rows(data) == [["main"], ["1"]]
    assert xlsx_rows(data, sheet_name="Annexe") == [["other"], ["2"]]
    try:
        xlsx_rows(data, sheet_name="nope")
        raise AssertionError("expected ValueError")
    except ValueError:
        pass


def test_xls_ingest_matches_csv_path(spark):
    """The legacy .xls route produces byte-identical typed rows to the
    CSV route through the shared inspect/cast pipeline — finishing S7:
    any .xls resource now flows through the same typed chain."""
    from hydra_spark.analysis.xls import xls_bytes

    rows = [line.split(",") for line in CSV.split("\n")]
    xdf = spark.createDataFrame(
        [("http://x/f.xls", "r1", "d1", bytearray(xls_bytes(rows)), "tbl")],
        "url string, resource_id string, dataset_id string, html binary, parsing_table string",
    )
    cdf = spark.createDataFrame(
        [("http://x/f.xls", "r1", "d1", bytearray(CSV.encode()), "tbl")],
        "url string, resource_id string, dataset_id string, html binary, parsing_table string",
    )
    got_x = {r["__id"]: r["row_json"] for r in analyse_csv_batch(xdf).collect()}
    got_c = {r["__id"]: r["row_json"] for r in analyse_csv_batch(cdf).collect()}
    assert got_x == got_c and len(got_x) == 3
    assert '"number": 3.5' in got_x[3] and '"label": "lyon"' in got_x[3]


def test_excel_sheet_name_column_selects_per_resource(spark):
    """An optional sheet_name column picks the sheet per resource (the
    reference reads inspection["sheet_name"] — utils/reader.py:36,41)."""
    from hydra_spark.analysis.xls import xls_bytes

    multi_xlsx = xlsx_bytes(
        [["skip"], ["0"]], sheet_name="Cover",
        extra_sheets=[("Data", [["a", "b"], ["1", "x"], ["2", "y"]])],
    )
    multi_xls = xls_bytes(
        [["skip"], ["0"]], sheet_name="Cover",
        extra_sheets=[("Data", [["a", "b"], ["3", "z"], ["4", "w"]])],
    )
    df = spark.createDataFrame(
        [
            ("http://x/a.xlsx", "r1", "d1", bytearray(multi_xlsx), "t1", "Data"),
            ("http://x/b.xls", "r2", "d1", bytearray(multi_xls), "t2", "Data"),
            ("http://x/c.xlsx", "r3", "d1", bytearray(multi_xlsx), "t3", None),
        ],
        "url string, resource_id string, dataset_id string, html binary, "
        "parsing_table string, sheet_name string",
    )
    got = analyse_csv_batch(df).collect()
    by_table = {}
    for r in got:
        by_table.setdefault(r["parsing_table"], []).append(r["row_json"])
    assert len(by_table["t1"]) == 2 and '"a": 1' in by_table["t1"][0]
    assert len(by_table["t2"]) == 2 and '"a": 3' in by_table["t2"][0]
    assert len(by_table["t3"]) == 1  # default first sheet = Cover


def test_crawl_round_parses_xls_pages(spark, tmp_path):
    """End-to-end: legacy .xls pages in the corpus are magic-sniffed to
    the xls mime, parsed into typed rows through the same chain, and
    their extracted text equals the reference text."""
    from hydra_spark.analysis.xls import XLS_MIME

    pages = generate_pages(spark, 4000, n_hosts=10).cache()
    frontier = generate_frontier(spark, pages)
    store = StateStore(str(tmp_path))
    init_state(store, frontier)
    run_crawl(
        spark, store, pages,
        DEFAULT.with_(batch_size=100_000, backoff_nb_req=100_000), rounds=1,
    )
    checks = store.checks.read(spark)
    xls_checks = checks.where(
        (F.col("mime_type") == XLS_MIME) & (F.col("status") == 200)
    ).collect()
    assert xls_checks, "corpus should contain fetchable .xls pages"
    for r in xls_checks:
        assert r["parsing_table"] is not None and r["parsing_error"] is None

    parsed = store.parsed_rows.read(spark)
    n_rows = (
        parsed.where(F.col("parsing_table").isin([r["parsing_table"] for r in xls_checks]))
        .where(F.col("row_json").isNotNull())
        .count()
    )
    assert n_rows == 20 * len(xls_checks)

    texts = store.texts.read(spark).select("url", F.col("text").alias("extracted"))
    joined = texts.join(pages.select("url", "text"), "url").where(
        F.col("url").isin([r["url"] for r in xls_checks])
    )
    assert joined.where(F.col("extracted") != F.col("text")).count() == 0
    assert joined.count() == len(xls_checks)


def test_xlsx_date_cells_render_like_openpyxl():
    """Date-styled serials must extract as str(openpyxl's value) — the
    reference engine resolves number formats (utils/reader.py:31-43 via
    openpyxl), so raw serials leaking through would break the per-row
    extracted-text parity for any sheet with a date column."""
    import datetime as dt

    from hydra_spark.analysis.xlsx import _is_date_format, _serial_str

    # writer twin round-trips datetime/date/time through real styles.xml
    rows = [
        ["name", "when", "day", "clock", "n"],
        ["a", dt.datetime(2023, 3, 15, 14, 30, 5), dt.date(2024, 2, 29), dt.time(7, 5, 9), 42],
        ["b", dt.datetime(1900, 1, 1, 12, 0), dt.date(1900, 3, 1), dt.time(0, 0, 30), 2.5],
    ]
    assert xlsx_rows(xlsx_bytes(rows)) == [
        ["name", "when", "day", "clock", "n"],
        ["a", "2023-03-15 14:30:05", "2024-02-29 00:00:00", "07:05:09", "42"],
        ["b", "1900-01-01 12:00:00", "1900-03-01 00:00:00", "00:00:30", "2.5"],
    ]

    # 1900-system vectors incl. the phantom-leap-day shift under serial 60
    assert _serial_str("1", "date", False) == "1900-01-01 00:00:00"
    assert _serial_str("59", "date", False) == "1900-02-28 00:00:00"
    assert _serial_str("61", "date", False) == "1900-03-01 00:00:00"
    assert _serial_str("45000.75", "date", False) == "2023-03-15 18:00:00"
    assert _serial_str("0.5", "date", False) == "12:00:00"  # pure time-of-day
    assert _serial_str("366", "date", True) == "1905-01-01 00:00:00"  # 1904 epoch
    assert _serial_str("1.5", "timedelta", False) == "1 day, 12:00:00"  # [h]:mm:ss

    # custom-format date detection mirrors openpyxl's is_date_format
    assert _is_date_format("dd/mm/yyyy") and _is_date_format("[$-409]d-mmm-yy")
    assert _is_date_format("yyyy-mm-dd;@") and _is_date_format("h:mm AM/PM")
    assert not _is_date_format("0.00") and not _is_date_format('"m"0.0')
    assert not _is_date_format("[RED]0.0") and not _is_date_format("General")

    # bool cells extract as str(bool), not '0'/'1'
    import io
    import re
    import zipfile

    data = xlsx_bytes([["flag", 1]])
    zf = zipfile.ZipFile(io.BytesIO(data))
    parts = {n: zf.read(n) for n in zf.namelist()}
    parts["xl/worksheets/sheet1.xml"] = re.sub(
        rb'<c r="B1"><v>1</v></c>', rb'<c r="B1" t="b"><v>1</v></c>',
        parts["xl/worksheets/sheet1.xml"],
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as out:
        for n, c in parts.items():
            out.writestr(n, c)
    assert xlsx_rows(buf.getvalue()) == [["flag", "True"]]

    # date-free workbooks emit no styles part: fixture bytes unchanged
    assert "xl/styles.xml" not in zipfile.ZipFile(
        io.BytesIO(xlsx_bytes([["a", 1]]))
    ).namelist()


def test_xlsx_date_column_types_as_datetime(spark):
    """A date-styled xlsx column lands in the typed store as datetime —
    identical rows to the CSV route fed the rendered strings."""
    import datetime as dt

    header = ["code", "seen_at"]
    data_rows = [
        ["75056", dt.datetime(2023, 3, 15, 14, 30, 5)],
        ["13055", dt.datetime(2024, 2, 29, 0, 0, 0)],
    ]
    csv_text = "code,seen_at\n75056,2023-03-15 14:30:05\n13055,2024-02-29 00:00:00"
    xdf = spark.createDataFrame(
        [("http://x/d.xlsx", "r1", "d1", bytearray(xlsx_bytes([header] + data_rows)), "tbl")],
        "url string, resource_id string, dataset_id string, html binary, parsing_table string",
    )
    cdf = spark.createDataFrame(
        [("http://x/d.xlsx", "r1", "d1", bytearray(csv_text.encode()), "tbl")],
        "url string, resource_id string, dataset_id string, html binary, parsing_table string",
    )
    got_x = {r["__id"]: r["row_json"] for r in analyse_csv_batch(xdf).collect()}
    got_c = {r["__id"]: r["row_json"] for r in analyse_csv_batch(cdf).collect()}
    assert got_x == got_c and len(got_x) == 2
    assert "2023-03-15" in got_x[1]


def test_xls_biff5_codec_roundtrip():
    """BIFF5/7 (Excel 5.0/95 'Book' streams, read by xlrd in the
    reference): no SST, inline codepage LABEL strings, byte-string
    sheet names — same extracted rows as the BIFF8 twin."""
    from hydra_spark.analysis.xls import (
        xls_biff_version,
        xls_bytes,
        xls_rows,
        xls_sheet_names,
    )

    rows = [["code", "libellé", "ratio"], [101, "café", 1.5], [202, "naïve", 7]]
    b5 = xls_bytes(rows, biff=5)
    assert xls_biff_version(b5) == 5
    assert xls_rows(b5) == xls_rows(xls_bytes(rows))  # == the BIFF8 view
    assert xls_rows(b5)[1] == ["101", "café", "1.5"]  # cp1252 accents survive

    # sheet selection through byte-string BOUNDSHEET names
    multi = xls_bytes(rows, sheet_name="Données", extra_sheets=[("Autre", [["x"], [9]])], biff=5)
    assert xls_sheet_names(multi) == ["Données", "Autre"]
    assert xls_rows(multi, sheet_name="Autre") == [["x"], ["9"]]


def test_xls_biff5_ingest_matches_csv_path(spark):
    """A BIFF5 resource flows through the same typed chain as CSV —
    the 'Book' stream name and inline strings are transparent to the
    shared inspect/cast pipeline."""
    from hydra_spark.analysis.xls import xls_bytes

    rows = [line.split(",") for line in CSV.split("\n")]
    xdf = spark.createDataFrame(
        [("http://x/old.xls", "r1", "d1", bytearray(xls_bytes(rows, biff=5)), "tbl")],
        "url string, resource_id string, dataset_id string, html binary, parsing_table string",
    )
    cdf = spark.createDataFrame(
        [("http://x/old.xls", "r1", "d1", bytearray(CSV.encode()), "tbl")],
        "url string, resource_id string, dataset_id string, html binary, parsing_table string",
    )
    got_x = {r["__id"]: r["row_json"] for r in analyse_csv_batch(xdf).collect()}
    got_c = {r["__id"]: r["row_json"] for r in analyse_csv_batch(cdf).collect()}
    assert got_x == got_c and len(got_x) == 3


def test_excel_codecs_survive_adversarial_bytes():
    """Untrusted-bytes discipline for the newest codec surfaces: date
    styles and BIFF5. Malformed styles degrade to the raw number view,
    degenerate serials (NaN/inf/out-of-range) never raise, truncated
    BIFF5 containers raise ValueError (the ingest path's poison-payload
    NULL route), and bit-flipped workbooks either parse or raise a
    clean, catchable error — never hang."""
    import io
    import random
    import struct
    import zipfile

    from hydra_spark.analysis.xls import xls_bytes, xls_rows
    from hydra_spark.analysis.xlsx import _serial_str

    # degenerate serials: raw view, no exception
    assert _serial_str("nan", "date", False) == "nan"
    assert _serial_str("inf", "date", False) == "inf"
    assert _serial_str("1e300", "date", False) == "1e+300"
    assert _serial_str("3000000", "date", False) == "3000000"  # > year 9999

    # garbage styles.xml + out-of-range s index: cell stays numeric
    data = xlsx_bytes([["a", 5]])
    z = zipfile.ZipFile(io.BytesIO(data))
    parts = {n: z.read(n) for n in z.namelist()}
    parts["xl/worksheets/sheet1.xml"] = parts["xl/worksheets/sheet1.xml"].replace(
        b'<c r="B1"><v>5</v></c>', b'<c r="B1" s="99"><v>5</v></c>'
    )
    parts["xl/styles.xml"] = (
        b'<?xml version="1.0"?><styleSheet xmlns='
        b'"http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        b'<cellXfs><xf numFmtId="garbage"/></cellXfs></styleSheet>'
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as out:
        for n, c in parts.items():
            out.writestr(n, c)
    assert xlsx_rows(buf.getvalue()) == [["a", "5"]]

    # truncated / bit-flipped BIFF5: parse or clean-raise, never hang
    b5 = xls_bytes([["a", "b"], [1, 2]], biff=5)
    for cut in (100, 600, 1200):
        try:
            xls_rows(b5[:cut])
        except ValueError:
            pass
    rng = random.Random(7)
    for _ in range(150):
        m = bytearray(b5)
        for _ in range(rng.randrange(1, 8)):
            m[rng.randrange(len(m))] = rng.randrange(256)
        try:
            xls_rows(bytes(m))
        except (ValueError, struct.error, IndexError, KeyError,
                UnicodeDecodeError, MemoryError):
            pass
