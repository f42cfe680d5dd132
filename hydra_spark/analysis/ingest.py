"""Distributed CSV analysis + ingest (S9/S10 + §2.10).

Reference flow (data_formats/csv_like/__init__.py:60-159 +
to_db.py:24-115): inspect with csv-detective → CREATE TABLE md5(url) →
COPY casted rows → record in tables_index. Here:

- `analyse_csv_batch` runs per-file inspection + typed casting inside
  ``mapInPandas`` — NO shuffle: each file's bytes already live in one
  row, every partition parses its own files independently. Output is a
  schema-stable rows table: one row per data line with the typed record
  JSON-encoded (per-resource schemas are dynamic; JSON + a stored
  StructType replaces PG's per-resource CREATE TABLE).
- `load_parsed_table` materializes one resource's typed DataFrame by
  applying its stored schema with ``from_json`` — the `parsed.<md5>`
  Iceberg table analog.

The `__id` serial (conversion/schema.py:73; asserted 1-based in
tests/test_conversion/test_csv_to_db.py:17-22) is the 1-based line
number within the file — deterministic, computed during the parse.
"""

from __future__ import annotations

import json
import math
from collections.abc import Iterator
from datetime import date, datetime

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hydra_spark.analysis.inspect import ParsingError, _inspect_csv_full, _validate_inspection_full
from hydra_spark.analysis.xls import XLS_MAGIC, xls_rows
from hydra_spark.analysis.xlsx import XLSX_MAGIC, xlsx_rows
from hydra_spark.schemas import PYTHON_TYPE_TO_SPARK, db_col_name

ROWS_SCHEMA = T.StructType(
    [
        T.StructField("parsing_table", T.StringType()),
        T.StructField("resource_id", T.StringType()),
        T.StructField("dataset_id", T.StringType()),
        T.StructField("url", T.StringType()),
        T.StructField("__id", T.LongType()),
        T.StructField("row_json", T.StringType()),
        T.StructField("inspection", T.StringType()),
        T.StructField("parsing_error", T.StringType()),
    ]
)


def _excel_rows(data: bytes, sheet_name: str | None = None) -> list[list[str]]:
    """The one Excel decoder: OLE2 → legacy .xls (BIFF5/8), anything
    else → xlsx. ``sheet_name=None`` reads the first sheet in workbook
    order, like the reference's default inspection (utils/reader.py:
    31-67 opens ``wb[sheet_name]`` with openpyxl/xlrd; the stdlib
    codecs here stand in for both)."""
    if data[:8] == XLS_MAGIC:
        return xls_rows(data, sheet_name)
    return xlsx_rows(data, sheet_name)


# combined per-round output: extracted text rows (kind='text') + parsed
# csv rows (kind='row') from ONE pass over the fetched bytes
OUTPUTS_SCHEMA = T.StructType(
    [T.StructField("kind", T.StringType())]
    + ROWS_SCHEMA.fields
    + [T.StructField("text", T.StringType())]
)


def _json_default(v):
    if isinstance(v, (datetime, date)):
        return v.isoformat(sep=" ") if isinstance(v, datetime) else v.isoformat()
    return str(v)


# one shared encoder: byte-identical to json.dumps(..., default=_json_default)
# (same separators/ensure_ascii defaults) without rebuilding a JSONEncoder
# per row — this runs once per parsed CSV line in the crawl's hot pass
_json_encode = json.JSONEncoder(default=_json_default).encode


def _row_json(prefixes: list[str], vals: list) -> "str | None":
    """Fast hand-rolled twin of ``_json_encode(dict(zip(header, vals)))``
    for the all-scalar common case; returns None when any value falls
    outside the provably byte-identical fast lanes (caller then uses the
    shared stdlib encoder).

    prefixes[i] is the pre-encoded '"<key>": ' fragment (built once per
    file). Fast lanes and why they match json.dumps exactly:
    - None → 'null'; bool → 'true'/'false' (checked before int — bool is
      an int subclass)
    - int → repr(int), which IS json's integer encoding
    - finite float → repr(float): CPython json uses float.__repr__ for
      finite values (non-finite go through allow_nan → fall back)
    - ASCII printable str without '"' or '\\' → '"<s>"' verbatim: json
      escapes only control chars, the two quoted chars, and (under
      ensure_ascii) non-ASCII — all excluded by the guard
    """
    parts = []
    for i, v in enumerate(vals):
        if v is None:
            parts.append(prefixes[i] + "null")
        elif isinstance(v, bool):
            parts.append(prefixes[i] + ("true" if v else "false"))
        elif isinstance(v, int):
            parts.append(prefixes[i] + repr(v))
        elif isinstance(v, float):
            if math.isfinite(v):
                parts.append(prefixes[i] + repr(v))
            else:
                return None
        elif isinstance(v, str):
            if '"' not in v and "\\" not in v and v.isascii() and v.isprintable():
                parts.append(prefixes[i] + '"' + v + '"')
            else:
                return None
        else:  # date/datetime/anything exotic → stdlib default path
            return None
    return "{" + ", ".join(parts) + "}"


def _analyse_one(
    url: str, rid: str, did: str, data: bytes, table: str,
    prev_inspection: dict | None = None, sheet_name: str | None = None,
) -> list[tuple]:
    data = _gunzip_if_needed(data)
    if data[:4] == b"PAR1":
        # crawled Parquet resource → typed rows + inspection, same
        # output shape as the CSV path (data_formats/parquet/
        # __init__.py:35-62 routes Parquet to inspect + to_db)
        return _parquet_rows(url, rid, did, data, table)
    if data[:4] == XLSX_MAGIC or data[:8] == XLS_MAGIC:
        # Excel (xlsx zip / legacy .xls OLE2): decode the selected sheet
        # (first by default) → CSV text, then the shared inspect/cast
        # pipeline (typing semantics identical to the CSV path —
        # utils/reader.py routes both through casting)
        import csv as _csv
        import io as _io

        try:
            rows = _excel_rows(data, sheet_name)
        except Exception as e:
            return [(table, rid, did, url, None, None, None, f"excel:{e}")]
        buf = _io.StringIO()
        _csv.writer(buf).writerows(rows)
        data = buf.getvalue().encode()
    # validate_then_detect (csv_like/__init__.py:41-50): when a previous
    # inspection exists and the file still conforms, reuse it — stable
    # types across re-crawls, no re-detection cost
    res = _validate_inspection_full(data, prev_inspection) if prev_inspection else None
    try:
        if res is None:
            res = _inspect_csv_full(data)
    except ParsingError as e:
        # error string format: data_formats/csv_like/__init__.py analysis
        # error reporting (tests/test_analysis/test_analysis_csv.py:104-151)
        return [(table, rid, did, url, None, None, None, f"csv_detective:{e}")]

    # the full variants hand back the parsed body + cast matrix from
    # their single pass — no re-parse, no re-cast here (failsafe NULLs
    # already applied, utils/casting.py:21-25); dict(zip(...)) truncates
    # at the narrower of header/row exactly like the per-cell loop did
    insp, _body, casted = res
    header = [db_col_name(h) for h in insp["header"]]
    # fast row encoder needs positional emission == dict emission, which
    # only holds when keys are unique (dict collapses duplicates)
    prefixes = [_json_encode(k) + ": " for k in header] if len(set(header)) == len(header) else None

    out = []
    insp_json = _json_encode(insp)
    for i, vals in enumerate(casted, start=1):
        rj = _row_json(prefixes, vals) if prefixes is not None else None
        if rj is None:
            rj = _json_encode(dict(zip(header, vals)))
        out.append(
            (table, rid, did, url, i, rj,
             insp_json if i == 1 else None, None)
        )
    if not out:  # header-only file: still record the inspection
        out.append((table, rid, did, url, 0, None, insp_json, None))
    return out


# pyarrow type-string → hydra scalar vocabulary (regex table, the
# reference's PYARROW_TYPE_TO_PYTHON — conversion/schema.py:26-64;
# dictionary types dig into the value type like the reference does)
_PYARROW_TYPE_TO_PYTHON: list[tuple[str, str]] = [
    (r"^bool", "bool"),
    (r"^u?int", "int"),
    (r"^(halffloat|float|double|decimal)", "float"),
    (r"^timestamp", "datetime"),
    (r"^date", "date"),
    (r"^(large_)?(string|utf8)", "string"),
    (r"^(large_)?binary", "binary"),
    (r"^(large_)?(list|struct|map)", "json"),
]


def _parquet_rows(url: str, rid: str, did: str, data: bytes, table: str) -> list[tuple]:
    """Typed ROWS_SCHEMA rows from an in-memory parquet payload: the
    file IS typed, so values pass straight to JSON (no smart-cast); the
    inspection carries the pyarrow-derived column types so
    `load_parsed_table` builds the same dynamic CREATE TABLE as CSV."""
    import io
    import re as _re

    import pyarrow.parquet as _pq

    try:
        pf = _pq.ParquetFile(io.BytesIO(data))
        header, columns = [], {}
        for col in pf.schema_arrow:
            header.append(col.name)
            col_type = str(col.type)
            if col_type.startswith("dictionary"):
                col_type = str(col.type.value_type)
            for pat, pytype in _PYARROW_TYPE_TO_PYTHON:
                if _re.search(pat, col_type):
                    columns[col.name] = pytype
                    break
            else:
                raise ValueError(f"Unknown pyarrow type: {col.type}")
        insp = {
            "header": header,
            "columns": {
                name: {"format": pytype, "python_type": pytype}
                for name, pytype in columns.items()
            },
            "total_lines": pf.metadata.num_rows,
        }
        records = pf.read().to_pylist()
    except ValueError as e:
        return [(table, rid, did, url, None, None, None, f"parquet:{e}")]
    except Exception as e:
        return [(table, rid, did, url, None, None, None, f"parquet:invalid file ({e})")]

    insp_json = json.dumps(insp, default=_json_default)
    out = []
    for i, rec in enumerate(records, start=1):
        row = {db_col_name(k): v for k, v in rec.items()}
        out.append(
            (table, rid, did, url, i, json.dumps(row, default=_json_default),
             insp_json if i == 1 else None, None)
        )
    if not out:  # zero-row file: still record the inspection
        out.append((table, rid, did, url, 0, None, insp_json, None))
    return out


def _gunzip_if_needed(data: bytes) -> bytes:
    """Transparent gzip extraction (utils/file.py:37-43)."""
    if data[:2] == b"\x1f\x8b":
        import gzip

        try:
            return gzip.decompress(data)
        except OSError:
            return data
    return data


def _extract_text_py(data: bytes) -> str:
    """The python extraction lane, and the oracle of its JVM twin
    (analysis/extract.py ``extract_text_jvm``) — the two MUST stay
    byte-identical on the payloads the JVM lane takes."""
    import re

    data = _gunzip_if_needed(data)
    if data[:4] == b"PAR1":
        return ""  # typed rows carry parquet content; no prose to extract
    if data[:4] == XLSX_MAGIC or data[:8] == XLS_MAGIC:
        try:
            return "\n".join(",".join(r) for r in _excel_rows(data))
        except Exception:
            return ""
    s = data.decode("utf-8", "replace")
    if not s.startswith("<html"):
        return s
    m = re.search(r"<p>(.*)</p>", s)
    if m:
        return m.group(1)
    return re.sub(r"\s+", " ", re.sub(r"<[^>]+>", " ", s)).strip()


def route_python_boundary(df: DataFrame) -> DataFrame:
    """Split the JVM↔Python boundary for `process_fetched` (guide §4):
    rows that need no python work get their text extracted JVM-side
    (``pre_text``) and their payload nulled, so Arrow ships the small
    extracted string instead of the page bytes.

    df: (url, resource_id, dataset_id, html, parsing_table, mime_type).

    The JVM lane is only byte-identical to the python twin when the
    payload is VALID UTF-8 text: Spark's binary→string cast keeps raw
    bytes (no U+FFFD substitution like python's decode(...,'replace')),
    and an invalid-UTF-8 string crashes the Arrow→pandas conversion
    feeding the python pass. So the JVM lane takes (a) parquet payloads
    (both twins emit "" for PAR1) and (b) text-typed mimes whose bytes
    validate and carry no zip magic; everything else — CSV-to-parse
    rows, gzip/xlsx/xls decodes, media containers, latin-1 CSV, binary
    soup sniffed text/plain — ships its bytes to python unchanged.
    """
    from hydra_spark.analysis.extract import extract_text_jvm
    from hydra_spark.analysis.georoute import GEOJSON_MIMES, PARQUET_MIMES

    # the parquet lane requires the PAR1 magic, not just the mime: a
    # parquet-labeled payload WITHOUT the magic would fall through
    # extract_text_jvm's `.otherwise(raw cast)` and ship invalid UTF-8
    # into Arrow — exactly the crash this gate exists to prevent (the
    # crawl's sniffed mimes imply the magic, but this function is a
    # public surface). Non-magic parquet-mime rows go to python, whose
    # decode(...,'replace') handles them like round 5 did.
    # The text lane likewise refuses the zip magic: the python twin
    # unpacks PK payloads as xlsx whatever their mime, and "PK\x03\x04"
    # is valid UTF-8 (the gzip and OLE2 magics are not, so
    # is_valid_utf8 already routes them to python).
    s = F.col("html").cast("string")
    pre_ok = (F.col("mime_type").isin(*PARQUET_MIMES) & s.startswith("PAR1")) | (
        F.col("mime_type").isin("text/html", "text/plain", "text/csv", *GEOJSON_MIMES)
        & F.is_valid_utf8(s)
        & ~s.startswith("PK\x03\x04")
    )
    needs_python = F.col("parsing_table").isNotNull() | ~F.coalesce(pre_ok, F.lit(False))
    return df.select(
        "url",
        "resource_id",
        "dataset_id",
        F.when(needs_python, F.col("html")).alias("html"),
        "parsing_table",
        F.when(~needs_python, extract_text_jvm(F.col("html"))).alias("pre_text"),
    )


def process_fetched(df: DataFrame) -> DataFrame:
    """ONE pass over the fetched bytes producing BOTH per-round outputs
    (OUTPUTS_SCHEMA): extracted text per fetched document (kind='text')
    and typed parsed rows for csv resources (kind='row').

    df: (url, resource_id, dataset_id, html, parsing_table
    [, prev_inspection] [, pre_text]) — rows with NULL parsing_table get
    text extraction only; a non-NULL prev_inspection JSON enables the
    validate-then-detect fast path. A non-NULL ``pre_text`` short-
    circuits python text extraction entirely: the caller already
    extracted the text JVM-side (analysis/extract.extract_text_jvm,
    byte-identical twin) and nulled ``html``, so the Arrow boundary
    ships the small extracted string instead of the raw page bytes and
    the worker only assembles the output row. Fusing the outputs halves
    the passes over the payload bytes (they dominate round cost).
    """
    if "prev_inspection" not in df.columns:
        df = df.withColumn("prev_inspection", F.lit(None).cast("string"))
    if "pre_text" not in df.columns:
        df = df.withColumn("pre_text", F.lit(None).cast("string"))
    cols = ["url", "resource_id", "dataset_id", "html", "parsing_table",
            "prev_inspection", "pre_text"]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        names = [f.name for f in OUTPUTS_SCHEMA.fields]
        for pdf in batches:
            rows: list[tuple] = []
            for url, rid, did, html, table, prev, pre in pdf[cols].itertuples(index=False):
                if pre is not None:
                    rows.append(("text", None, rid, did, url, None, None, None, None, pre))
                    continue
                if html is None:
                    continue
                data = bytes(html)
                rows.append(
                    ("text", None, rid, did, url, None, None, None, None,
                     _extract_text_py(data))
                )
                if table is not None:
                    prev_insp = json.loads(prev) if prev else None
                    rows.extend(
                        ("row", *r, None)
                        for r in _analyse_one(url, rid, did, data, table, prev_insp)
                    )
            yield pd.DataFrame(rows, columns=names)

    return df.select(*cols).mapInPandas(gen, schema=OUTPUTS_SCHEMA)


def analyse_csv_batch(df: DataFrame) -> DataFrame:
    """df: (url, resource_id, dataset_id, html binary, [parsing_table],
    [sheet_name]) → ROWS_SCHEMA rows, one per parsed data line (or one
    error row). Payloads are magic-dispatched like the crawl round's:
    gzip is unpacked, parquet/xlsx/xls are decoded, anything else is
    CSV. ``sheet_name`` picks an Excel sheet per resource, like the
    reference's inspection-driven ``wb[sheet_name]`` (utils/reader.py:
    36,41); absent or NULL reads the first sheet."""
    if "parsing_table" not in df.columns:
        df = df.withColumn("parsing_table", F.md5("url"))
    if "sheet_name" not in df.columns:
        df = df.withColumn("sheet_name", F.lit(None).cast("string"))
    cols = ["url", "resource_id", "dataset_id", "html", "parsing_table", "sheet_name"]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        names = [f.name for f in ROWS_SCHEMA.fields]
        for pdf in batches:
            rows: list[tuple] = []
            for url, rid, did, html, table, sheet in pdf[cols].itertuples(index=False):
                if html is None:
                    continue
                rows.extend(_analyse_one(url, rid, did, bytes(html), table, sheet_name=sheet))
            yield pd.DataFrame(rows, columns=names)

    return df.select(*cols).mapInPandas(gen, schema=ROWS_SCHEMA)


def tables_index_entries(rows: DataFrame, now: str) -> DataFrame:
    """tables_index rows (migrations/csv/20221205:3-10) from a parsed
    batch: one entry per successfully inspected file."""
    return rows.where(F.col("inspection").isNotNull()).select(
        "parsing_table",
        F.col("inspection").alias("csv_detective"),
        "resource_id",
        "dataset_id",
        "url",
        F.to_timestamp(F.lit(now)).alias("created_at"),
        F.lit(None).cast("string").alias("indexes"),
        F.lit(None).cast("timestamp").alias("deleted_at"),
    )


def schema_from_inspection(insp: dict) -> T.StructType:
    fields = [T.StructField("__id", T.LongType(), False)]
    for name, c in insp["columns"].items():
        fields.append(
            T.StructField(db_col_name(name), PYTHON_TYPE_TO_SPARK[c["python_type"]], True)
        )
    return T.StructType(fields)


def load_parsed_table(
    spark: SparkSession, rows: DataFrame, inspection: dict, table_name: str
) -> DataFrame:
    """Typed DataFrame of one parsed resource (`SELECT * FROM "<md5>"`)."""
    schema = schema_from_inspection(insp=inspection)
    data_fields = [f for f in schema.fields if f.name != "__id"]
    rec = T.StructType(data_fields)
    return (
        rows.where((F.col("parsing_table") == table_name) & F.col("row_json").isNotNull())
        .select(
            "__id",
            F.from_json(
                "row_json",
                rec,
                {
                    "allowNonNumericNumbers": "true",
                    "timestampFormat": "yyyy-MM-dd HH:mm:ss[.SSSSSS][XXX]",
                    "timestampNTZFormat": "yyyy-MM-dd HH:mm:ss[.SSSSSS]",
                },
            ).alias("_r"),
        )
        .select("__id", "_r.*")
    )
