"""Excel reader — S7 (xlsx + legacy .xls, with sheet selection).

Reference: udata_hydra/utils/reader.py:31-67 iterates sheets via
openpyxl (xlsx) / xlrd (xls), selecting ``sheet_name`` from the
inspection, and feeds the same casting pipeline as CSV. Neither
openpyxl nor xlrd ships in this container, so both formats have
stdlib codecs: zip+XML for xlsx (hydra_spark.analysis.xlsx) and an
OLE2/BIFF8 parser for xls (hydra_spark.analysis.xls). The installed
libraries are still preferred when importable (full fidelity for
exotic workbooks).
"""

from __future__ import annotations

import io
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame

from hydra_spark.analysis.ingest import ROWS_SCHEMA, _analyse_one
from hydra_spark.analysis.xls import XLS_MAGIC, XLS_MIME, xls_bytes, xls_rows  # noqa: F401
from hydra_spark.analysis.xlsx import (  # noqa: F401
    XLSX_MAGIC,
    XLSX_MIME,
    xlsx_bytes,
    xlsx_rows,
)

try:  # pragma: no cover - not installed in this sandbox
    import openpyxl  # noqa: F401

    HAVE_OPENPYXL = True
except ImportError:
    HAVE_OPENPYXL = False

try:  # pragma: no cover - not installed in this sandbox
    import xlrd  # noqa: F401

    HAVE_XLRD = True
except ImportError:
    HAVE_XLRD = False


def _rows_from_xlsx(data: bytes, sheet_name: str | None = None) -> list[list[str]]:
    if HAVE_OPENPYXL:  # pragma: no cover - not installed in this sandbox
        wb = openpyxl.load_workbook(io.BytesIO(data), read_only=True)
        sheet = wb[sheet_name] if sheet_name is not None else wb[wb.sheetnames[0]]
        return [["" if c.value is None else str(c.value) for c in row] for row in sheet.iter_rows()]
    return xlsx_rows(data, sheet_name)


def _rows_from_xls(data: bytes, sheet_name: str | None = None) -> list[list[str]]:
    if HAVE_XLRD:  # pragma: no cover - not installed in this sandbox
        wb = xlrd.open_workbook(file_contents=data)
        sheet = wb[sheet_name] if sheet_name is not None else wb[wb.sheet_names()[0]]
        return [["" if c.value is None else str(c.value) for c in row] for row in sheet.get_rows()]
    return xls_rows(data, sheet_name)


def excel_rows(data: bytes, sheet_name: str | None = None) -> list[list[str]]:
    """Magic-dispatched Excel decode: OLE2 → legacy .xls (BIFF8),
    PK zip → xlsx. ``sheet_name=None`` reads the first sheet in
    workbook order, like the reference's default inspection."""
    if data[:8] == XLS_MAGIC:
        return _rows_from_xls(data, sheet_name)
    return _rows_from_xlsx(data, sheet_name)


def analyse_excel_batch(df: DataFrame) -> DataFrame:
    """Same contract as analyse_csv_batch, over Excel payloads (xlsx or
    legacy .xls, dispatched per row on the magic bytes): rows are
    re-serialized to CSV text and run through the shared inspection +
    smart-cast pipeline (so typing semantics stay identical). An
    optional ``sheet_name`` column selects the sheet per resource, like
    the reference's inspection-driven ``wb[sheet_name]``
    (utils/reader.py:36,41); absent/NULL → first sheet."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import csv as _csv
        import io as _io

        names = [f.name for f in ROWS_SCHEMA.fields]
        cols = ["url", "resource_id", "dataset_id", "html", "parsing_table"]
        for pdf in batches:
            sheet_sel = (
                pdf["sheet_name"].tolist() if "sheet_name" in pdf.columns else [None] * len(pdf)
            )
            out: list[tuple] = []
            for (url, rid, did, html, table), sheet in zip(
                pdf[cols].itertuples(index=False), sheet_sel
            ):
                if html is None:
                    continue
                try:
                    rows = excel_rows(bytes(html), None if pd.isna(sheet) else sheet)
                except Exception as e:  # malformed zip/XML/BIFF, missing dep, ...
                    out.append((table, rid, did, url, None, None, None, f"excel:{e}"))
                    continue
                buf = _io.StringIO()
                _csv.writer(buf).writerows(rows)
                out.extend(_analyse_one(url, rid, did, buf.getvalue().encode(), table))
            yield pd.DataFrame(out, columns=names)

    return df.mapInPandas(gen, schema=ROWS_SCHEMA)
