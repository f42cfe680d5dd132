"""CSV inspection — the csv-detective subset the corpus needs.

Reference: udata_hydra/data_formats/csv_like/__init__.py:35-58 calls
csv-detective's `routine`/`validate_then_detect`, producing an
"inspection" dict: {encoding, separator, header_row_idx, header,
columns: {name: {format, python_type, score}}, total_lines, formats,
profile{min,max,mean,std}} (shape asserted in
tests/test_analysis/test_analysis_csv.py:307-348).

This module re-derives that inspection deterministically:
- encoding: utf-8, latin-1 fallback
- separator: the candidate in [, ; | \\t] that yields a consistent
  column count ≥ 2 over the first 10 rows (quote-aware via csv module)
- error strings match the reference exactly
  (tests/test_analysis/test_analysis_csv.py:104-151):
  * empty/undetectable header → "Could not accurately retrieve headers
    position"
  * ragged rows → "Number of columns is not even across the first 10
    rows (detected separator: X)."
- profile: min/max/mean/std per numeric column; NaN values are ignored,
  an inf value nulls max/mean/std but not min
  (tests/test_analysis/test_analysis_csv.py:721-759)
"""

from __future__ import annotations

import csv
import io
import math

from hydra_spark.analysis.casting import (
    FORMAT_CHECKS,
    detect_column_format,
    format_matches,
    detect_column_type,
    smart_cast_cell,
)

SEPARATORS = [",", ";", "|", "\t"]
HEADER_SCAN_ROWS = 10
MAX_PREAMBLE_ROWS = 5  # how deep to look for the header row
MAX_COL_NAME_BYTES = 64  # PG NAMEDATALEN guard kept for parity (F9)


class ParsingError(Exception):
    pass


def _rows(text: str, sep: str, limit: int | None = None) -> list[list[str]]:
    r = csv.reader(io.StringIO(text), delimiter=sep)
    out = []
    for i, row in enumerate(r):
        if limit is not None and i >= limit:
            break
        out.append(row)
    return out


def detect_dialect(text: str) -> tuple[str, int]:
    """(separator, header_row_idx): consistent-column-count vote over a
    scan window, trying successively deeper header offsets (files with
    preamble lines — a title, a generation date — before the real
    header; csv-detective scans for the header position the same way).
    Offsets are indices into the non-empty reader rows. The earliest
    consistent offset wins; among separators, more columns win ties."""
    best: tuple[int, int, str] | None = None  # (header_idx, -ncols, sep)
    ragged: str | None = None
    for sep in SEPARATORS:
        if sep not in text:
            # an absent delimiter can only ever produce 1-column rows:
            # never a candidate (needs ≥2 cols) and never ragged (same
            # bound) — skipping the parse is outcome-identical
            continue
        try:
            rows = [r for r in _rows(text, sep, HEADER_SCAN_ROWS + MAX_PREAMBLE_ROWS) if r]
        except csv.Error:
            continue
        if not rows:
            continue
        found = False
        for idx in range(min(MAX_PREAMBLE_ROWS + 1, len(rows))):
            ncols = len(rows[idx])
            window = rows[idx : idx + HEADER_SCAN_ROWS]
            # a deep header is only credible when the skipped rows are
            # NARROWER than the table (title/date preamble) and at least
            # one data row follows — a wider first row is a ragged file,
            # not preamble (the reference reports those as errors)
            deep_ok = idx == 0 or (
                len(window) >= 2 and all(len(r) < ncols for r in rows[:idx])
            )
            if ncols >= 2 and deep_ok and all(len(r) == ncols for r in window):
                cand = (idx, -ncols, sep)
                if best is None or cand < best:
                    best = cand
                found = True
                break  # deeper offsets would only hide real preamble
        if not found and ragged is None and max(len(r) for r in rows[:HEADER_SCAN_ROWS]) >= 2:
            ragged = sep
    if best is not None:
        return best[2], best[0]
    if ragged is not None:
        # a separator produces multiple columns but the counts are ragged
        raise ParsingError(
            f"Number of columns is not even across the first {HEADER_SCAN_ROWS} rows "
            f"(detected separator: {ragged})."
        )
    # single-column file: treat as comma-separated one-column data
    return ",", 0


def _validate_inspection_full(
    data: bytes, prev: dict
) -> "tuple[dict, list[list[str]], list[list]] | None":
    """`validate_then_detect`'s validation half (reference:
    data_formats/csv_like/__init__.py:41-50; truth table in
    tests/test_analysis/test_analysis_csv.py:351-474): the new file
    still conforms to the previous inspection iff the separator and
    header are unchanged and every value casts to its column's previous
    python_type. Valid → the previous inspection is reused with fresh
    total_lines/profile (types stay stable across re-crawls); invalid →
    None, caller runs the full detection."""
    try:
        text = data.decode(prev.get("encoding", "utf-8"))
    except UnicodeDecodeError:
        return None
    hidx = prev.get("header_row_idx", 0)
    rows = [r for r in _rows(text, prev["separator"]) if r]
    if len(rows) <= hidx or rows[hidx] != prev["header"]:
        return None
    # dialect sanity: the previous separator + header offset must still win
    try:
        if detect_dialect(text) != (prev["separator"], hidx):
            return None
    except ParsingError:
        return None
    body = rows[hidx + 1 :]
    ncols = len(prev["header"])
    if any(len(r) != ncols for r in body[: HEADER_SCAN_ROWS - 1]):
        return None
    # validation and casting fused: the conformance check already casts
    # every non-refined cell, so capture the results column-major and
    # transpose at the end instead of paying a second full cast pass
    col_casted: list[list] = []
    for j, name in enumerate(prev["header"]):
        col = prev["columns"][name]
        t = col["python_type"]
        refined = col.get("format") in FORMAT_CHECKS
        cc = []
        for r in body:
            v = r[j] if j < len(r) else None
            if v is None or str(v).strip() == "":
                # empty-for-validation cells still need the output cast
                # semantics: ''/None → NULL, whitespace-only survives
                # only for string/json, everything else fails → NULL
                try:
                    cc.append(smart_cast_cell(t, v))
                except ValueError:
                    cc.append(None)
                continue
            if refined:
                # refined format (e.g. siret, latitude) must still match
                # — regex + range validator; this is what invalidates
                # format drift like siret → date
                if not format_matches(col["format"], str(v).strip()):
                    return None
                try:
                    cc.append(smart_cast_cell(t, v))
                except ValueError:
                    cc.append(None)
                continue
            try:
                cc.append(smart_cast_cell(t, v))
            except ValueError:
                return None
        col_casted.append(cc)
    # row-major, truncated at each row's own width (missing trailing
    # cells stay ABSENT, not NULL — the row-output dict must not gain keys)
    casted = [
        [col_casted[j][i] for j in range(min(len(r), ncols))]
        for i, r in enumerate(body)
    ]
    out = dict(prev)
    out["total_lines"] = len(body)
    out["profile"] = _profile_from_casted(prev["header"], prev["columns"], casted)
    out["from_validation"] = True
    return out, body, casted


def validate_inspection(data: bytes, prev: dict) -> dict | None:
    """Public wrapper over `_validate_inspection_full` (inspection only)."""
    res = _validate_inspection_full(data, prev)
    return None if res is None else res[0]


def _cast_matrix(header: list[str], cols: dict, body: list[list[str]]) -> list[list]:
    """smart-cast every cell ONCE (failsafe NULL), row-major, truncated
    at the header width like the original per-row zip() — shared by the
    profile and the row-output pass so no cell is ever cast twice."""
    from hydra_spark.analysis.casting import CELL_CASTERS, _cast_str

    # per-column caster resolved ONCE (same functions smart_cast_cell
    # dispatches through — semantics identical by construction); the
    # ''/None short-circuit is inlined to keep the per-cell cost at one
    # call + one try
    casters = [CELL_CASTERS.get(cols[h]["python_type"], _cast_str) for h in header]
    ncols = len(header)
    casted = []
    for r in body:
        row = []
        for fn, v in zip(casters, r[:ncols]):
            if v is None:
                row.append(None)
                continue
            s = str(v)
            if s == "":
                row.append(None)
                continue
            try:
                row.append(fn(s))
            except ValueError:
                row.append(None)
        casted.append(row)
    return casted


def _profile_from_casted(header: list[str], cols: dict, casted: list[list]) -> dict:
    """min/max/mean/std of each int/float column, from the shared cast
    matrix (smart_cast semantics, failures already NULLed); an inf makes
    max, mean and std NULL."""
    profile = {}
    for j, name in enumerate(header):
        t = cols[name]["python_type"]
        if t not in ("int", "float"):
            continue
        vals = [float(row[j]) for row in casted if j < len(row) and row[j] is not None]
        if not vals:
            profile[name] = {"min": None, "max": None, "mean": None, "std": None}
            continue
        has_inf = any(math.isinf(v) for v in vals)
        finite = [v for v in vals if math.isfinite(v)]
        mn = min(finite) if finite else None
        if has_inf:
            profile[name] = {"min": mn, "max": None, "mean": None, "std": None}
        else:
            n = len(vals)
            mean = sum(vals) / n
            std = (sum((v - mean) ** 2 for v in vals) / (n - 1)) ** 0.5 if n > 1 else None
            profile[name] = {"min": mn, "max": max(vals), "mean": mean, "std": std}
    return profile


def inspect_csv(data: bytes) -> dict:
    """Public wrapper over `_inspect_csv_full` (inspection only)."""
    return _inspect_csv_full(data)[0]


def _inspect_csv_full(data: bytes) -> "tuple[dict, list[list[str]], list[list]]":
    """(inspection, body_rows, cast_matrix): the single-parse,
    single-cast variant the crawl's hot python pass consumes — body and
    casts are computed once here instead of re-parsed/re-cast by the
    caller (ingest._analyse_one) and the profile."""
    try:
        text = data.decode("utf-8")
        encoding = "utf-8"
    except UnicodeDecodeError:
        text = data.decode("latin-1")
        encoding = "latin-1"

    if not text.strip():
        raise ParsingError("Could not accurately retrieve headers position")

    sep, header_idx = detect_dialect(text)
    rows = [r for r in _rows(text, sep) if r]
    header, body = rows[header_idx], rows[header_idx + 1 :]
    if any(len(h.encode("utf-8")) >= MAX_COL_NAME_BYTES for h in header):
        raise ParsingError("Column names are too long")

    ncols = len(header)
    for r in body[: HEADER_SCAN_ROWS - 1]:
        if len(r) != ncols:
            raise ParsingError(
                f"Number of columns is not even across the first {HEADER_SCAN_ROWS} rows "
                f"(detected separator: {sep})."
            )

    cols = {}
    for j, name in enumerate(header):
        values = [r[j] if j < len(r) else None for r in body]
        refined = detect_column_format(values, name)
        if refined is not None:
            fmt, t = refined
            cols[name] = {"format": fmt, "python_type": t, "score": 1.5}
        else:
            t = detect_column_type(values)
            cols[name] = {"format": t, "python_type": t, "score": 1.0}

    casted = _cast_matrix(header, cols, body)
    profile = _profile_from_casted(header, cols, casted)

    formats: dict[str, list[str]] = {}
    for name, c in cols.items():
        formats.setdefault(c["format"], []).append(name)

    insp = {
        "encoding": encoding,
        "separator": sep,
        "header_row_idx": header_idx,
        "header": header,
        "columns": cols,
        "total_lines": len(body),
        "formats": formats,
        "profile": profile,
    }
    return insp, body, casted
