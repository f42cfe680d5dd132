"""Text extraction from fetched page bytes (the webtext deliverable).

BASELINE.json's per-row invariant is "byte-identical extracted text per
url versus the reference": the `pages.text` column carries the
reference-extracted text, and this stage must reproduce it from the raw
`html` bytes. Extraction runs as ONE Arrow-batched pandas UDF over the
fetched batch (vectorized pandas string ops — no per-row Python loop):

- HTML documents → the <p>…</p> body text (the synthetic corpus embeds
  exactly one paragraph; a production extractor would plug trafilatura/
  boilerplate-removal here — same UDF shape).
- anything else (CSV, plain text) → the decoded bytes verbatim.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _maybe_gunzip(b) -> bytes | None:
    if b is None:
        return None
    b = bytes(b)
    if b[:2] == b"\x1f\x8b":
        import gzip

        try:
            return gzip.decompress(b)
        except OSError:
            return b
    return b


def _decode_or_sheet(b: bytes) -> str:
    """utf-8 decode, except Excel payloads (xlsx zip / legacy .xls OLE2)
    decode to their CSV-shaped sheet text — keep in lockstep with
    ingest._extract_text_py."""
    if b[:4] == b"PK\x03\x04" or b[:8] == b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1":
        from hydra_spark.analysis.ingest import _excel_rows

        try:
            return "\n".join(",".join(r) for r in _excel_rows(b))
        except Exception:
            return ""
    return b.decode("utf-8", "replace")


@F.pandas_udf(T.StringType())
def extract_text(html: pd.Series) -> pd.Series:
    s = html.map(lambda b: _decode_or_sheet(_maybe_gunzip(b)) if b is not None else None)
    s = pd.Series(s, dtype="object")
    mask = s.notna()
    out = s.copy()
    is_html = s.where(mask).str.startswith("<html").fillna(False)
    if is_html.any():
        body = s.where(is_html).str.extract(r"<p>(.*)</p>", expand=False)
        fallback = (
            s.where(is_html)
            .str.replace(r"<[^>]+>", " ", regex=True)
            .str.replace(r"\s+", " ", regex=True)
            .str.strip()
        )
        out = out.mask(is_html, body.fillna(fallback))
    return out


def extract_text_jvm(html_col: Column) -> Column:
    """Whole-stage-codegen twin of `_extract_text_py` for payloads that
    need no Python (NOT gzip, NOT xlsx): lenient utf-8 cast, then the
    <p>…</p> body for html documents (tag-strip + whitespace-collapse
    fallback), verbatim text otherwise. MUST stay byte-identical with
    the python twin — the round-level invariant test compares them over
    the full corpus. Callers route gzip/xlsx payloads to the python
    path; everything else never leaves the JVM."""
    # the cast keeps raw bytes (no U+FFFD substitution like python's
    # decode(..,'replace')), so callers must pass valid UTF-8 or PAR1
    # payloads only — route_python_boundary gates the JVM lane on that
    s = html_col.cast("string")
    has_p = s.rlike("<p>(.*)</p>")  # non-dotall, same as python re default
    # (?U) makes Java's \s Unicode-aware like Python's (NBSP etc.) —
    # without it the two twins diverge on non-ASCII whitespace; the
    # collapse turns any leading/trailing run into a single ASCII
    # space, so the plain trim() stays equivalent to python strip()
    fallback = F.trim(
        F.regexp_replace(F.regexp_replace(s, "<[^>]+>", " "), r"(?U)\s+", " ")
    )
    return (
        F.when(s.startswith("PAR1"), F.lit(""))  # parquet: no prose, twin of python PAR1 branch
        .when(
            s.startswith("<html"),
            F.when(has_p, F.regexp_extract(s, "<p>(.*)</p>", 1)).otherwise(fallback),
        )
        .otherwise(s)
    )


# ---------------------------------------------------------------------------
# Rich HTML → text (trafilatura-shaped boilerplate removal, stdlib-only)
# ---------------------------------------------------------------------------

# containers whose entire subtree is boilerplate/metadata — dropped
_SKIP_TAGS = frozenset(
    {"script", "style", "noscript", "template", "head", "title", "nav",
     "header", "footer", "aside", "svg", "iframe"}
)
# elements that bound a text block: their start OR end flushes the
# current block; inline markup (b/i/a/span/em/strong/code…) flows through
_BLOCK_TAGS = frozenset(
    {"p", "h1", "h2", "h3", "h4", "h5", "h6", "li", "ul", "ol", "div",
     "section", "article", "main", "blockquote", "pre", "table", "tr",
     "td", "th", "br", "hr", "dt", "dd", "dl", "figcaption", "form",
     "fieldset", "legend", "address", "summary", "details", "body"}
)


def _make_html_parser():
    # lazy class creation keeps the stdlib import off the executor's
    # module-import path until the UDF actually runs
    from html.parser import HTMLParser

    class _TextExtractor(HTMLParser):
        """Block-structured text extraction: skip-subtree containers,
        block boundaries at block-level tags, whitespace collapsed
        within a block, blocks joined with newline. Entities/charrefs
        decode via convert_charrefs. Tolerates unclosed tags (a skip
        container left open skips to EOF, like real boilerplate)."""

        def __init__(self):
            super().__init__(convert_charrefs=True)
            self._blocks: list[list[str]] = [[]]
            self._skip = 0

        def handle_starttag(self, tag, attrs):
            if tag in _SKIP_TAGS:
                self._skip += 1
            elif tag in _BLOCK_TAGS:
                self._flush()

        def handle_endtag(self, tag):
            if tag in _SKIP_TAGS:
                self._skip = max(0, self._skip - 1)
            elif tag in _BLOCK_TAGS:
                self._flush()

        def handle_data(self, data):
            if not self._skip and data:
                self._blocks[-1].append(data)

        def _flush(self):
            if self._blocks[-1]:
                self._blocks.append([])

        def text(self) -> str:
            out = []
            for parts in self._blocks:
                t = " ".join("".join(parts).split())
                if t:
                    out.append(t)
            return "\n".join(out)

    return _TextExtractor


def html_to_text_py(payload: bytes | str | None) -> str | None:
    """Full-page HTML → text: drop script/style/head/nav/header/footer/
    aside subtrees and comments, break text at block-level elements,
    collapse intra-block whitespace, decode entities, join blocks with
    newlines. The reference stops at resource analysis; this is the
    trafilatura-shaped stage a webtext pipeline runs on fetched pages
    (RefinedWeb §3.1.2's extraction step), in pure stdlib so the exact
    output is replayable anywhere."""
    if payload is None:
        return None
    if isinstance(payload, (bytes, bytearray, memoryview)):
        payload = bytes(payload).decode("utf-8", "replace")
    parser = _make_html_parser()()
    parser.feed(payload)
    parser.close()
    return parser.text()


@F.pandas_udf(T.StringType())
def html_to_text(html: pd.Series) -> pd.Series:
    """Arrow-batched wrapper of `html_to_text_py` (binary or string in).
    Parsing is inherently per-document stateful — the batch transfer is
    vectorized, the parse is the unavoidable Python core."""
    return html.map(html_to_text_py)
