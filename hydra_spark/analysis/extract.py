"""Text extraction from fetched page bytes (the webtext deliverable).

BASELINE.json's per-row invariant is "byte-identical extracted text per
url versus the reference": the `pages.text` column carries the
reference-extracted text, and the crawl round must reproduce it from
the raw `html` bytes. `ingest.route_python_boundary` puts each row on
one of two lanes: `extract_text_jvm` (valid UTF-8 text and parquet; the
bytes never leave the JVM) or `ingest._extract_text_py` (gzip, xlsx/xls,
everything else), which is also the JVM lane's oracle. Both turn HTML
documents into the <p>…</p> body text (the synthetic corpus embeds
exactly one paragraph) and pass anything else (CSV, plain text) through
decoded. `html_to_text` is a different operator: full-page,
block-structured HTML → text.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T


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
