"""WARC (ISO 28500) reader/writer — Common Crawl's container format.

The reference fetches live URLs and has no archive-file ingestion; a
Common-Crawl-style pipeline starts from .warc.gz segments, so this adds
the missing source (and the writer twin that fixtures/sinks need).
From-scratch stdlib implementation of the public spec: a record is

    WARC/1.0\r\n<named headers>\r\n\r\n<Content-Length block>\r\n\r\n

and a CC ``.warc.gz`` is a stream of CONCATENATED gzip members, one
record per member, so any byte range from the CDX index decompresses
independently — the property that makes 1 GB segments random-access.

Scale design:
- `read_warc` pairs Spark's binaryFile source (one file per task) with
  an Arrow-batched `mapInPandas` parse; parsing is the unavoidable
  Python core (stateful byte scanning), the transfer is vectorized.
- A 100 TB crawl archive is ~100k segment files — natural file-level
  parallelism; pushdown happens OUTSIDE the parse via the CDX index
  (pick segments/offsets first), exactly how CC consumers work.
- The parser is resync-tolerant: a corrupt record skips forward to the
  next ``WARC/`` magic instead of poisoning the task.
"""

from __future__ import annotations

import gzip
import hashlib
import zlib
from datetime import datetime
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T

__all__ = [
    "WARC_RECORD_SCHEMA",
    "build_warc_record",
    "build_warc",
    "iter_warc_records",
    "warc_records",
    "read_warc",
    "build_warc_with_index",
    "read_warc_slice",
    "write_warc",
    "write_wet",
    "wat_envelope",
    "write_wat",
    "wat_metadata",
]

WARC_RECORD_SCHEMA = T.StructType(
    [
        T.StructField("src", T.StringType(), True),
        T.StructField("record_id", T.StringType(), True),
        T.StructField("warc_type", T.StringType(), True),
        T.StructField("target_uri", T.StringType(), True),
        T.StructField("warc_date", T.TimestampType(), True),
        T.StructField("content_type", T.StringType(), True),
        T.StructField("content_length", T.LongType(), True),
        T.StructField("http_status", T.IntegerType(), True),
        T.StructField("refers_to", T.StringType(), True),
        T.StructField("body", T.BinaryType(), True),
    ]
)

_DATE_FMT = "%Y-%m-%dT%H:%M:%SZ"


def _segment_name(seed: str, ordinal: int) -> str:
    """Collision-free segment file name. The first-URL hash alone is NOT
    unique — two Arrow batches (same or different partitions) can share
    a first URL in recrawl archives with repeated captures, and a shared
    name silently overwrites a segment while the manifest double-counts
    it. Partition id + a per-task batch ordinal disambiguate."""
    from pyspark import TaskContext

    tc = TaskContext.get()
    pid = tc.partitionId() if tc is not None else 0
    h = hashlib.md5(seed.encode()).hexdigest()[:12]
    return f"{h}-p{pid:05d}-{ordinal:04d}"


def record_urn(target_uri: str | None, date: str) -> str:
    """Deterministic record id: UUID URN from md5(uri|date) — the
    anchor revisit records point their WARC-Refers-To at."""
    rid = hashlib.md5(f"{target_uri}|{date}".encode()).hexdigest()
    return f"<urn:uuid:{rid[:8]}-{rid[8:12]}-{rid[12:16]}-{rid[16:20]}-{rid[20:32]}>"


def build_warc_record(
    warc_type: str,
    target_uri: str | None,
    date: str,
    payload: bytes,
    content_type: str = "application/http; msgtype=response",
    extra_headers: list[tuple[str, str]] | None = None,
) -> bytes:
    """One well-formed WARC/1.0 record. ``date`` is the WARC-Date
    string (``YYYY-mm-ddTHH:MM:SSZ``). The record id is a deterministic
    UUID URN from md5(uri|date) so archives replay byte-identically."""
    urn = record_urn(target_uri, date)
    headers = [
        "WARC/1.0",
        f"WARC-Type: {warc_type}",
        f"WARC-Record-ID: {urn}",
        f"WARC-Date: {date}",
        f"Content-Type: {content_type}",
        f"Content-Length: {len(payload)}",
    ]
    if target_uri is not None:
        headers.insert(2, f"WARC-Target-URI: {target_uri}")
    for k, v in extra_headers or []:
        headers.append(f"{k}: {v}")
    return "\r\n".join(headers).encode("utf-8") + b"\r\n\r\n" + payload + b"\r\n\r\n"


def build_warc(records: list[bytes], gzip_per_record: bool = True) -> bytes:
    """Concatenate records into a segment; with ``gzip_per_record``
    each record is its own gzip member (the CC layout)."""
    if gzip_per_record:
        return b"".join(gzip.compress(r, compresslevel=1, mtime=0) for r in records)
    return b"".join(records)


_GUNZIP_CHUNK = 1 << 20  # bounded feed => bounded unused_data copies


def _gunzip_members(data: bytes) -> bytes:
    """Decompress a stream of concatenated gzip members (stdlib
    gzip.decompress stops at the first member's unused data on some
    malformed inputs; the decompressobj loop is explicit).

    Feeds each decompressor bounded chunks of a zero-copy memoryview
    instead of the whole remaining buffer: the naive per-member
    `d.decompress(data); data = d.unused_data` materializes a copy of
    the REMAINDER per member — O(members x bytes), quadratic on
    Common-Crawl-style segments with one gzip member per record."""
    if not data.startswith(b"\x1f\x8b"):
        return data
    out = []
    view = memoryview(data)
    pos, n = 0, len(data)
    while pos < n:
        d = zlib.decompressobj(31)
        try:
            while pos < n:
                chunk = view[pos : pos + _GUNZIP_CHUNK]
                out.append(d.decompress(chunk))
                pos += len(chunk)
                if d.eof:
                    pos -= len(d.unused_data)  # rewind past-member bytes
                    break
        except zlib.error:
            return b"".join(out)
        if not d.eof:
            break  # truncated final member — keep what decoded
    return b"".join(out)


def iter_warc_records(data: bytes | bytearray | memoryview | None) -> Iterator[dict]:
    """Parse records out of (possibly gzipped) segment bytes. Malformed
    regions resync to the next ``WARC/`` magic."""
    if data is None:
        return
    data = _gunzip_members(bytes(data))
    pos, n = 0, len(data)
    while pos < n:
        while data.startswith(b"\r\n", pos):
            pos += 2
        if pos >= n:
            break
        if not data.startswith(b"WARC/", pos):
            nxt = data.find(b"WARC/", pos)
            if nxt < 0:
                break
            pos = nxt
        hdr_end = data.find(b"\r\n\r\n", pos)
        if hdr_end < 0:
            break
        head = data[pos:hdr_end].decode("utf-8", "replace").split("\r\n")
        fields: dict[str, str] = {}
        for ln in head[1:]:
            if ":" in ln:
                k, v = ln.split(":", 1)
                fields[k.strip().lower()] = v.strip()
        try:
            clen = int(fields.get("content-length", "0"))
        except ValueError:
            clen = 0
        block = bytes(data[hdr_end + 4 : hdr_end + 4 + clen])
        pos = hdr_end + 4 + clen

        warc_date = None
        if "warc-date" in fields:
            wd = fields["warc-date"]
            # fast lane for the canonical 'YYYY-mm-ddTHH:MM:SSZ' shape
            # (strptime is ~14 us/record); anything else falls back to
            # strptime for identical strict/lenient behavior
            if (
                len(wd) == 20
                and wd[4] == "-" and wd[7] == "-" and wd[10] == "T"
                and wd[13] == ":" and wd[16] == ":" and wd[19] == "Z"
                and wd[0:4].isdigit() and wd[5:7].isdigit() and wd[8:10].isdigit()
                and wd[11:13].isdigit() and wd[14:16].isdigit() and wd[17:19].isdigit()
            ):
                try:
                    warc_date = datetime(
                        int(wd[0:4]), int(wd[5:7]), int(wd[8:10]),
                        int(wd[11:13]), int(wd[14:16]), int(wd[17:19]),
                    )
                except ValueError:
                    warc_date = None
            else:
                try:
                    warc_date = datetime.strptime(wd, _DATE_FMT)
                except ValueError:
                    warc_date = None
        ctype = fields.get("content-type")
        http_status = None
        body = block
        if ctype and ctype.lower().startswith("application/http"):
            split = block.find(b"\r\n\r\n")
            if split >= 0:
                status_line = block[:split].split(b"\r\n", 1)[0]
                parts = status_line.split(b" ")
                if len(parts) >= 2 and parts[0].startswith(b"HTTP/"):
                    try:
                        http_status = int(parts[1])
                    except ValueError:
                        http_status = None
                body = block[split + 4 :]
        yield {
            "record_id": fields.get("warc-record-id"),
            "warc_type": fields.get("warc-type"),
            "refers_to": fields.get("warc-refers-to"),
            "target_uri": fields.get("warc-target-uri"),
            "warc_date": warc_date,
            "content_type": ctype,
            "content_length": clen,
            "http_status": http_status,
            "body": body,
        }


def warc_records(
    df: DataFrame, content_col: str = "content", src_col: str | None = None
) -> DataFrame:
    """Explode (src?, segment bytes) rows into one row per WARC record
    (WARC_RECORD_SCHEMA) via Arrow-batched mapInPandas."""
    cols = [f.name for f in WARC_RECORD_SCHEMA.fields]

    def gen(batches):
        for pdf in batches:
            rows = []
            for i in range(len(pdf)):
                src = str(pdf[src_col].iloc[i]) if src_col else None
                for rec in iter_warc_records(pdf[content_col].iloc[i]):
                    rec["src"] = src
                    rows.append(rec)
            out = pd.DataFrame(rows, columns=cols)
            if len(out):
                out["warc_date"] = pd.to_datetime(out["warc_date"])
            yield out

    return df.mapInPandas(gen, WARC_RECORD_SCHEMA)


def read_warc(spark, path: str) -> DataFrame:
    """Read .warc / .warc.gz segment files into one row per record.
    binaryFile gives one whole file per task — right-sized for CC's
    ~1 GB segments; select offsets with the CDX index upstream when
    only a slice is needed."""
    files = spark.read.format("binaryFile").load(path).select("path", "content")
    return warc_records(files, content_col="content", src_col="path")


def build_warc_with_index(records: list[bytes]) -> tuple[bytes, list[dict]]:
    """CC-style segment + its CDX offsets: each record its own gzip
    member, index rows carry (offset, length) of the member so a reader
    can fetch ONE record with a ranged read — the random-access property
    CDX pushdown depends on. Offsets are byte positions in the .warc.gz
    file; pair with `read_warc_slice`."""
    out, rows, pos = [], [], 0
    for rec in records:
        member = gzip.compress(rec, compresslevel=1, mtime=0)
        meta = next(iter(iter_warc_records(rec)), None) or {}
        rows.append(
            {
                "target_uri": meta.get("target_uri"),
                "warc_date": meta.get("warc_date"),
                "warc_type": meta.get("warc_type"),
                "offset": pos,
                "length": len(member),
            }
        )
        out.append(member)
        pos += len(member)
    return b"".join(out), rows


def read_warc_slice(path: str, offset: int, length: int) -> dict | None:
    """Fetch ONE record via its CDX (offset, length) — a ranged read of
    a single gzip member, no segment scan. This is the driver-side /
    per-task primitive; bulk access goes through `read_warc`."""
    with open(path, "rb") as f:
        f.seek(offset)
        member = f.read(length)
    return next(iter_warc_records(member), None)


def write_warc(
    df: DataFrame,
    out_dir: str,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    payload_col: str = "html",
    status_col: str | None = None,
    content_type: str = "text/html",
) -> DataFrame:
    """WARC SINK: archive fetched pages as CC-style .warc.gz segments
    (one file per Arrow batch, one gzip member per response record,
    payload wrapped in a synthesized HTTP head). File names derive from
    md5 of the batch's first URL — deterministic under any partitioning,
    no coordination. Returns the segment manifest (path, n_records,
    n_bytes); the archive reads back with `read_warc` (roundtrip is
    byte-identical on the body).

    Scale: executors write independently (the exact shape of a real
    CC dump job); a 100 TB crawl emits ~100k segments of ~1 GB —
    size them via upstream repartition."""
    import os

    import pandas as pd

    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("path", T.StringType()),
            T.StructField("n_records", T.LongType()),
            T.StructField("n_bytes", T.LongType()),
        ]
    )
    cols = [url_col, ts_col, payload_col] + ([status_col] if status_col else [])
    proj = df.select(*cols)

    def gen(batches):
        os.makedirs(out_dir, exist_ok=True)
        ordinal = 0
        for pdf in batches:
            if not len(pdf):
                continue
            recs = []
            for row in pdf.itertuples(index=False):
                url = getattr(row, url_col)
                ts = getattr(row, ts_col)
                payload = getattr(row, payload_col)
                if payload is None:
                    continue
                status = int(getattr(row, status_col)) if status_col else 200
                date = pd.Timestamp(ts).strftime(_DATE_FMT) if ts is not None else "1970-01-01T00:00:00Z"
                body = (
                    f"HTTP/1.1 {status} OK\r\nContent-Type: {content_type}\r\n\r\n".encode()
                    + bytes(payload)
                )
                recs.append(build_warc_record("response", url, date, body))
            if not recs:
                continue
            seg = build_warc(recs)
            name = _segment_name(str(pdf[url_col].iloc[0]), ordinal)
            ordinal += 1
            path = os.path.join(out_dir, f"part-{name}.warc.gz")
            with open(path, "wb") as f:
                f.write(seg)
            yield pd.DataFrame(
                [{"path": path, "n_records": len(recs), "n_bytes": len(seg)}]
            )

    return proj.mapInPandas(gen, schema)


def write_wet(
    df: DataFrame,
    out_dir: str,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    text_col: str = "text",
) -> DataFrame:
    """WET SINK — Common Crawl's extracted-text product: WARC
    'conversion' records (Content-Type text/plain, UTF-8 text payload).
    fetch → text extraction (the round's `texts` output) → `write_wet` IS
    the WET-generation pipeline; same segment/naming/manifest contract
    as `write_warc`."""
    import os

    import pandas as pd

    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("path", T.StringType()),
            T.StructField("n_records", T.LongType()),
            T.StructField("n_bytes", T.LongType()),
        ]
    )
    proj = df.select(url_col, ts_col, text_col)

    def gen(batches):
        os.makedirs(out_dir, exist_ok=True)
        ordinal = 0
        for pdf in batches:
            if not len(pdf):
                continue
            recs = []
            for row in pdf.itertuples(index=False):
                url, ts, text = (
                    getattr(row, url_col), getattr(row, ts_col), getattr(row, text_col)
                )
                if text is None:
                    continue
                date = (
                    pd.Timestamp(ts).strftime(_DATE_FMT)
                    if ts is not None
                    else "1970-01-01T00:00:00Z"
                )
                recs.append(
                    build_warc_record(
                        "conversion", url, date, str(text).encode("utf-8"),
                        content_type="text/plain",
                    )
                )
            if not recs:
                continue
            seg = build_warc(recs)
            name = _segment_name("wet|" + str(pdf[url_col].iloc[0]), ordinal)
            ordinal += 1
            path = os.path.join(out_dir, f"part-{name}.warc.wet.gz")
            with open(path, "wb") as f:
                f.write(seg)
            yield pd.DataFrame(
                [{"path": path, "n_records": len(recs), "n_bytes": len(seg)}]
            )

    return proj.mapInPandas(gen, schema)


# --- WAT: Common Crawl's metadata product ------------------------------

_WAT_TITLE_RE = None  # compiled lazily so import stays cheap
_WAT_HREF_RE = None


def wat_envelope(
    url: str | None, date: str, payload: bytes | None, max_links: int = 1000
) -> bytes:
    """The JSON payload of one WAT 'metadata' record: a CC-style
    Envelope carrying the response's WARC header echo plus extracted
    HTML metadata — the <title> and every anchor href AS WRITTEN in the
    document (WAT records raw hrefs, unresolved; resolution is the
    consumer's job — contrast crawl.discover.extract_links, which
    resolves because the frontier needs absolute URLs). Link order is
    document order, capped at ``max_links`` (spam-page bound, same cap
    rationale as extract_links). Key order is fixed so archives replay
    byte-identically.

    Reference basis: Common Crawl's published WAT layout
    (Envelope → WARC-Header-Metadata / Payload-Metadata →
    HTTP-Response-Metadata → HTML-Metadata → Head.Title + Links[]).
    """
    import json
    import re

    global _WAT_TITLE_RE, _WAT_HREF_RE
    if _WAT_TITLE_RE is None:
        _WAT_TITLE_RE = re.compile(rb"<title[^>]*>(.*?)</title>", re.I | re.S)
        _WAT_HREF_RE = re.compile(rb"""href\s*=\s*["']([^"']+)["']""")

    raw = bytes(payload) if payload is not None else b""
    html_meta: dict = {}
    m = _WAT_TITLE_RE.search(raw)
    if m:
        title = re.sub(r"\s+", " ", m.group(1).decode("utf-8", "replace")).strip()
        if title:
            html_meta["Head"] = {"Title": title}
    links = [
        {"path": "A@/href", "url": h.decode("utf-8", "replace")}
        for h in _WAT_HREF_RE.findall(raw)[:max_links]
    ]
    html_meta["Links"] = links
    env = {
        "Envelope": {
            "WARC-Header-Metadata": {
                "WARC-Target-URI": url,
                "WARC-Date": date,
                "WARC-Type": "response",
            },
            "Payload-Metadata": {
                "Actual-Content-Type": "application/http; msgtype=response",
                "HTTP-Response-Metadata": {"HTML-Metadata": html_meta},
            },
        }
    }
    return json.dumps(env, separators=(",", ":"), ensure_ascii=False).encode("utf-8")


def write_wat(
    df: DataFrame,
    out_dir: str,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    payload_col: str = "html",
    max_links: int = 1000,
) -> DataFrame:
    """WAT SINK — Common Crawl's metadata product: WARC 'metadata'
    records (Content-Type application/json) whose body is the
    `wat_envelope` of each fetched page, WARC-Refers-To pointing at the
    deterministic record id the corresponding `write_warc` response
    record gets (same md5(uri|date) derivation) — so the WARC/WAT/WET
    trio cross-references exactly like CC's. Same segment / naming /
    manifest contract as `write_warc`; reads back with `read_warc` +
    `wat_metadata`."""
    import os

    import pandas as pd

    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("path", T.StringType()),
            T.StructField("n_records", T.LongType()),
            T.StructField("n_bytes", T.LongType()),
        ]
    )
    proj = df.select(url_col, ts_col, payload_col)

    def gen(batches):
        os.makedirs(out_dir, exist_ok=True)
        ordinal = 0
        for pdf in batches:
            if not len(pdf):
                continue
            recs = []
            for row in pdf.itertuples(index=False):
                url, ts, payload = (
                    getattr(row, url_col), getattr(row, ts_col), getattr(row, payload_col)
                )
                if payload is None:
                    continue
                date = (
                    pd.Timestamp(ts).strftime(_DATE_FMT)
                    if ts is not None
                    else "1970-01-01T00:00:00Z"
                )
                rid = hashlib.md5(f"{url}|{date}".encode()).hexdigest()
                refers = (
                    f"<urn:uuid:{rid[:8]}-{rid[8:12]}-{rid[12:16]}"
                    f"-{rid[16:20]}-{rid[20:32]}>"
                )
                recs.append(
                    build_warc_record(
                        "metadata", url, date,
                        wat_envelope(url, date, payload, max_links=max_links),
                        content_type="application/json",
                        extra_headers=[("WARC-Refers-To", refers)],
                    )
                )
            if not recs:
                continue
            seg = build_warc(recs)
            name = _segment_name("wat|" + str(pdf[url_col].iloc[0]), ordinal)
            ordinal += 1
            path = os.path.join(out_dir, f"part-{name}.warc.wat.gz")
            with open(path, "wb") as f:
                f.write(seg)
            yield pd.DataFrame(
                [{"path": path, "n_records": len(recs), "n_bytes": len(seg)}]
            )

    return proj.mapInPandas(gen, schema)


WAT_ENVELOPE_SCHEMA = T.StructType(
    [
        T.StructField(
            "Envelope",
            T.StructType(
                [
                    T.StructField(
                        "WARC-Header-Metadata",
                        T.StructType([T.StructField("WARC-Target-URI", T.StringType())]),
                    ),
                    T.StructField(
                        "Payload-Metadata",
                        T.StructType(
                            [
                                T.StructField(
                                    "HTTP-Response-Metadata",
                                    T.StructType(
                                        [
                                            T.StructField(
                                                "HTML-Metadata",
                                                T.StructType(
                                                    [
                                                        T.StructField(
                                                            "Head",
                                                            T.StructType(
                                                                [T.StructField("Title", T.StringType())]
                                                            ),
                                                        ),
                                                        T.StructField(
                                                            "Links",
                                                            T.ArrayType(
                                                                T.StructType(
                                                                    [
                                                                        T.StructField("path", T.StringType()),
                                                                        T.StructField("url", T.StringType()),
                                                                    ]
                                                                )
                                                            ),
                                                        ),
                                                    ]
                                                ),
                                            )
                                        ]
                                    ),
                                )
                            ]
                        ),
                    ),
                ]
            ),
        )
    ]
)


def wat_metadata(records: DataFrame) -> DataFrame:
    """Parse WAT records (the `read_warc` rows with warc_type =
    'metadata') back into columns — entirely JVM-side: the envelope
    JSON goes through `from_json` with the fixed WAT schema, no Python.
    Returns (target_uri, title, links array<string> of raw hrefs)."""
    from pyspark.sql import functions as F

    env = F.from_json(F.col("body").cast("string"), WAT_ENVELOPE_SCHEMA)
    html = env["Envelope"]["Payload-Metadata"]["HTTP-Response-Metadata"]["HTML-Metadata"]
    return records.where(F.col("warc_type") == "metadata").select(
        F.col("target_uri"),
        html["Head"]["Title"].alias("title"),
        F.transform(html["Links"], lambda l: l["url"]).alias("links"),
    )


def write_warc_dedup(
    df: DataFrame,
    out_dir: str,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    payload_col: str = "html",
    status_col: str | None = None,
    content_type: str = "text/html",
) -> DataFrame:
    """WARC sink with Common-Crawl-style payload dedup: the FIRST
    capture of each payload digest (order: date, then URL — total and
    deterministic) is archived as a full response record; every later
    capture becomes a `revisit` record (WARC/1.1 identical-payload-
    digest profile) carrying WARC-Refers-To = the canonical record's
    deterministic URN, WARC-Refers-To-Target-URI and the payload
    digest, with only the synthesized HTTP head as its block — the
    archive stores each distinct body once, which is exactly how CC
    keeps monthly dumps from re-storing the static web.

    Scale: ONE shuffle keyed on the sha1 digest ranks captures and
    broadcasts nothing; executors then write segments independently
    like `write_warc`. Returns the same (path, n_records, n_bytes)
    manifest, readable with `read_warc` (revisits surface with
    `refers_to` set)."""
    import os

    import pandas as pd

    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("path", T.StringType()),
            T.StructField("n_records", T.LongType()),
            T.StructField("n_bytes", T.LongType()),
        ]
    )
    w = Window.partitionBy("x_digest").orderBy(ts_col, url_col)
    wall = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cols = [url_col, ts_col, payload_col] + ([status_col] if status_col else [])
    proj = (
        df.select(*cols)
        .where(F.col(payload_col).isNotNull())
        .withColumn("x_digest", F.sha1(F.col(payload_col)))
        .withColumn("x_rn", F.row_number().over(w))
        .withColumn("x_canon_url", F.first(url_col).over(wall))
        .withColumn("x_canon_ts", F.first(ts_col).over(wall))
    )
    # Segment sizing (guide §6). Unlike write_warc — whose contract
    # says "size segments via upstream repartition" — this writer's
    # digest window re-shuffles the rows itself, so callers CANNOT
    # control segment layout. Without a policy the gzip writer runs on
    # whatever the window leaves: AQE coalesces a small corpus to a
    # handful of fat single-threaded tasks, and a huge corpus would
    # emit one mega-segment per shuffle partition. Round-robin
    # repartition to ~seg_target_bytes per segment, floored at the
    # session's parallelism (an explicit repartition(n) is exempt from
    # AQE coalescing; deterministic under sortBeforeRepartition).
    # Record CONTENT is unaffected — the window columns ride along and
    # every record is a pure function of its row; only the grouping of
    # records into segment files changes. Plans without size statistics
    # (sizeInBytes = conf default ~ 2^63) skip the policy rather than
    # explode the partition count.
    seg_target_bytes = 256 * 1024 * 1024
    try:
        est = int(str(proj._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
        if 0 < est < (1 << 60):
            spark = proj.sparkSession
            n = max(
                spark.sparkContext.defaultParallelism,
                min(est // seg_target_bytes, 1 << 20),
            )
            proj = proj.repartition(int(n))
    except Exception:
        pass  # stats unavailable: keep the window's partitioning

    def gen(batches):
        os.makedirs(out_dir, exist_ok=True)
        ordinal = 0
        for pdf in batches:
            if not len(pdf):
                continue
            recs = []
            for row in pdf.itertuples(index=False):
                url = getattr(row, url_col)
                ts = getattr(row, ts_col)
                payload = bytes(getattr(row, payload_col))
                status = int(getattr(row, status_col)) if status_col else 200
                date = (
                    pd.Timestamp(ts).strftime(_DATE_FMT)
                    if ts is not None
                    else "1970-01-01T00:00:00Z"
                )
                head = (
                    f"HTTP/1.1 {status} OK\r\nContent-Type: {content_type}\r\n\r\n"
                ).encode()
                digest = f"sha1:{row.x_digest}"
                if row.x_rn == 1:
                    recs.append(
                        build_warc_record(
                            "response", url, date, head + payload,
                            extra_headers=[("WARC-Payload-Digest", digest)],
                        )
                    )
                else:
                    canon_ts = row.x_canon_ts
                    canon_date = (
                        pd.Timestamp(canon_ts).strftime(_DATE_FMT)
                        if canon_ts is not None
                        else "1970-01-01T00:00:00Z"
                    )
                    recs.append(
                        build_warc_record(
                            "revisit", url, date, head,
                            extra_headers=[
                                ("WARC-Payload-Digest", digest),
                                ("WARC-Refers-To", record_urn(row.x_canon_url, canon_date)),
                                ("WARC-Refers-To-Target-URI", row.x_canon_url),
                                (
                                    "WARC-Profile",
                                    "http://netpreserve.org/warc/1.1/revisit/identical-payload-digest",
                                ),
                            ],
                        )
                    )
            if not recs:
                continue
            seg = build_warc(recs)
            name = _segment_name(str(pdf[url_col].iloc[0]), ordinal)
            ordinal += 1
            path = os.path.join(out_dir, f"part-{name}.warc.gz")
            with open(path, "wb") as f:
                f.write(seg)
            yield pd.DataFrame(
                [{"path": path, "n_records": len(recs), "n_bytes": len(seg)}]
            )

    return proj.mapInPandas(gen, schema)
