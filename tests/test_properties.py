"""Property-based tests (hypothesis) for the pure kernels the engine
leans on — codec roundtrips, parser robustness, cast totality — plus
batched Spark properties (idempotence) evaluated over one generated
DataFrame per test rather than one Spark job per example."""

import string

from hypothesis import given, settings
from hypothesis import strategies as st

from hydra_spark.analysis.casting import detect_column_type, smart_cast_cell
from hydra_spark.analysis.xlsx import xlsx_bytes, xlsx_rows
from hydra_spark.crawl.robots import parse_crawl_delay, parse_robots_rules

# printable cell text without the XML-hostile control range
cell_text = st.text(
    alphabet=st.characters(blacklist_categories=("Cs", "Cc")), max_size=40
)


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.lists(
            st.one_of(cell_text, st.integers(-10**9, 10**9)),
            min_size=1, max_size=6,
        ),
        min_size=1, max_size=8,
    )
)
def test_xlsx_codec_roundtrip_property(rows):
    """xlsx_bytes ∘ xlsx_rows is the identity on stringified cells for
    ANY printable content (escaping, commas, unicode, negatives)."""
    got = xlsx_rows(xlsx_bytes(rows))
    want = [[str(c) for c in row] for row in rows]
    # trailing empty cells are not round-trippable (openpyxl's
    # used-range semantics): compare after rstripping empties
    def rstrip(r):
        while r and r[-1] == "":
            r = r[:-1]
        return r

    assert [rstrip(r) for r in got] == [rstrip(r) for r in want]


@settings(max_examples=100, deadline=None)
@given(st.text(max_size=300), st.sampled_from(["hydra", "googlebot", "*"]))
def test_parse_robots_never_crashes(body, agent):
    """Arbitrary garbage robots.txt parses to a (possibly empty) rule
    list and an optional delay — never an exception (production robots
    files are garbage)."""
    out = parse_robots_rules(body, agent)
    assert isinstance(out, list)
    assert all(isinstance(p, str) and p and isinstance(a, bool) for p, a in out)
    delay = parse_crawl_delay(body, agent)
    assert delay is None or isinstance(delay, float)


@settings(max_examples=100, deadline=None)
@given(st.lists(st.one_of(st.none(), st.text(max_size=20)), max_size=10))
def test_detect_then_cast_is_total(values):
    """Whatever type detection decides, every value that fed the
    decision must cast under it without raising (the detect/cast pair
    can never disagree — rows would silently null out otherwise)."""
    t = detect_column_type(values)
    for v in values:
        smart_cast_cell(t, v)  # must not raise for the detected type


@settings(max_examples=100, deadline=None)
@given(st.integers(-10**15, 10**15))
def test_int_cast_roundtrip(n):
    assert smart_cast_cell("int", str(n)) == n
    assert detect_column_type([str(n)]) in ("int", "float")


@settings(max_examples=60, deadline=None)
@given(
    st.floats(
        allow_nan=False, allow_infinity=False, min_value=-1e12, max_value=1e12
    )
)
def test_float_cast_roundtrip(x):
    assert smart_cast_cell("float", repr(x)) == x


def test_canonicalize_idempotent_batch(spark):
    """canonicalize(canonicalize(u)) == canonicalize(u) over a generated
    url corpus (one Spark job, not one per hypothesis example)."""
    from pyspark.sql import functions as F

    from hydra_spark.functions.urls import canonicalize_url

    urls = []
    for i in range(300):
        scheme = ["http", "HTTPS", "ftp"][i % 3]
        port = ["", ":80", ":443", ":8080"][i % 4]
        frag = ["", "#frag", "#a#b"][i % 3]
        path = ["", "/", f"/p/{i}", f"/q?x={i}&y=2"][i % 4]
        urls.append((i, f"{scheme}://Host{i % 5}.Example.COM{port}{path}{frag}"))
    urls.append((1000, "no-scheme-at-all"))
    urls.append((1001, "mailto:x@y.z"))
    df = spark.createDataFrame(urls, "i long, url string")
    out = df.select(
        canonicalize_url("url").alias("c1"),
        canonicalize_url(canonicalize_url("url")).alias("c2"),
    )
    assert out.where(~F.col("c1").eqNullSafe(F.col("c2"))).count() == 0


def test_shingle_hash_blocking_equivalence(spark):
    """Equal texts → equal fingerprints; texts differing in any interior
    word → different fingerprints (w.h.p.), over one generated batch."""
    from pyspark.sql import functions as F

    from hydra_spark.ml.text import fingerprint

    rows = []
    for i in range(200):
        base = " ".join(f"w{j}_{i % 17}" for j in range(12))
        rows.append((2 * i, base))
        rows.append((2 * i + 1, base))  # duplicate pair
    df = spark.createDataFrame(rows, "i long, text string")
    fps = df.select("i", fingerprint("text").alias("fp")).collect()
    by_i = {r["i"]: r["fp"] for r in fps}
    for i in range(200):
        assert by_i[2 * i] == by_i[2 * i + 1]
    # 17 distinct base texts → exactly 17 distinct fingerprints
    assert len(set(by_i.values())) == 17


# ---- webtext curation properties -------------------------------------------

words_text = st.lists(
    st.text(alphabet=string.ascii_lowercase, min_size=1, max_size=6),
    min_size=0, max_size=40,
).map(" ".join)


@settings(max_examples=40, deadline=None)
@given(st.lists(words_text, min_size=1, max_size=12))
def test_repetition_features_bounds_property(spark, texts):
    """All fraction features land in [0,1] and n_chunks matches the
    chunking arithmetic for ANY word-soup input (incl. empty texts)."""
    import math

    from pyspark.sql import Row

    from hydra_spark.ml.webtext import repetition_features

    df = spark.createDataFrame([Row(doc_id=i, text=t) for i, t in enumerate(texts)])
    for r in repetition_features(df, k=3).collect():
        t = texts[r.doc_id]
        n_words = len(t.split()) if t.strip() else 1  # split('') -> ['']
        assert r.n_chunks == max(math.ceil(n_words / 3), 1)
        assert 0.0 <= r.dup_chunk_frac <= 1.0
        assert 0.0 <= r.dup_chunk_char_frac <= 1.0
        # overlapping occurrences share characters, so count*len can
        # exceed doc length (e.g. 'a a a' -> 2 * len('a a') = 6 > 5)
        assert 0.0 <= r.top_2gram_char_frac <= 2.0
        assert r.top_2gram_count >= 1


@settings(max_examples=25, deadline=None)
@given(st.lists(words_text, min_size=1, max_size=10), st.integers(1, 3))
def test_chunk_dedup_accounting_property(spark, texts, max_df):
    """kept + removed == total chunks for every doc; dedup is idempotent
    (running it twice removes nothing more when keep_first=True and the
    surviving text is re-chunked identically)."""
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from hydra_spark.ml.webtext import chunk_dedup_corpus

    df = spark.createDataFrame([Row(doc_id=i, text=t) for i, t in enumerate(texts)])
    out = chunk_dedup_corpus(df, k=3, max_doc_freq=max_df).collect()
    assert len(out) == len(texts)
    for r in out:
        assert 0 <= r.n_removed <= r.n_chunks


@settings(max_examples=30, deadline=None)
@given(st.lists(st.integers(0, 10**6), min_size=1, max_size=200, unique=True),
       st.floats(0.05, 1.0))
def test_stratified_sample_monotone_property(spark, keys, rate):
    """Hash sampling is monotone in the rate: sample(r1) ⊆ sample(r2)
    for r1 ≤ r2, on the same seed — the nested-samples invariant that
    makes corpus mixing reproducible across reweightings."""
    from pyspark.sql import Row

    from hydra_spark.ml.webtext import stratified_sample

    df = spark.createDataFrame([Row(doc_id=k, source="s") for k in keys])
    lo = {r.doc_id for r in stratified_sample(df, {"s": rate / 2}).collect()}
    hi = {r.doc_id for r in stratified_sample(df, {"s": rate}).collect()}
    assert lo <= hi


# ---- multimodal decoder robustness -----------------------------------------

_MAGICS = [
    b"\x89PNG\r\n\x1a\n", b"GIF89a", b"BM", b"\xff\xd8\xff", b"RIFF",
    b"GIF87a", b"",
]


@settings(max_examples=80, deadline=None)
@given(st.sampled_from(_MAGICS), st.binary(max_size=400))
def test_decoders_never_hang_on_garbage(magic, tail):
    """Any byte soup terminates quickly with a controlled exception (or
    decodes) — never hangs, never OOMs (decode-bomb guard). This is the
    poison-payload contract the Spark stages rely on."""
    from hydra_spark.ml.multimodal import (
        decode_image,
        parse_image_header,
        parse_wav_header,
    )

    payload = magic + tail
    parse_image_header(payload)  # must never raise
    parse_wav_header(payload)    # must never raise
    try:
        decode_image(payload)
    except Exception:
        pass  # controlled failure is fine; the stages map it to NULL


@settings(max_examples=30, deadline=None)
@given(st.integers(0, 3000), st.binary(min_size=1, max_size=16))
def test_decoders_survive_mutated_real_jpeg(offset, junk):
    """Corrupting a real JPEG at an arbitrary offset must not hang or
    crash the process — truncated/garbled entropy streams terminate."""
    import glob
    import os

    from hydra_spark.ml.jpeg import decode_jpeg

    paths = glob.glob(os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"),
                                   "data/mllib/images/origin/kittens/*.jpg"))
    if not paths:
        return
    data = bytearray(open(paths[0], "rb").read())
    off = offset % len(data)
    data[off : off + len(junk)] = junk
    try:
        decode_jpeg(bytes(data))
    except Exception:
        pass


def test_decode_bomb_guard():
    import struct

    import pytest as _pt

    from hydra_spark.ml.multimodal import decode_png

    ihdr = struct.pack(">IIBBBBB", 60000, 60000, 8, 2, 0, 0, 0)
    import zlib
    chunk = struct.pack(">I", len(ihdr)) + b"IHDR" + ihdr + struct.pack(
        ">I", zlib.crc32(b"IHDR" + ihdr) & 0xFFFFFFFF)
    bomb = b"\x89PNG\r\n\x1a\n" + chunk
    with _pt.raises(ValueError, match="decode-bomb"):
        decode_png(bomb)


def test_extract_features_real_path_poison_to_null(spark):
    from pyspark.sql import Row

    from hydra_spark.ml.multimodal import extract_features

    assets = spark.createDataFrame([
        Row(asset_id=0, media_type="image", payload=bytearray(b"\x89PNG\r\n\x1a\ngarbage")),
        Row(asset_id=1, media_type="audio", payload=bytearray(b"RIFF\x00\x00\x00\x00WAVEgarb")),
        Row(asset_id=2, media_type="image", payload=bytearray(b"utterly unknown")),
    ])
    rows = {r.asset_id: r for r in extract_features(assets, fake=False).collect()}
    assert all(rows[i].features is None for i in range(3))


# ---- geometry kernels (pmtiles clipping) -----------------------------------

pts2d = st.lists(
    st.tuples(st.floats(-50, 50, allow_nan=False), st.floats(-50, 50, allow_nan=False)),
    min_size=3, max_size=12,
)


@settings(max_examples=120, deadline=None)
@given(pts2d)
def test_clip_ring_stays_inside_property(ring):
    from hydra_spark.exports.geomclip import clip_ring

    out = clip_ring(ring, 0.0, 10.0)
    eps = 1e-9
    for x, y in out:
        assert -eps <= x <= 10 + eps and -eps <= y <= 10 + eps
    # a ring fully inside the box is untouched
    inside = [(x % 9 + 0.5, y % 9 + 0.5) for x, y in ring]
    assert clip_ring(inside, 0.0, 10.0) == inside


@settings(max_examples=120, deadline=None)
@given(pts2d)
def test_clip_line_parts_inside_and_ordered_property(line):
    from hydra_spark.exports.geomclip import clip_line

    eps = 1e-9
    for part in clip_line(line, 0.0, 10.0):
        assert len(part) >= 2
        for x, y in part:
            assert -eps <= x <= 10 + eps and -eps <= y <= 10 + eps


@settings(max_examples=120, deadline=None)
@given(pts2d, st.floats(0.01, 5.0))
def test_simplify_endpoints_and_shrinks_property(pts, tol):
    from hydra_spark.exports.geomclip import simplify

    out = simplify(pts, tol)
    assert out[0] == pts[0] and out[-1] == pts[-1]
    assert 2 <= len(out) <= len(pts)
    # simplify is idempotent at the same tolerance
    assert simplify(out, tol) == out
