"""WARC source/sink: from-scratch ISO 28500 parsing + pages round-trip.

The reference has no archival-input path (it fetches live, src/http.rs);
read_warc is the Common-Crawl first hop into the input_hint pages schema.
Fixtures are handcrafted byte-exact records, NOT produced by write_warc,
so the reader is checked against the spec rather than against itself;
the round-trip test then closes the loop in the other direction.
"""

from __future__ import annotations

import gzip
import os

import pandas as pd
import pytest

from crabspark.warc import _http_payload, parse_warc, read_warc, write_warc
from tests.sparkutil import get_spark


def _rec(
    wtype: str, uri: str | None, body: bytes, date="2024-05-01T12:30:00Z",
    ctype: str | None = None,
):
    head = f"WARC/1.0\r\nWARC-Type: {wtype}\r\n"
    if uri:
        head += f"WARC-Target-URI: {uri}\r\n"
    if ctype:
        head += f"Content-Type: {ctype}\r\n"
    head += f"WARC-Date: {date}\r\nContent-Length: {len(body)}"
    return head.encode() + b"\r\n\r\n" + body + b"\r\n\r\n"


def _http(html: bytes, ctype=b"text/html; charset=utf-8"):
    return (
        b"HTTP/1.1 200 OK\r\nContent-Type: " + ctype
        + b"\r\nServer: x\r\n\r\n" + html
    )


HTML_A = b"<html><body><a href='/x'>A link</a> hello</body></html>"
HTML_B = "<html><body>café — unicode</body></html>".encode()
PNG = b"\x89PNG\r\n\x1a\n" + b"\x00" * 16

ARCHIVE = (
    _rec("warcinfo", None, b"software: test\r\n")
    + _rec("request", "http://a.example/", b"GET / HTTP/1.1\r\n\r\n")
    + _rec("response", "http://a.example/", _http(HTML_A))
    + _rec("response", "http://img.example/i.png", _http(PNG, b"image/png"))
    + _rec("conversion", "http://b.example/bare", HTML_B)
    + _rec("metadata", "http://a.example/", b"via: seed\r\n")
)


def test_parse_warc_record_framing():
    recs = list(parse_warc(ARCHIVE))
    assert [r["headers"]["warc-type"] for r in recs] == [
        "warcinfo", "request", "response", "response", "conversion",
        "metadata",
    ]
    resp = recs[2]
    assert resp["version"] == "WARC/1.0"
    assert resp["headers"]["warc-target-uri"] == "http://a.example/"
    ctype, payload = _http_payload(resp["body"])
    assert ctype == "text/html; charset=utf-8"
    assert payload == HTML_A
    # conversion records carry the bare document (no HTTP frame)
    assert _http_payload(recs[4]["body"]) == (None, HTML_B)


def test_parse_warc_gzip_members_and_truncation():
    # standard .warc.gz layout: one gzip member per record, concatenated
    gz = b"".join(
        gzip.compress(r)
        for r in (
            _rec("response", "http://a.example/", _http(HTML_A)),
            _rec("response", "http://b.example/", _http(HTML_B)),
        )
    )
    urls = [r["headers"]["warc-target-uri"] for r in parse_warc(gz)]
    assert urls == ["http://a.example/", "http://b.example/"]
    # a truncated tail yields the intact prefix, no exception
    cut = ARCHIVE[: len(ARCHIVE) - 40]
    assert len(list(parse_warc(cut))) == len(list(parse_warc(ARCHIVE))) - 1
    assert list(parse_warc(b"")) == []
    assert list(parse_warc(b"not a warc\r\n\r\n")) == []


@pytest.fixture(scope="module")
def spark():
    return get_spark()


def test_read_warc_pages_schema(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("warcs")
    (d / "a.warc").write_bytes(ARCHIVE)
    (d / "b.warc.gz").write_bytes(
        gzip.compress(_rec("response", "http://c.example/p", _http(HTML_A)))
    )
    df = read_warc(spark, str(d))
    assert df.schema.simpleString() == (
        "struct<url:string,warc_ts:timestamp,html:binary,text:string,"
        "lang:string>"
    )
    rows = {r["url"]: r for r in df.collect()}
    # 2 html responses + 1 conversion; the png and non-payload records drop
    assert set(rows) == {
        "http://a.example/", "http://b.example/bare", "http://c.example/p",
    }
    a = rows["http://a.example/"]
    assert bytes(a["html"]) == HTML_A
    assert a["warc_ts"] == pd.Timestamp("2024-05-01T12:30:00")
    assert "A link hello" in a["text"]
    assert rows["http://b.example/bare"]["text"].startswith("café")
    assert a["lang"] is None


def test_warc_roundtrip_byte_identical(spark, tmp_path):
    # pages -> write_warc -> read_warc: url/ts/html byte-identical, and
    # text re-extracts identically (same kernel both sides)
    from datetime import datetime

    src = spark.createDataFrame(
        [
            ("http://a.example/", datetime(2024, 5, 1, 12, 30),
             bytearray(HTML_A)),
            ("http://b.example/", datetime(2024, 6, 2, 1, 2, 3),
             bytearray(HTML_B)),
            ("http://c.example/empty", datetime(2024, 7, 3),
             bytearray(b"")),
        ],
        "url string, warc_ts timestamp, html binary",
    ).selectExpr("url", "warc_ts", "html", "cast(null as string) text",
                 "cast(null as string) lang").repartition(2)
    out = os.path.join(str(tmp_path), "export")
    n_files = write_warc(src, out)
    assert 1 <= n_files <= 2
    assert all(
        f.endswith((".warc.gz", ".cdx")) for f in os.listdir(out)
    )  # archives + their CDX sidecars, nothing else
    back = read_warc(spark, out)
    got = {r["url"]: r for r in back.collect()}
    want = {r["url"]: r for r in src.collect()}
    assert set(got) == set(want)
    for u in want:
        assert bytes(got[u]["html"]) == bytes(want[u]["html"])
        assert got[u]["warc_ts"] == want[u]["warc_ts"]


def test_crawl_over_warc_ingested_pages_matches_oracle(spark, tmp_path):
    """End-to-end: pages parquet -> write_warc -> read_warc -> parquet ->
    Engine crawl must reproduce the reference oracle's exact visit order
    and extracted text — WARC ingest is a drop-in first hop, not a lossy
    sidecar. (Engine-over-original-parquet vs the same oracle is pinned
    by tests/test_engine_parity.py, so one engine run suffices here.)"""
    from crabspark.config import Config
    from crabspark.engine import Engine
    from fixtures import gen_pages
    from tests.oracle import run_oracle

    fx = tmp_path / "fx"
    data = gen_pages.generate(n_pages=40, seed=42)
    gen_pages.write(str(fx), n_pages=40, seed=42)

    pages = spark.read.parquet(str(fx / "pages.parquet"))
    warc_dir = str(tmp_path / "warcs")
    write_warc(pages.repartition(3), warc_dir)
    ingested = str(tmp_path / "pages_warc.parquet")
    read_warc(spark, warc_dir).write.parquet(ingested)

    # throughput mode: whole-frontier BSP rounds (a handful of Spark
    # rounds instead of one per visit); the oracle-defined contract there
    # is visited-SET + text equality (tests/test_engine_parity.py pins
    # order separately for dfs-parity mode over the parquet path).
    cfg = Config.new()
    cfg.free_crawl = True
    cfg.scheduling = "throughput"
    cfg.seeds = [gen_pages.SEED_URL]
    cfg.max_urls_to_visit = 5000
    golden = run_oracle(data["pages"], data["robots"], cfg)

    eng = Engine(
        spark, cfg, str(tmp_path / "work"),
        pages_path=ingested,
        robots_path=str(fx / "robots.parquet"),
    )
    eng.run()
    visited = {r["url"] for r in eng.read_visited().collect()}
    assert visited == set(golden.visited)
    texts = {
        r["url"]: r["text"]
        for r in eng.catalog.read("fetched").select("url", "text").collect()
    }
    assert texts == golden.texts
    assert len(visited) > 10  # non-vacuous crawl


def test_wet_roundtrip_text_byte_identical(spark, tmp_path):
    """WET ingest: conversion records with text/plain payloads — the
    Common-Crawl extracted-text format, framed one gzip member per
    record. The reader must NOT re-run the html extractor over
    already-extracted text (whitespace would be re-normalized); the text
    comes back byte-identical."""
    texts = {
        "http://a.example/": "line one\nline  two   spaced\n\ttabbed café — end",
        "http://b.example/": "plain",
    }
    out = tmp_path / "wet"
    out.mkdir()
    (out / "part-00000.warc.wet.gz").write_bytes(b"".join(
        gzip.compress(_rec("conversion", url, text.encode(),
                           ctype="text/plain"))
        for url, text in texts.items()
    ))
    back = {r["url"]: r for r in read_warc(spark, str(out)).collect()}
    assert set(back) == set(texts)
    for url, text in texts.items():
        assert back[url]["text"] == text           # byte-identical, no
        assert bytes(back[url]["html"]) == text.encode()  # re-extraction


def test_parse_warc_never_raises_on_arbitrary_bytes():
    """Never-raise contract: arbitrary or hostile bytes must yield a
    (possibly empty) record list, not an exception — a 100-TB ingest
    cannot die on one corrupt archive."""
    from hypothesis import given, settings, strategies as st

    @given(st.binary(max_size=2048))
    @settings(max_examples=300, deadline=None)
    def run(blob):
        for rec in parse_warc(blob):
            assert isinstance(rec["headers"], dict)
        # mutated real archive: flip bytes inside a valid record stream
        if blob:
            mutated = bytearray(ARCHIVE)
            for i, b in enumerate(blob[:64]):
                mutated[(b * 31 + i) % len(mutated)] ^= b or 1
            list(parse_warc(bytes(mutated)))

    run()

    # gzip magic with a corrupt stream must also not raise
    assert list(parse_warc(b"\x1f\x8b" + b"\x00" * 30)) == []


def test_http_payload_chunked_transfer_encoding():
    """wget/Heritrix archives store raw wire bytes: chunk-size framing
    must be stripped, not flow into html (round-5 advisor finding)."""
    from crabspark.warc import _dechunk

    body = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
        b"Transfer-Encoding: chunked\r\n\r\n"
        b"5\r\n<html\r\n9\r\n>hi</html\r\n1\r\n>\r\n0\r\n\r\n"
    )
    ctype, entity = _http_payload(body)
    assert ctype == "text/html"
    assert entity == b"<html>hi</html>"
    # truncated mid-chunk: salvage the intact prefix, never raise
    assert _dechunk(b"5\r\n<ht") == b"<ht"
    assert _dechunk(b"zz\r\nx") == b""


def test_http_payload_content_encoding_gzip_and_deflate():
    import zlib

    html = b"<html><body>compressed page</body></html>"
    for enc, blob in [
        (b"gzip", gzip.compress(html)),
        (b"deflate", zlib.compress(html)),
        (b"deflate", (lambda co: co.compress(html) + co.flush())(
            zlib.compressobj(wbits=-15))),
    ]:
        body = (
            b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
            b"Content-Encoding: " + enc + b"\r\n\r\n" + blob
        )
        ctype, entity = _http_payload(body)
        assert entity == html, enc
    # chunked OUTER, gzip inner (the RFC ordering): both undone
    gz = gzip.compress(html)
    chunked = (
        hex(len(gz))[2:].encode() + b"\r\n" + gz + b"\r\n0\r\n\r\n"
    )
    body = (
        b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n"
        b"Content-Encoding: gzip\r\n\r\n" + chunked
    )
    assert _http_payload(body)[1] == html
    # unknown coding (br): must yield b"", not compressed garbage
    body = b"HTTP/1.1 200 OK\r\nContent-Encoding: br\r\n\r\n\x00garbage"
    assert _http_payload(body)[1] == b""


def test_write_warc_per_record_gzip_members(spark, tmp_path):
    """The .warc.gz layout is one gzip member per record: external
    tooling seeks to a member and inflates one record, and a truncated
    tail costs only the records past the cut (round-5 advisor finding)."""
    import zlib

    pdf = pd.DataFrame(
        {
            "url": [f"http://h{i}.example/p" for i in range(6)],
            "warc_ts": pd.to_datetime(["2024-05-01T12:00:00"] * 6),
            "html": [f"<html>{i}</html>".encode() for i in range(6)],
            "text": ["x"] * 6,
            "lang": [None] * 6,
        }
    )
    out = str(tmp_path / "warcs")
    write_warc(spark.createDataFrame(pdf).coalesce(1), out)
    files = [f for f in os.listdir(out) if f.endswith(".warc.gz")]
    assert len(files) == 1
    raw = open(os.path.join(out, files[0]), "rb").read()
    # count gzip members (and record each member's start) via unused_data
    starts, rest = [], raw
    while rest[:2] == b"\x1f\x8b":
        starts.append(len(raw) - len(rest))
        d = zlib.decompressobj(wbits=31)
        d.decompress(rest)
        rest = d.unused_data
    assert len(starts) == 6
    # truncating INSIDE the final member's deflate data salvages the
    # first 5 records — the all-or-nothing failure mode of a
    # single-member file this layout exists to avoid
    assert len(list(parse_warc(raw[: starts[-1] + 12]))) == 5


def test_cdx_index_roundtrip_fetch_by_offset(spark, tmp_path):
    """read_warc + CDX -> fetch ONE record by (file, offset, length)
    without scanning the archive — the random access a CDX exists for.
    A url with a space (CDX fields are space-separated) or a literal
    '%20' must come back unchanged, not be dropped or decoded."""
    from crabspark.warc import fetch_record, read_cdx, surt_key

    urls = [f"http://www.h{i}.example/p/{i}?q=1" for i in range(8)]
    urls += ["http://www.h8.example/p/8?q=a b", "http://www.h9.example/p/9?q=a%20b"]
    n = len(urls)
    pdf = pd.DataFrame(
        {
            "url": urls,
            "warc_ts": pd.to_datetime(["2024-05-01T12:00:%02d" % i for i in range(n)]),
            "html": [f"<html>page {i}</html>".encode() for i in range(n)],
            "text": ["x"] * n,
            "lang": [None] * n,
        }
    )
    out = str(tmp_path / "warcs")
    write_warc(spark.createDataFrame(pdf).repartition(2), out)
    idx = read_cdx(spark, out).collect()
    assert len(idx) == n
    assert {r.url for r in idx} == set(urls)
    for r in idx:
        assert r.urlkey == surt_key(r.url)
        assert r.cdx_ts == "202405011200" + r.url.rsplit("/", 1)[0][-1] * 0 + (
            "%02d" % int(r.url.split("/p/")[1].split("?")[0])
        )
        rec = fetch_record(out, r.file, r.offset, r.length)
        assert rec["headers"]["warc-target-uri"] == r.url
        body = rec["body"]
        i = r.url.split("/p/")[1].split("?")[0]
        assert f"<html>page {i}</html>".encode() in body


def test_read_cdx_rejects_malformed_line(spark, tmp_path):
    """A CDX line without its 6 fields fails the read, naming the line:
    dropping it would hand back an index silently missing a record."""
    from crabspark.warc import read_cdx

    (tmp_path / "part-00000.warc.gz.cdx").write_text(
        "CDX N b a g V S\n"
        "com,a)/ 20240501120000 http://a.com/ part-00000.warc.gz 0 120\n"
        "com,b)/ 20240501120001 http://b.com/ part-00000.warc.gz 120 130\n"
        "com,c)/ 20240501120002 http://c.com/ part-00000.warc.gz 250\n"
    )
    with pytest.raises(Exception, match="malformed CDX line: com,c"):
        read_cdx(spark, str(tmp_path)).collect()


def test_surt_key():
    from crabspark.warc import surt_key

    assert surt_key("https://www.Example.com/a/b?c=1") == "com,example)/a/b?c=1"
    assert surt_key("http://sub.host.org:8080/") == "org,host,sub)/"
    assert surt_key("http://host.net") == "net,host)/"


def test_non_2xx_responses_are_not_pages():
    """404s/redirects are captured as WARC response records by real
    crawlers; their bodies (error/stub pages) must not enter the pages
    table as the url's content. Statusless bodies (conversion records)
    are unaffected."""
    from crabspark.warc import _records_to_pages

    def http_with_status(status_line, html):
        return (
            status_line + b"\r\nContent-Type: text/html\r\n\r\n" + html
        )

    arc = (
        _rec("response", "http://ok.example/", http_with_status(
            b"HTTP/1.1 200 OK", b"<html>good</html>"))
        + _rec("response", "http://gone.example/", http_with_status(
            b"HTTP/1.1 404 Not Found", b"<html>404</html>"))
        + _rec("response", "http://moved.example/", http_with_status(
            b"HTTP/1.1 301 Moved Permanently", b"<html>moved</html>"))
        + _rec("response", "http://created.example/", http_with_status(
            b"HTTP/1.1 201 Created", b"<html>created</html>"))
        + _rec("conversion", "http://wet.example/", b"bare text body")
    )
    pdf = _records_to_pages([arc])
    assert set(pdf["url"]) == {
        "http://ok.example/", "http://created.example/",
        "http://wet.example/",
    }
