"""WARC ingest/export: the Common-Crawl on-disk format as a pages source.

The reference fetches pages over live HTTP (src/http.rs:24-76) and the
rebuild's fetch-simulation join reads the Iceberg-style ``pages`` snapshot
(BASELINE.json input_hint). Real Common-Crawl-style corpora, however,
arrive as **WARC files** (ISO 28500 / WARC 1.0-1.1: CRLF header block,
Content-Length-framed payload, one gzip member per record in the `.warc.gz`
layout) — so this module is the missing first hop: WARC bytes -> the
``pages(url, warc_ts, html, text, lang)`` table every other operator runs
on. Parsing is from scratch on the public spec; no external WARC lib.

Scale shape (100 TB): a Common Crawl snapshot is ~64-90k `.warc.gz` files
of ~1 GB — `spark.read.format("binaryFile")` gives one task per file, so
parallelism is file-count-bound (tens of thousands of tasks — far wider
than any executor fleet) and no task ever holds more than one archive.
Record splitting + HTTP de-framing happen executor-side in one
``mapInPandas`` pass (Arrow-batched; the per-record Python loop is over
~50k records/file, not per-byte). Text extraction reuses the same
vectorized kernel the fetch path uses, so a WARC-ingested page is
byte-identical to a fetch-simulated one downstream.
"""

from __future__ import annotations

import gzip
import os
from typing import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

PAGES_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)

_CRLF = b"\r\n"
_SEP = b"\r\n\r\n"


def _gunzip_members(raw: bytes) -> bytes:
    """Decompress a concatenated-gzip-member stream, salvaging the intact
    prefix when a member is corrupt or truncated (gzip.decompress is
    all-or-nothing: one bad tail member would discard every good record
    before it — the same never-die rule the record framing follows)."""
    import zlib

    out: list[bytes] = []
    pos, n = 0, len(raw)
    while pos < n and raw[pos:pos + 2] == b"\x1f\x8b":
        d = zlib.decompressobj(wbits=31)
        try:
            out.append(d.decompress(raw[pos:]))
            out.append(d.flush())
        except zlib.error:
            break
        if not d.eof:
            break  # truncated final member
        pos = n - len(d.unused_data)
    return b"".join(out)


def parse_warc(raw: bytes) -> Iterator[dict]:
    """Yield one dict per WARC record: {version, headers (lower-cased
    keys), body (bytes)}. Accepts plain `.warc` and the standard
    one-gzip-member-per-record `.warc.gz` concatenation (stdlib
    ``gzip.decompress`` handles multi-member streams). Malformed tails
    (truncated final record) stop iteration instead of raising — a
    truncated archive yields its intact prefix, matching how crawlers
    treat partial WARC segments."""
    if raw[:2] == b"\x1f\x8b":
        raw = _gunzip_members(raw)
    pos, n = 0, len(raw)
    while pos < n:
        while raw.startswith(_CRLF, pos):
            pos += 2
        if pos >= n:
            return
        end = raw.find(_SEP, pos)
        if end < 0:
            return
        head = raw[pos:end].decode("latin-1", "replace")
        lines = head.split("\r\n")
        if not lines[0].startswith("WARC/"):
            return
        headers: dict[str, str] = {}
        for ln in lines[1:]:
            k, _, v = ln.partition(":")
            headers[k.strip().lower()] = v.strip()
        try:
            clen = int(headers["content-length"])
        except (KeyError, ValueError):
            return
        body = raw[end + 4:end + 4 + clen]
        if len(body) < clen:
            return  # truncated final record
        yield {"version": lines[0], "headers": headers, "body": body}
        pos = end + 4 + clen


def _dechunk(data: bytes) -> bytes:
    """Decode a Transfer-Encoding: chunked HTTP entity (hex size line CRLF
    chunk CRLF ... 0 CRLF). Malformed/truncated input yields the intact
    prefix — same never-raise salvage rule as the gzip member walker."""
    out: list[bytes] = []
    pos = 0
    while True:
        nl = data.find(_CRLF, pos)
        if nl < 0:
            break
        try:
            size = int(data[pos:nl].split(b";", 1)[0].strip() or b"x", 16)
        except ValueError:
            break
        if size == 0:
            break
        start = nl + 2
        chunk = data[start:start + size]
        out.append(chunk)
        if len(chunk) < size:
            break  # truncated mid-chunk
        pos = start + size + 2  # skip the CRLF that closes the chunk
    return b"".join(out)


def _content_decode(data: bytes, encoding: str) -> bytes:
    """Undo Content-Encoding: gzip / x-gzip / deflate with truncation
    salvage; unknown codings (br, zstd — no codec in env) return b"" so
    compressed bytes never flow into the text extractor as 'html'."""
    import zlib

    enc = encoding.lower()
    if "gzip" in enc or "deflate" in enc:
        # wbits=47 auto-detects gzip and zlib wrappers; raw-deflate
        # (servers that send deflate without the zlib header) needs -15.
        for wbits in (47, -15):
            d = zlib.decompressobj(wbits=wbits)
            try:
                out = d.decompress(data) + d.flush()
            except zlib.error:
                continue
            if out:
                return out
        return b""
    if "identity" in enc or not enc.strip():
        return data
    return b""  # br/zstd/unknown: no codec available — drop, don't garble


def _http_status(body: bytes) -> int | None:
    """HTTP status code from a response record's status line; None when
    the body carries no HTTP frame (conversion records)."""
    if not body.startswith(b"HTTP/"):
        return None
    line_end = body.find(_CRLF)
    if line_end < 0:
        return None
    parts = body[:line_end].split(b" ")
    if len(parts) < 2 or not parts[1].isdigit():
        return None
    return int(parts[1])


def _http_payload(body: bytes) -> tuple[str | None, bytes]:
    """Split a WARC response record's HTTP message into (content_type,
    entity bytes), undoing Transfer-Encoding: chunked and
    Content-Encoding: gzip/deflate — archives written by wget/Heritrix
    store the raw wire bytes, so without this, chunk-size framing or
    compressed bytes would flow into html/text silently (round-5 advisor
    finding). A body with no HTTP frame (e.g. `WARC-Type: conversion`
    records carry the bare document) is returned whole."""
    if not body.startswith(b"HTTP/"):
        return None, body
    sep = body.find(_SEP)
    if sep < 0:
        return None, body
    ctype = None
    transfer_enc = ""
    content_enc = ""
    for ln in body[:sep].decode("latin-1", "replace").split("\r\n")[1:]:
        k, _, v = ln.partition(":")
        k = k.strip().lower()
        if k == "content-type":
            ctype = v.strip()
        elif k == "transfer-encoding":
            transfer_enc = v.strip().lower()
        elif k == "content-encoding":
            content_enc = v.strip().lower()
    entity = body[sep + 4:]
    if "chunked" in transfer_enc:
        entity = _dechunk(entity)
    if content_enc:
        entity = _content_decode(entity, content_enc)
    return ctype, entity


def _records_to_pages(blobs: Iterable[bytes]) -> pd.DataFrame:
    from crabspark import extract

    urls: list[str] = []
    stamps: list[str] = []
    htmls: list[bytes] = []
    plains: list[bool] = []
    for raw in blobs:
        for rec in parse_warc(raw):
            h = rec["headers"]
            # response = live capture; conversion = re-rendered content
            # (Common Crawl's WET path). request/warcinfo/metadata records
            # carry no page payload.
            if h.get("warc-type") not in ("response", "conversion"):
                continue
            url = h.get("warc-target-uri")
            if not url:
                continue
            # real archives capture 404s/redirects/errors as response
            # records; only 2xx captures are page content (a redirect's
            # body is a stub page, a 404's is an error page — both would
            # poison the corpus as 'text of url'). Records with no HTTP
            # frame (conversion/WET) have no status and pass through.
            status = _http_status(rec["body"])
            if status is not None and not (200 <= status < 300):
                continue
            ctype, payload = _http_payload(rec["body"])
            if ctype is None:
                # conversion records carry their type in the WARC header
                # (WET files: "Content-Type: text/plain", payload is the
                # ALREADY-extracted text — re-running the html extractor
                # would re-normalize whitespace it must not touch)
                ctype = h.get("content-type")
            if ctype is not None and "html" not in ctype and "text" not in ctype:
                continue  # non-text capture (image/pdf) — not a page row
            urls.append(url)
            stamps.append(h.get("warc-date", ""))
            htmls.append(payload)
            plains.append(ctype is not None and "text/plain" in ctype)
    html_s = pd.Series(htmls, dtype=object)
    text_s = extract.extract_text(html_s)
    if any(plains):
        mask = pd.Series(plains)
        text_s = text_s.mask(
            mask, html_s.map(lambda b: b.decode("utf-8", "replace"))
        )
    return pd.DataFrame(
        {
            "url": pd.Series(urls, dtype=object),
            "warc_ts": pd.to_datetime(
                pd.Series(stamps, dtype=object), errors="coerce", utc=True
            ).dt.tz_localize(None),
            "html": html_s,
            # html captures: same vectorized kernel as the fetch path ->
            # byte-identical text downstream of either source. text/plain
            # (WET) captures: the payload IS the text.
            "text": text_s,
            "lang": pd.Series([None] * len(urls), dtype=object),
        }
    )


def read_warc(spark: SparkSession, path: str) -> DataFrame:
    """WARC file(s) -> pages DataFrame (input_hint schema; ``lang`` null —
    the lang_id operator fills it downstream). One binaryFile row per
    archive; record splitting runs executor-side."""
    from crabspark.shipping import ship_package

    ship_package(spark)  # executor-side imports of crabspark.extract
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.warc*")
        .option("recursiveFileLookup", "true")  # archives in subdirs
        .load(path)
        # the glob also matches CDX sidecars (part-N.warc.gz.cdx) the
        # write side emits — drop them at the listing, not executor-side
        .filter(~F.col("path").endswith(".cdx"))
        .select("content")
    )

    def parse(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield _records_to_pages(pdf["content"])

    return files.mapInPandas(parse, PAGES_SCHEMA)


def surt_key(url: str) -> str:
    """Canonical CDX sort key (the public SURT form): lowercase the host,
    drop a leading ``www.``, reverse the host labels comma-joined, append
    ``)`` + path?query — e.g. ``https://www.Example.com/a?b=1`` ->
    ``com,example)/a?b=1``. Sorting by this key clusters every capture of
    a host (and its subdomains as a prefix range), which is what makes a
    CDX index range-scannable by domain."""
    u = url.strip()
    for pfx in ("https://", "http://"):
        if u.lower().startswith(pfx):
            u = u[len(pfx):]
            break
    host, sep, rest = u.partition("/")
    host = host.lower().split("@")[-1].split(":")[0]
    if host.startswith("www."):
        host = host[4:]
    return ",".join(reversed(host.split("."))) + ")/" + (rest if sep else "")


# CDX fields are space-separated: a url with a space would split into too
# many fields and read_cdx would reject the whole line. '%' is escaped too,
# so that a url already holding a literal '%20' decodes back unchanged.
_CDX_ESCAPE = str.maketrans({"%": "%25", " ": "%20"})


def _cdx_unescape(col):
    """Inverse of ``_CDX_ESCAPE`` on a Spark column. Every '%' in an
    escaped field starts an escape, so a '%20' match is always an escaped
    space; decoding '%25' last keeps a restored '%' from starting one."""
    return F.regexp_replace(F.regexp_replace(col, "%20", " "), "%25", "%")


def _cdx_ts(ts) -> str:
    """CDX 14-digit timestamp (yyyymmddhhmmss)."""
    if pd.isna(ts):
        return "19700101000000"
    return pd.Timestamp(ts).strftime("%Y%m%d%H%M%S")


def _write_archive_with_cdx(
    outdir: str, name: str, records: list[tuple[str, str, bytes]],
    gzip_out: bool,
) -> None:
    """Write one archive file from (url, cdx_ts, record_bytes) triples —
    one gzip member PER RECORD when compressing (the Common Crawl
    `.warc.gz` layout: readers can seek to a member and inflate one
    record without touching the rest, and a truncated tail costs only the
    records past the cut, not the file) — plus the standard CDX sidecar
    (`<name>.cdx`, one line per record: urlkey, 14-digit timestamp,
    original url, archive filename, compressed offset, compressed
    length). read_cdx() turns the sidecars into a table; fetch_record()
    uses (file, offset, length) for record-level random access."""
    blobs: list[bytes] = []
    cdx_lines: list[str] = ["CDX N b a g V S"]
    offset = 0
    for url, cts, rec in records:
        blob = gzip.compress(rec) if gzip_out else rec
        cdx_lines.append(
            f"{surt_key(url).translate(_CDX_ESCAPE)} {cts} "
            f"{url.translate(_CDX_ESCAPE)} {name} {offset} {len(blob)}"
        )
        offset += len(blob)
        blobs.append(blob)
    with open(os.path.join(outdir, name), "wb") as f:
        f.write(b"".join(blobs))
    with open(os.path.join(outdir, name + ".cdx"), "w") as f:
        f.write("\n".join(cdx_lines) + "\n")


def write_warc(
    df: DataFrame, outdir: str, gzip_out: bool = True, prefix: str = "part"
) -> int:
    """pages DataFrame -> `part-{pid:05d}.warc[.gz]` per non-empty
    partition (WARC-Type: response with a minimal HTTP/1.1 frame, so any
    conforming reader — including read_warc — round-trips it), gzipped
    one member per record, with a CDX sidecar per archive. Executor
    tasks write their own file, the same per-partition-file shape as a
    parquet sink; returns the number of files written."""
    from crabspark.shipping import ship_package

    ship_package(df.sparkSession)  # the dump closure resolves via the
    # crabspark module on executors (cloudpickle pickles module-level
    # closures by reference) — same shipping contract as read_warc
    os.makedirs(outdir, exist_ok=True)

    def dump(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        recs: list[tuple[str, str, bytes]] = []
        for pdf in it:
            for row in pdf.itertuples(index=False):
                html = bytes(row.html) if row.html is not None else b""
                ts = (
                    pd.Timestamp(row.warc_ts).strftime("%Y-%m-%dT%H:%M:%SZ")
                    if pd.notna(row.warc_ts)
                    else "1970-01-01T00:00:00Z"
                )
                http = (
                    b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
                    b"Content-Length: " + str(len(html)).encode() + _SEP + html
                )
                head = (
                    "WARC/1.0\r\n"
                    "WARC-Type: response\r\n"
                    f"WARC-Target-URI: {row.url}\r\n"
                    f"WARC-Date: {ts}\r\n"
                    f"Content-Length: {len(http)}\r\n"
                    "Content-Type: application/http;msgtype=response"
                ).encode()
                recs.append(
                    (row.url, _cdx_ts(row.warc_ts), head + _SEP + http + _SEP)
                )
        if recs:
            name = f"{prefix}-{pid:05d}.warc" + (".gz" if gzip_out else "")
            _write_archive_with_cdx(outdir, name, recs, gzip_out)
            yield pd.DataFrame({"file": [name], "records": [len(recs)]})

    manifest = df.mapInPandas(dump, "file string, records long").collect()
    return len(manifest)


def read_cdx(spark: SparkSession, path: str) -> DataFrame:
    """CDX sidecar files -> index DataFrame (urlkey, cdx_ts, url, file,
    offset, length), the Common-Crawl companion artifact enabling random
    access into the archives. One text-file split per sidecar; at a real
    snapshot's scale (~300 GB of CDX for 100 TB of WARC) this is an
    ordinary distributed text scan, and sorting by (urlkey, cdx_ts) —
    what q_cdx_index does — is one range-partitioned sort."""
    lines = (
        spark.read.option("pathGlobFilter", "*.cdx")
        .option("recursiveFileLookup", "true")
        .text(path)
    )
    parts = F.split(F.col("value"), " ")
    return (
        lines.filter(~F.col("value").startswith("CDX "))
        # a line without 6 fields fails the read: dropping it would
        # return an index silently missing its record
        .filter(
            F.when(F.size(parts) == 6, True).otherwise(
                F.raise_error(
                    F.concat(F.lit("malformed CDX line: "), F.col("value"))
                )
            )
        )
        .select(
            _cdx_unescape(parts[0]).alias("urlkey"),
            parts[1].alias("cdx_ts"),
            _cdx_unescape(parts[2]).alias("url"),
            parts[3].alias("file"),
            parts[4].cast("long").alias("offset"),
            parts[5].cast("long").alias("length"),
        )
    )


def fetch_record(archive_dir: str, file: str, offset: int, length: int) -> dict:
    """Record-level random access: read exactly [offset, offset+length)
    of one archive and decode the single record there — the operation a
    CDX index exists to enable (a 100 TB corpus serves one URL capture
    with one ranged read of a few KB, no scan). Works on per-record-gzip
    `.warc.gz` members and uncompressed archives alike."""
    with open(os.path.join(archive_dir, file), "rb") as f:
        f.seek(offset)
        blob = f.read(length)
    if blob[:2] == b"\x1f\x8b":
        blob = _gunzip_members(blob)
    recs = list(parse_warc(blob))
    if len(recs) != 1:
        raise ValueError(
            f"expected exactly 1 record at {file}@{offset}+{length}, "
            f"got {len(recs)}"
        )
    return recs[0]
