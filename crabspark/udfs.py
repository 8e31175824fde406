"""Pandas/Arrow-UDF wrappers around the pure kernels — the engine's only
Python execution surface (north rule: vectorized Arrow UDFs, no per-row
Python).

The engine builds exactly these five UDFs:

- ``extract_page_udf``: fused text + link extraction over the page html;
- ``trim_body_udf``: the stored-body trim (Arrow-native where available);
- ``resolve_full_udf``: the resolve/validate/canonicalize/sha1 chain, fused
  so a candidate link crosses the Arrow boundary once;
- ``blocked_join_udf``: the robots matcher over candidates joined to their
  host's robots.txt body;
- ``image_name_udf``: the image-name column of the images table."""

from __future__ import annotations

import os

import pandas as pd
import pyarrow as pa
from pyspark.sql import functions as F

from crabspark import extract, robots, urlkit


def extract_page_udf():
    """Fused text + link extraction: the html binary crosses the Arrow
    boundary exactly once per fetched page (it is by far the widest
    column; everything downstream carries only strings/arrays)."""

    @F.pandas_udf(
        "text string, link_links array<string>, img_links array<string>"
    )
    def _page(html: pd.Series) -> pd.DataFrame:
        return extract.extract_page(html)

    return _page


def resolve_full_udf(permitted: list[str], blacklist: list[str], free_crawl: bool):
    """href × referrer -> (ser, domain, canon, sha1, valid): the whole
    per-link pipeline of filter_links (reference src/tools.rs:119-130) in
    one Arrow crossing."""
    permitted = list(permitted)
    blacklist = list(blacklist)

    @F.pandas_udf("ser string, domain string, canon string, sha1 string, valid boolean")
    def _resolve(href: pd.Series, referrer: pd.Series) -> pd.DataFrame:
        resolved = urlkit.resolve_links(href, referrer)
        parsed = urlkit.parse_serialize(resolved)
        valid = urlkit.valid_mask(parsed["domain"], permitted, blacklist, free_crawl)
        canon = urlkit.canonicalize(parsed["ser"]).where(valid, None)
        sha1 = urlkit.sha1_hex(canon)
        return pd.DataFrame(
            {
                "ser": parsed["ser"],
                "domain": parsed["domain"],
                "canon": canon,
                "sha1": sha1,
                "valid": valid.fillna(False),
            }
        )

    return _resolve


def blocked_join_udf(user_agents: list[str], respect_robots: bool):
    """Executor-side robots matcher: candidates arrive already JOINED to
    their host's robots.txt body (candidates ⋈ robots on host), so no
    robots body ever materializes on the driver — at web scale a round can
    touch 10^6+ hosts × multi-KB bodies. Rules are parsed once per distinct
    (host) within each Arrow batch (candidates of a host cluster into the
    same batches after the join); hosts with no robots row (null body) are
    allowed, exactly like the oracle's per-host rules map."""
    user_agents = list(user_agents)

    @F.pandas_udf("boolean")
    def _blocked(
        ser: pd.Series, host: pd.Series, robots_txt: pd.Series
    ) -> pd.Series:
        # cached_host_rules: a mega-host's body parses once per worker
        # process, not once per Arrow batch (post-join batches mix hosts)
        rules = robots.cached_host_rules(
            {
                h: t
                for h, t in zip(host, robots_txt)
                if isinstance(h, str) and isinstance(t, str)
            },
            user_agents,
        )
        return robots.blocked_mask(ser, host, rules, respect_robots)

    return _blocked


def _trim_body_one(b):
    """C5 body trim, Unicode-parity version. The reference stores
    body.trim() (Rust str::trim, src/http.rs:37), which trims *Unicode*
    whitespace of an always-valid-UTF-8 String. Here bodies are raw bytes:
    ASCII-strip first (cheap, byte-safe), then — only when a stripped edge
    byte is >= 0x80, i.e. could be multibyte whitespace like U+00A0/U+3000
    — decode-trim-reencode. Invalid UTF-8 keeps the byte-safe ASCII trim
    (documented deviation: a round trip would corrupt it with U+FFFD)."""
    if b is None:
        return None
    s = bytes(b).strip()
    if s and (s[0] >= 0x80 or s[-1] >= 0x80):
        try:
            s = s.decode("utf-8").strip().encode("utf-8")
        except UnicodeDecodeError:
            pass
    return s


# Slow-path row counter for test introspection: counts rows whose
# stripped edges are non-ASCII (>= 0x80) and therefore take the per-row
# Unicode decode-trim path. Only maintained when CRABSPARK_TRIM_COUNT=1
# (a worker-side env flag tests set before building the session); the
# counter lives in the Python worker processes, so tests read it by
# calling trim_body_batch directly, not through Spark.
_SLOW_PATH_ROWS = 0

# the six bytes Python bytes.strip() (and Rust str::trim for ASCII input)
# treat as whitespace: \t \n \v \f \r and space
_WS_BYTES = (9, 10, 11, 12, 13, 32)


def _trim_classify(arr):
    """Edge-scan classifier over an Arrow binary array's RAW BUFFERS —
    no per-row Python, no data copy. bytes.strip only ever touches the
    EDGES of a value, so the kernel does too: a bounded lockstep numpy
    scan walks all rows' leading/trailing whitespace runs together (one
    O(rows) gather per run byte; real pages have runs of 0-8 bytes).
    Returns (null_mask, trim_rows, slow_rows): trim_rows need an ASCII
    strip, slow_rows have a trimmed edge byte >= 0x80 (possible
    multibyte whitespace like U+00A0/U+3000) or a pathological
    >4096-byte whitespace run and must take the per-row Unicode path.
    Rows in neither mask are already trimmed — the overwhelming majority
    of fetched HTML — and can be passed through untouched."""
    global _SLOW_PATH_ROWS
    import numpy as np
    import pyarrow as pa

    n = len(arr)
    off_dtype = (
        np.int64 if pa.types.is_large_binary(arr.type) else np.int32
    )
    null_mask = (
        np.asarray(arr.is_null())
        if arr.null_count
        else np.zeros(n, dtype=bool)
    )
    off = np.frombuffer(arr.buffers()[1], dtype=off_dtype)[
        arr.offset : arr.offset + n + 1
    ].astype(np.int64)
    databuf = arr.buffers()[2]
    buf = (
        np.frombuffer(databuf, dtype=np.uint8)
        if databuf is not None and len(databuf)
        else np.empty(0, dtype=np.uint8)
    )
    starts, ends = off[:-1].copy(), off[1:].copy()
    starts[null_mask] = 0
    ends[null_mask] = 0
    is_ws = np.zeros(256, dtype=bool)
    is_ws[list(_WS_BYTES)] = True
    bufcap = max(len(buf) - 1, 0)
    zeros_b = np.zeros(n, dtype=bool)

    MAX_EDGE = 4096
    new_start = starts.copy()
    active = new_start < ends
    for _ in range(MAX_EDGE):
        if not len(buf) or not active.any():
            break
        adv = active & is_ws[buf[np.minimum(new_start, bufcap)]]
        if not adv.any():
            break
        new_start[adv] += 1
        active = adv & (new_start < ends)
    new_end = ends.copy()
    active = new_end > new_start
    for _ in range(MAX_EDGE):
        if not len(buf) or not active.any():
            break
        adv = active & is_ws[
            buf[np.minimum(np.maximum(new_end - 1, 0), bufcap)]
        ]
        if not adv.any():
            break
        new_end[adv] -= 1
        active = adv & (new_end > new_start)

    if len(buf):
        # capped = still sitting ON a whitespace byte after MAX_EDGE
        # steps (exact regardless of which break exited the loops)
        lead_capped = (new_start < ends) & is_ws[
            buf[np.minimum(new_start, bufcap)]
        ]
        trail_capped = (new_end > new_start) & is_ws[
            buf[np.minimum(np.maximum(new_end - 1, 0), bufcap)]
        ]
        has_content = new_end > new_start
        first_b = np.where(
            has_content, buf[np.minimum(new_start, bufcap)], 0
        )
        last_b = np.where(
            has_content,
            buf[np.minimum(np.maximum(new_end - 1, 0), bufcap)],
            0,
        )
        slow = (
            (first_b >= 0x80) | (last_b >= 0x80) | lead_capped | trail_capped
        ) & ~null_mask
    else:
        slow = zeros_b
    if os.environ.get("CRABSPARK_TRIM_COUNT") == "1":
        _SLOW_PATH_ROWS += int(slow.sum())
    unchanged = (new_start == starts) & (new_end == ends) & ~slow
    trim_rows = ~unchanged & ~slow & ~null_mask
    return null_mask, trim_rows, slow


def _apply_trim(html: pd.Series, null_mask, trim_rows, slow) -> pd.Series:
    """Apply classifier verdicts to a pandas batch: untouched passthrough
    for already-trimmed rows (zero copy), one C-builtin ``bytes.strip``
    per ASCII-edged row needing a trim (no Python-level code; a full
    numpy buffer compaction was tried and rejected — this numpy build's
    large-array cumsum runs at ~45ms per MILLION elements, losing to the
    per-row C memcpy), and ``_trim_body_one``'s decode-trim for the rare
    non-ASCII-edged rows."""
    import numpy as np

    res = html.copy()
    if null_mask.any():
        res[null_mask] = None
    if trim_rows.any():
        tidx = np.flatnonzero(trim_rows)
        try:
            res.iloc[tidx] = html.iloc[tidx].map(bytes.strip)
        except TypeError:  # bytes-like but not bytes (e.g. bytearray)
            res.iloc[tidx] = html.iloc[tidx].map(_trim_body_one)
    if slow.any():
        sidx = np.flatnonzero(slow)
        res.iloc[sidx] = [_trim_body_one(html.iloc[i]) for i in sidx]
    return res


def trim_body_batch(html: pd.Series) -> pd.Series:
    """Vectorized C5 body trim over a pandas batch: ``_trim_classify``
    (numpy over Arrow buffers) decides which rows need work, then
    ``_apply_trim`` touches only those. Parity with the per-row
    reference is pinned by test."""
    import pyarrow as pa

    if len(html) == 0:
        return html
    arr = pa.array(html, type=pa.large_binary())
    null_mask, trim_rows, slow = _trim_classify(arr)
    return _apply_trim(html, null_mask, trim_rows, slow)


def trim_body_arrow(arr):
    """Arrow-native C5 body trim: when NO row needs work — the steady
    state of a crawl fetching already-trimmed HTML — the input array is
    returned AS-IS: zero copy, zero object materialization, zero
    per-row anything. Batches with rows needing work materialize pandas
    objects ONCE, trim the flagged rows, and convert back; even then
    this is strictly less work than the pandas_udf pipeline, which pays
    both conversions on every batch before the UDF body runs."""
    import pyarrow as pa

    if isinstance(arr, pa.ChunkedArray):
        return pa.chunked_array(
            [trim_body_arrow(c) for c in arr.chunks], type=arr.type
        )
    if len(arr) == 0:
        return arr
    null_mask, trim_rows, slow = _trim_classify(arr)
    if not trim_rows.any() and not slow.any():
        return arr
    res = _apply_trim(arr.to_pandas(), null_mask, trim_rows, slow)
    return pa.array(res, type=arr.type)


def trim_body_udf():
    """C5 body trim without an unconditional UTF-8 round trip and without
    per-row Python on ASCII-edged batches. Prefers the ARROW-NATIVE UDF
    (pyspark >= 4.0): batches arrive as pa.Array straight off the wire,
    the classifier reads raw buffers, and the no-op steady state returns
    the input array untouched — no pandas object materialization at all.
    Falls back to the pandas_udf + ``trim_body_batch`` kernel on older
    runtimes. See ``_trim_body_one`` for the Rust-``str::trim`` parity
    contract."""
    if hasattr(F, "arrow_udf"):

        @F.arrow_udf("binary")
        def _trim_a(html: pa.Array) -> pa.Array:
            return trim_body_arrow(html)

        return _trim_a

    @F.pandas_udf("binary")
    def _trim(html: pd.Series) -> pd.Series:
        return trim_body_batch(html)

    return _trim


def image_name_udf():
    @F.pandas_udf("string")
    def _name(ser: pd.Series) -> pd.Series:
        return extract.image_name(ser)

    return _name

