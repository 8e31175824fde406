"""Pure-pandas URL kernels. No Spark imports — these are the batch kernels
wrapped by the engine's pandas UDFs and unit-tested standalone.

All semantics are bug-for-bug with the reference:

- ``resolve_links``       <- handle_relative_paths (reference src/http.rs:88-198)
- ``canonicalize``        <- format_url_for_storage (reference src/tools.rs:190-195)
- ``parse_serialize``     <- rust-url Url::parse + .to_string() + .domain()
                             as used by is_valid_site (reference src/tools.rs:168-187)
- ``valid_mask``          <- the allow/deny predicate (reference src/tools.rs:172-173;
                             exact domain equality, no subdomain match)

Vectorization strategy: every branch of the reference's resolve ladder is
selected with pandas masks computed over the whole Arrow batch; the common
branches (absolute pass-through, junk/pseudo-scheme rejects — the vast
majority of real-web hrefs) are computed with columnar str ops. The rare
``../`` walk keeps a small masked-subset loop with a memoized referrer parse
(referrers repeat heavily within a batch: one page -> many hrefs). There is
no row-at-a-time UDF anywhere; all data transfer is Arrow-batched.

Known intentional quirks reproduced (SURVEY.md §2.9):
 Q1 root-relative '/x' and clkn/rel/ resolve to scheme-less strings that
    later fail URL parsing and are dropped;
 Q2 '../', './', bare-relative resolve against the full referrer URL and
    survive;
 Q9 canonicalization strips the query entirely.
"""

from __future__ import annotations

import hashlib
import re
from urllib.parse import quote

import numpy as np
import pandas as pd

# --- branch constants (reference src/http.rs:98-117) ---
PSEUDO_PREFIXES = (
    "mailto", "whatsapp", "fb-messenger", "tel", "sms",
    "facetime", "skype", "slack", "zoom",
)
STORE_PREFIXES = ("itms", "market")
SCRIPT_PREFIXES = ("javascript", "vbscript", "javscript")  # sic: 'javscript'

# scheme://authority, path, ?query  (fragment handled separately)
_REF_SPLIT_RE = re.compile(
    r"^([a-zA-Z][a-zA-Z0-9+.\-]*://(?:[^/?#]*@)?[^/?#]*)([^?#]*)(\?[^#]*)?"
)
# host inside a prefix: strip scheme, userinfo, port
_HOST_IN_PREFIX_RE = re.compile(r"://(?:[^/@]*@)?([^:/]+)(?::\d+)?$")
_IPV4_RE = re.compile(r"^\d{1,3}(?:\.\d{1,3}){3}$")
_SCHEME_RE = re.compile(r"^([a-zA-Z][a-zA-Z0-9+.\-]*):(.*)$", re.S)
# format_url_for_storage (reference src/tools.rs:192)
_STORAGE_RE = re.compile(r"^https?://(www\.)?([^?]*).*$", re.S)


def _as_object(s: pd.Series) -> pd.Series:
    return s.astype(object).where(s.notna(), None)


# ---------------------------------------------------------------------------
# anchor strip (reference src/http.rs:89-93)
# ---------------------------------------------------------------------------

def strip_anchor(href: pd.Series) -> pd.Series:
    """Trim, then truncate at the '#' index *of the original string* and trim
    again — exactly `url.trim()` + `formatted[..url.find('#')].trim()`
    (reference src/http.rs:89-93, including the shifted-index quirk when the
    original href has leading whitespace)."""
    href = _as_object(href).fillna("")
    out = href.str.strip()
    idx = href.str.find("#")
    mask = idx >= 0
    if mask.any():
        out = out.copy()
        out[mask] = [
            orig.strip()[:i].strip()
            for orig, i in zip(href[mask], idx[mask])
        ]
    return out


# ---------------------------------------------------------------------------
# referrer decomposition (memo-friendly)
# ---------------------------------------------------------------------------

def _split_referrers(ref: pd.Series) -> pd.DataFrame:
    """Decompose referrer URLs into (prefix, path, query, host).

    prefix = scheme://[userinfo@]host[:port] (lowercased — rust-url
    normalizes scheme+host on parse); path defaults to '/' like
    Url::to_string() of an empty path. host is None when the referrer does
    not parse (reference then logs + rejects, src/http.rs:124-128) or has an
    IP host (Url::domain() -> None)."""
    ext = ref.str.extract(_REF_SPLIT_RE)
    prefix = ext[0].str.lower()
    path = ext[1].fillna("")
    path = path.where(path != "", "/")
    query = ext[2].fillna("")
    host = prefix.str.extract(_HOST_IN_PREFIX_RE)[0]
    is_ip = host.str.match(_IPV4_RE).eq(True)
    domain = host.where(~is_ip, None)
    return pd.DataFrame(
        {"prefix": prefix, "path": path, "query": query, "domain": domain}
    )


def _path_parent(p: str) -> str:
    """Rust std::path::Path::parent() on URL paths: '/x/y'->'/x', '/x'->'/',
    '/'->'/' (parent of root is None; reference keeps the old path then,
    src/http.rs:155-157); trailing slash ignored ('/x/y/'->'/x')."""
    if p == "/":
        return "/"
    p2 = p.rstrip("/")
    if not p2:
        return "/"
    i = p2.rfind("/")
    if i <= 0:
        return "/"
    return p2[:i]


# ---------------------------------------------------------------------------
# resolve_links: the handle_relative_paths ladder (reference src/http.rs:88-198)
# ---------------------------------------------------------------------------

def resolve_links(href: pd.Series, referrer: pd.Series) -> pd.Series:
    """Resolve raw hrefs against their referrer page URL. Returns the
    resolved string, or None for rejected links (junk, pseudo-schemes,
    unparseable referrer). Branch order matches the reference exactly."""
    f = strip_anchor(href)
    referrer = _as_object(referrer).fillna("")
    n = len(f)
    out = np.full(n, None, dtype=object)
    if n == 0:
        return pd.Series(out, index=f.index, dtype=object)

    sw = f.str.startswith
    conds = [
        sw(("www", "http")),                                   # 1 absolute-ish
        f.isin(["", "/", "#", '\\"', "..//"]) | sw("?"),       # 2 junk
        sw(PSEUDO_PREFIXES),                                   # 3 pseudo-scheme
        sw(STORE_PREFIXES),                                    # 4 app stores
        sw(SCRIPT_PREFIXES),                                   # 5 script schemes
        f.str.contains(":invalid", regex=False),               # 6 :invalid
        sw("data:image"),                                      # 7 data urls
        sw("clkn/http/"),                                      # 8 google-ads abs
        sw("clkn/rel/"),                                       # 9 google-ads rel
        sw("//"),                                              # 10 protocol-rel
        sw("/"),                                               # 11 root-rel (Q1)
        sw("../") | sw("./../"),                               # 12 parent walk
        sw("./"),                                              # 13 same-dir
    ]
    branch = np.select([c.to_numpy() for c in conds], list(range(1, 14)), default=14)

    fv = f.to_numpy()

    def m(b: int) -> np.ndarray:
        return branch == b

    # 1: pass-through (reference src/http.rs:95-97)
    out[m(1)] = fv[m(1)]
    # 2-7: rejects -> None (already None)

    # 8: clkn/http/ -> http://rest (reference src/http.rs:118-120)
    b8 = m(8)
    if b8.any():
        out[b8] = ["http://" + x[len("clkn/http/"):] for x in fv[b8]]

    # 10: protocol-relative -> https: + '//...' (reference src/http.rs:132-134)
    b10 = m(10)
    if b10.any():
        out[b10] = ["https:" + x for x in fv[b10]]

    # branches needing the referrer
    need_ref = m(9) | m(11) | m(12) | m(13) | m(14)
    if need_ref.any():
        refs = _split_referrers(referrer[need_ref])
        # scatter back into full-length arrays
        prefix = np.full(n, None, dtype=object)
        path = np.full(n, None, dtype=object)
        query = np.full(n, None, dtype=object)
        domain = np.full(n, None, dtype=object)
        prefix[need_ref] = refs["prefix"].to_numpy()
        path[need_ref] = refs["path"].to_numpy()
        query[need_ref] = refs["query"].to_numpy()
        domain[need_ref] = refs["domain"].to_numpy()
        # reference rejects on unparseable referrer in branch 9/11
        # (src/http.rs:124-128,137-141) and panics in 12-14 (.unwrap());
        # we reject uniformly — engine referrers are always parseable.
        parseable = np.array([isinstance(p, str) for p in prefix], dtype=bool)

        # 9: clkn/rel/ -> domain + rest  (scheme-less => dropped later; Q1-like)
        b9 = m(9) & parseable
        out[b9] = [
            _dom(d) + x[len("clkn/rel/"):] for d, x in zip(domain[b9], fv[b9])
        ]

        # 11: '/path' -> domain + path (scheme-less, Q1: dropped by validity)
        b11 = m(11) & parseable
        out[b11] = [_dom(d) + x for d, x in zip(domain[b11], fv[b11])]

        # 12: '../' / './../' parent walk (reference src/http.rs:145-165)
        b12 = m(12) & parseable
        if b12.any():
            out[b12] = [
                _resolve_dotdot(x, pre, pth, q)
                for x, pre, pth, q in zip(fv[b12], prefix[b12], path[b12], query[b12])
            ]

        # 13: './rest' (reference src/http.rs:166-173)
        b13 = m(13) & parseable
        if b13.any():
            out[b13] = [
                _resolve_dot(x, pre, pth, q)
                for x, pre, pth, q in zip(fv[b13], prefix[b13], path[b13], query[b13])
            ]

        # 14: bare relative (reference src/http.rs:174-189)
        b14 = m(14) & parseable
        if b14.any():
            out[b14] = [
                _resolve_bare(x, pre, pth, q)
                for x, pre, pth, q in zip(fv[b14], prefix[b14], path[b14], query[b14])
            ]
    return pd.Series(out, index=f.index, dtype=object)


def _isnan(x) -> bool:
    return isinstance(x, float) and x != x


def _dom(d) -> str:
    # Url::domain().unwrap_or("") (reference src/http.rs:130,143)
    return "" if d is None or _isnan(d) else d


def _serialize(prefix: str, path: str, query: str) -> str:
    return prefix + path + query


def _resolve_dotdot(f: str, prefix: str, path: str, query: str) -> str:
    """'../a' / './../a': pop one referrer path segment per leading '../',
    re-serialize (query kept — and, faithfully, the remainder is appended
    AFTER the query string, reference src/http.rs:159-165), strip residual
    leading '..' pairs from the remainder."""
    if f.startswith("./"):
        f = f[2:]
    p = path
    while f.startswith("../"):
        f = f[3:]
        p = _path_parent(p)
    full = _serialize(prefix, p, query)
    if not full.endswith("/") and not f.startswith("/"):
        full = _serialize(prefix, p + "/", query)
    while f.startswith(".."):
        f = f[2:]
    return full + f


def _resolve_dot(f: str, prefix: str, path: str, query: str) -> str:
    full = _serialize(prefix, path, query)
    if not full.endswith("/") and not f.startswith("/"):
        full = _serialize(prefix, path + "/", query)
    while f.startswith("./"):
        f = f[2:]
    return full + f


def _resolve_bare(f: str, prefix: str, path: str, query: str) -> str:
    full = _serialize(prefix, path, query)
    if full.endswith(".html"):
        path = _path_parent(path)
        full = _serialize(prefix, path, query)
    if not full.endswith("/") and not f.startswith("/"):
        full = _serialize(prefix, path + "/", query)
    return full + f


# ---------------------------------------------------------------------------
# Url::parse + to_string + domain  (validity layer, reference src/tools.rs:168-187)
# ---------------------------------------------------------------------------

_AUTH_SPLIT_RE = re.compile(r"^([^/?#]*)([^?#]*)(?:\?([^#]*))?(?:#.*)?$", re.S)
_DEFAULT_PORTS = {"http": "80", "https": "443"}

# WHATWG-style encode sets, matching rust-url's Url::to_string() for special
# schemes: anything outside the safe set is %-encoded as UTF-8. '%' is safe
# so already-encoded sequences are never double-encoded (rust-url keeps
# them verbatim too). The query set additionally admits '?'.
_PATH_SAFE = "!$&'()*+,-./:;=@_~%"
_QUERY_SAFE = _PATH_SAFE + "?"
_PATH_UNSAFE_RE = re.compile(r"[^!$&'()*+,\-./:;=@_~%A-Za-z0-9]")
_QUERY_UNSAFE_RE = re.compile(r"[^!$&'()*+,\-./:;=?@_~%A-Za-z0-9]")

# Fast-path recognizer: URLs that serialize to THEMSELVES (plus at most a
# '/' for an empty path): lowercase reg-name host, no userinfo/port/IPv6,
# path and query already inside the WHATWG-safe sets. Everything else
# (ports, uppercase, dots, encoding, IDNA) drops to the per-row loop.
# The '/.' substring exclusion mirrors the slow path's dot-normalization
# trigger exactly.
_FAST_URL_RE = re.compile(
    r"^(https?)://([a-z0-9\-.]+)"
    r"(/[!$&'()*+,\-./:;=@_~%A-Za-z0-9]*)?"
    r"(\?[!$&'()*+,\-./:;=?@_~%A-Za-z0-9]*)?$"
)


def _normalize_dots(p: str) -> str:
    """WHATWG path dot-segment removal, as rust-url applies on parse."""
    segs = p.split("/")[1:]
    outsegs: list[str] = []
    last_i = len(segs) - 1
    for i, s in enumerate(segs):
        if s == "..":
            if outsegs:
                outsegs.pop()
            if i == last_i:
                outsegs.append("")
        elif s == ".":
            if i == last_i:
                outsegs.append("")
        else:
            outsegs.append(s)
    return "/" + "/".join(outsegs)


def parse_serialize(urls: pd.Series) -> pd.DataFrame:
    """Vectorized approximation of rust-url for the inputs this pipeline can
    produce. Returns columns ``ser`` (Url::to_string(), None if unparseable)
    and ``domain`` (Url::domain(): None for no-scheme strings — that is Q1's
    drop — for IPv4 hosts, and for non-http(s) schemes).

    Key behaviors: scheme required (scheme-less 'www.x.com/y' fails exactly
    like Url::parse's RelativeUrlWithoutBase, reference src/tools.rs:169);
    scheme+host lowercased; default port dropped; empty path -> '/';
    dot segments normalized; fragment dropped (already stripped upstream);
    unicode hosts IDNA/punycode-encoded and path/query %-encoded per the
    WHATWG sets — so seen keys and sha1s agree with Url::to_string() on
    real-web (non-ASCII / space-bearing) inputs, not just the ASCII
    conformance corpus."""
    urls = _as_object(urls)
    n = len(urls)
    ser = np.full(n, None, dtype=object)
    dom = np.full(n, None, dtype=object)
    if n == 0:
        return pd.DataFrame({"ser": ser, "domain": dom}, index=urls.index)

    # One fused row loop, no pandas str.extract: a single pandas extract
    # over a big batch costs more than this whole loop (~0.75s vs ~0.5s
    # per 240k rows), and ~98% of real candidate URLs take the two-line
    # fast branch (already-canonical: lowercase host, safe charset, no
    # port/userinfo/dots — such a URL serializes to itself).
    fv = urls.fillna("").to_numpy()
    fast_match = _FAST_URL_RE.match
    scheme_match = _SCHEME_RE.match
    for i in range(n):
        u = fv[i]
        if not u:
            continue
        m = fast_match(u)
        if m is not None and "/." not in u:
            pth, q = m.group(3), m.group(4)
            if pth:
                ser[i] = u
            elif q is not None:
                # empty path serializes as '/', inserted before the query
                ser[i] = u[: len(u) - len(q)] + "/" + q
            else:
                ser[i] = u + "/"
            host = m.group(2)
            if not _IPV4_RE.match(host):
                dom[i] = host
            continue
        m = scheme_match(u)
        if m is None:
            continue  # RelativeUrlWithoutBase (Q1 drop)
        s = m.group(1).lower()
        if s not in _DEFAULT_PORTS:
            # non-special schemes: parseable for rust-url, but domain() is
            # None -> is_valid_site false; serialize as the raw string.
            ser[i] = u
            continue
        r = m.group(2).lstrip("/\\")  # WHATWG: special schemes eat any // run
        mm = _AUTH_SPLIT_RE.match(r)
        auth, pth, q = mm.group(1), mm.group(2), mm.group(3)
        if "@" in auth:
            auth = auth.rsplit("@", 1)[1]
        if "[" in auth or "]" in auth:
            continue  # IPv6 literals: out of scope, treat as unparseable
        host, port = auth, None
        if ":" in auth:
            host, port = auth.rsplit(":", 1)
            if port and not port.isdigit():
                continue  # rust-url: invalid port => parse error
        host = host.lower()
        if not host or " " in host:
            continue  # Url::parse error (empty host for special scheme)
        if not host.isascii():
            # rust-url punycodes unicode hosts (IDNA); encode failure is
            # a parse error there too
            try:
                host = host.encode("idna").decode("ascii")
            except UnicodeError:
                continue
        if port == _DEFAULT_PORTS[s] or port == "":
            port = None
        if not pth:
            pth = "/"
        if "/." in pth or pth.startswith("."):
            pth = _normalize_dots(pth)
        if _PATH_UNSAFE_RE.search(pth):
            pth = quote(pth, safe=_PATH_SAFE)
        if q is not None and _QUERY_UNSAFE_RE.search(q):
            q = quote(q, safe=_QUERY_SAFE)
        out = s + "://" + host
        if port:
            out += ":" + port
        out += pth
        if q is not None:
            out += "?" + q
        ser[i] = out
        if not _IPV4_RE.match(host):
            dom[i] = host
    return pd.DataFrame({"ser": ser, "domain": dom}, index=urls.index)


def valid_mask(
    domain: pd.Series,
    permitted: list[str],
    blacklist: list[str],
    free_crawl: bool,
) -> pd.Series:
    """is_valid_site predicate (reference src/tools.rs:168-187): URL parsed,
    has a domain, and (free_crawl OR domain == some permitted) AND domain not
    blacklisted. Exact string equality — 'cnn.com' does NOT admit
    'www.cnn.com' (Q8, reference src/tools.rs:172-173)."""
    has = domain.notna()
    allowed = pd.Series(bool(free_crawl), index=domain.index) | domain.isin(permitted)
    denied = domain.isin(blacklist)
    return has & allowed & ~denied


# ---------------------------------------------------------------------------
# canonicalization
# ---------------------------------------------------------------------------

def canonicalize(urls: pd.Series) -> pd.Series:
    """format_url_for_storage (reference src/tools.rs:190-195): keep
    host+path (scheme stripped, leading 'www.' stripped, query stripped — Q9),
    unchanged when the pattern misses, then strip ALL trailing slashes.
    Plain string slicing — byte-equivalent to the reference regex
    ``^https?://(www\\.)?([^?]*).*$`` -> ``$2`` but ~5x faster per batch."""
    urls = _as_object(urls).fillna("")
    out = []
    for u in urls:
        if u.startswith("http://"):
            rest = u[7:]
        elif u.startswith("https://"):
            rest = u[8:]
        else:
            out.append(u.rstrip("/"))
            continue
        if rest.startswith("www."):
            rest = rest[4:]
        qi = rest.find("?")
        if qi >= 0:
            rest = rest[:qi]
        out.append(rest.rstrip("/"))
    return pd.Series(out, index=urls.index, dtype=object)


def sha1_hex(urls: pd.Series) -> pd.Series:
    """SHA-1 hex digest of the canonical URL — the seen-set shard key
    (north rule: 'canonicalizes and hashes candidate URLs ... SHA-1')."""
    vals = _as_object(urls)
    return pd.Series(
        [
            None if v is None else hashlib.sha1(v.encode("utf-8")).hexdigest()
            for v in vals
        ],
        index=urls.index,
        dtype=object,
    )


def host_of(urls: pd.Series) -> pd.Series:
    """Host of an absolute URL (for politeness grouping / robots lookup)."""
    return parse_serialize(urls)["domain"]
