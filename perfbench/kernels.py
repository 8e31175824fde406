"""Single-process kernel rates on a crawl workload's own fixture, no Spark.

Each kernel runs over the fixture in 512-row batches (the engine's Arrow
batch size, ``Config.arrow_max_records_per_batch``) three times; the rate
is rows over the median pass time. These repeat far more tightly than a
Spark wall, so they say whether a kernel change moved the kernel itself.
"""

from __future__ import annotations

import statistics
import time

import numpy as np
import pandas as pd

BATCH = 512
PASSES = 3
MAX_LINKS = 60_000


def _batches(s: pd.Series) -> list[pd.Series]:
    return [s.iloc[i:i + BATCH] for i in range(0, len(s), BATCH)]


def _rate(rows: int, fn, batches: list) -> float:
    times = []
    for _ in range(PASSES):
        t0 = time.perf_counter()
        for b in batches:
            fn(*b) if isinstance(b, tuple) else fn(b)
        times.append(time.perf_counter() - t0)
    return rows / statistics.median(times)


def kernel_rates(fixture_dir: str, cfg) -> dict[str, float]:
    from crabspark import extract, robots, udfs, urlkit
    from crabspark.seen import Bloom

    pages = pd.read_parquet(f"{fixture_dir}/pages.parquet", columns=["url", "html"])
    robots_df = pd.read_parquet(f"{fixture_dir}/robots.parquet")
    html = pages["html"].astype(object)
    html_b = _batches(html)
    mb = float(html.map(len).sum()) / 1e6
    out: dict[str, float] = {}

    pages_per_s = _rate(len(html), extract.extract_page, html_b)
    out["extract.pages_per_s"] = pages_per_s
    out["extract.mb_per_s"] = pages_per_s * mb / len(html)
    out["udfs.trim_rows_per_s"] = _rate(len(html), udfs.trim_body_batch, html_b)

    # every (href, referrer) pair the engine would resolve, in page order
    links = extract.extract_page(html)
    pairs = [
        (h, u)
        for u, ls, im in zip(pages["url"], links["link_links"], links["img_links"])
        for h in list(ls) + list(im)
    ][:MAX_LINKS]
    href = pd.Series([p[0] for p in pairs], dtype=object)
    ref = pd.Series([p[1] for p in pairs], dtype=object)
    pair_b = list(zip(_batches(href), _batches(ref)))
    out["urlkit.resolve_rows_per_s"] = _rate(len(href), urlkit.resolve_links, pair_b)

    resolved = urlkit.resolve_links(href, ref)

    def canon_sha1(urls):
        return urlkit.sha1_hex(urlkit.canonicalize(urlkit.parse_serialize(urls)["ser"]))

    out["urlkit.canon_sha1_rows_per_s"] = _rate(
        len(resolved), canon_sha1, _batches(resolved)
    )

    parsed = urlkit.parse_serialize(resolved)
    keep = parsed["ser"].notna()
    ser = parsed["ser"][keep].reset_index(drop=True)
    host = parsed["domain"][keep].reset_index(drop=True)
    rules = robots.build_host_rules(
        dict(zip(robots_df["host"], robots_df["robots_txt"])), cfg.user_agents
    )
    out["robots.judge_rows_per_s"] = _rate(
        len(ser),
        lambda u, h: robots.blocked_mask(u, h, rules),
        list(zip(_batches(ser), _batches(host))),
    )

    sha1 = urlkit.sha1_hex(urlkit.canonicalize(ser)).dropna().reset_index(drop=True)
    sha1_b = _batches(sha1)
    bloom = Bloom(cfg.bloom_capacity, cfg.bloom_fpp)
    out["seen.add_rows_per_s"] = _rate(
        len(sha1), lambda s: bloom.add_array(s.to_numpy()), sha1_b
    )
    out["seen.probe_rows_per_s"] = _rate(len(sha1), bloom.might_contain, sha1_b)
    return out


def bloom_fpp(bloom, n: int = 100_000) -> float:
    """Share of n synthetic keys, none of them ever inserted, that the
    bloom reports as present."""
    from crabspark import urlkit

    keys = pd.Series([f"perfbench-unseen-{i}" for i in range(n)], dtype=object)
    hits = bloom.might_contain(urlkit.sha1_hex(keys))
    return float(np.mean(hits.to_numpy()))
