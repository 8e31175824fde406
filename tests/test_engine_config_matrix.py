"""Config-matrix parity (FIXTURES.md §4): allowlist-only vs free_crawl,
robots on/off — engine vs oracle on the same fixture."""

import os

import pytest

from crabspark.config import Config
from crabspark.engine import Engine
from fixtures import gen_pages
from tests.oracle import run_oracle
from tests.sparkutil import get_spark

N_PAGES = 30


@pytest.fixture(scope="module")
def spark():
    return get_spark()


@pytest.fixture(scope="module")
def fixture_paths(tmp_path_factory):
    out = tmp_path_factory.mktemp("fixture_cm")
    gen_pages.write(str(out), n_pages=N_PAGES, seed=42)
    return str(out)


def cfg_with(**over):
    cfg = Config.new()
    cfg.seeds = [gen_pages.SEED_URL]
    cfg.max_urls_to_visit = 5000
    cfg.scheduling = "throughput"
    cfg.per_host_quota = 4
    for k, v in over.items():
        setattr(cfg, k, v)
    return cfg


def compare(spark, fixture_paths, tmp_path, cfg, name):
    data = gen_pages.generate(n_pages=N_PAGES, seed=42)
    golden = run_oracle(data["pages"], data["robots"], cfg)
    eng = Engine(
        spark, cfg, str(tmp_path / name),
        pages_path=f"{fixture_paths}/pages.parquet",
        robots_path=f"{fixture_paths}/robots.parquet",
    )
    eng.run()
    vis = {r["url"]: r for r in eng.read_visited().collect()}
    assert set(vis) == set(golden.visited)
    for url, row in golden.visited.items():
        assert vis[url]["is_blocked"] == row["is_blocked"], url
        assert vis[url]["is_complete"] == row["is_complete"], url
    seen = {r["url"] for r in eng.read_seen().collect()}
    assert seen == golden.seen
    return golden


def test_allowlist_only(spark, fixture_paths, tmp_path):
    """free_crawl=False: exact-equality domain allowlist (Q8) — only the
    two mega hosts are crawlable."""
    cfg = cfg_with(
        free_crawl=False,
        permitted_domains=[gen_pages.MEGA1, gen_pages.MEGA2],
    )
    golden = compare(spark, fixture_paths, tmp_path, cfg, "allow")
    hosts = {u.split("/")[0] for u, _ in golden.visit_order}
    # canonical form strips 'www.' -> mega1.com / mega2.net only
    assert hosts <= {"mega1.com", "mega2.net"}
    assert len(golden.visit_order) > 1


def test_robots_off(spark, fixture_paths, tmp_path):
    """respect_robots=False: blocked pages become ordinary visits; no
    is_blocked rows at all (reference src/tools.rs:140 short-circuit)."""
    cfg = cfg_with(free_crawl=True, respect_robots=False,
                   blacklist_domains=["evil.com"])
    golden = compare(spark, fixture_paths, tmp_path, cfg, "norobots")
    assert not any(r["is_blocked"] for r in golden.visited.values())
    visited = {u for u, _ in golden.visit_order}
    assert "mega1.com/moz-block/secret.html" in visited


def test_shuffle_fetch_join(spark, fixture_paths, tmp_path):
    """fetch_join='shuffle': identical crawl through the non-broadcast
    (shuffle-hash) fetch-join path — the 10^8-row-batch scale mode."""
    cfg = cfg_with(free_crawl=True, fetch_join="shuffle")
    compare(spark, fixture_paths, tmp_path, cfg, "shufflejoin")


def test_frontier_fold_every_round(spark, fixture_paths, tmp_path):
    """frontier_fold_deltas=0: the adds-only frontier folds (physically
    drops visited rows) after every round — parity must be unaffected and
    the frontier table must stay a single folded delta."""
    cfg = cfg_with(free_crawl=True, frontier_fold_deltas=0)
    data = gen_pages.generate(n_pages=N_PAGES, seed=42)
    golden = run_oracle(data["pages"], data["robots"], cfg)
    eng = Engine(
        spark, cfg, str(tmp_path / "fold"),
        pages_path=f"{fixture_paths}/pages.parquet",
        robots_path=f"{fixture_paths}/robots.parquet",
    )
    eng.run()
    vis = {r["url"]: r for r in eng.read_visited().collect()}
    assert set(vis) == set(golden.visited)
    for url, row in golden.visited.items():
        assert vis[url]["is_blocked"] == row["is_blocked"], url
        assert vis[url]["is_complete"] == row["is_complete"], url
    assert eng.catalog.delta_count("frontier") == 1
    # folded frontier holds no visited canon
    frontier = eng.catalog.read("frontier")
    if frontier is not None:
        live = {r["canon"] for r in frontier.collect()}
        assert not (live & set(golden.visited))


def test_ua_not_rotating(spark, fixture_paths, tmp_path):
    """rotate_user_agents=False pins the FIRST configured UA for every
    fetch (reference src/http.rs:16-20 fallback branch)."""
    cfg = cfg_with(free_crawl=True, rotate_user_agents=False)
    eng = Engine(
        spark, cfg, str(tmp_path / "noua"),
        pages_path=f"{fixture_paths}/pages.parquet",
        robots_path=f"{fixture_paths}/robots.parquet",
    )
    eng.run()
    uas = {
        r["ua"]
        for r in eng.catalog.read("fetched").select("ua").distinct().collect()
    }
    assert uas == {cfg.user_agents[0]}


def test_bucketed_pages_fetch_join(spark, fixture_paths, tmp_path):
    """url-hash-bucketed pages layout: the fetch join prunes the scan to
    the batch's bucket partitions (SPJ-style); crawl results identical."""
    from pyspark.sql import functions as F

    from crabspark.tables import bucketize_pages

    bdir = str(tmp_path / "pages_bucketed")
    bucketize_pages(spark, f"{fixture_paths}/pages.parquet", bdir, n_buckets=8)
    cfg = cfg_with(free_crawl=True)
    data = gen_pages.generate(n_pages=N_PAGES, seed=42)
    golden = run_oracle(data["pages"], data["robots"], cfg)
    eng = Engine(
        spark, cfg, str(tmp_path / "bucketed"),
        pages_path=bdir,
        robots_path=f"{fixture_paths}/robots.parquet",
    )
    assert eng.pages_buckets == 8
    # partition pruning is visible in the physical plan: the bucket
    # filter lands in PartitionFilters, so only that partition's files
    # are scanned
    one = eng.pages.filter(F.col("bucket").isin([3])).select("url")
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "bucket" in plan
    eng.run()
    vis = {r["url"]: r for r in eng.read_visited().collect()}
    assert set(vis) == set(golden.visited)
    for url, row in golden.visited.items():
        assert vis[url]["is_blocked"] == row["is_blocked"], url
        assert vis[url]["is_complete"] == row["is_complete"], url
    seen = {r["url"] for r in eng.read_seen().collect()}
    assert seen == golden.seen


def test_cuckoo_seen_filter_identical_output(spark, fixture_paths, tmp_path):
    """The cuckoo seen-filter backend is gone. A store whose seen-filter
    snapshot it wrote (a "kind" entry, no bits) must refuse to resume with
    a ValueError naming the cause, not a KeyError, and leave the crawl's
    output identical; the way out the message names (fresh_seen=True)
    must open the store."""
    import numpy as np

    from crabspark.seen import Bloom

    cfg = cfg_with(free_crawl=True)
    data = gen_pages.generate(n_pages=N_PAGES, seed=42)
    golden = run_oracle(data["pages"], data["robots"], cfg)
    store = str(tmp_path / "cuckoo_seen")
    paths = dict(
        pages_path=f"{fixture_paths}/pages.parquet",
        robots_path=f"{fixture_paths}/robots.parquet",
    )
    eng = Engine(spark, cfg, store, **paths)
    eng.run()
    snap = eng.catalog.extra("bloom")
    assert snap
    # the removed backend's snapshot layout, written over the bloom's
    np.savez(snap + ".tmp", kind=np.array(["cuckoo"]),
             table=np.zeros((1024, 4), dtype=np.uint16), nb=np.int64(1024),
             saturated=np.int64(0), n_inserted=np.int64(0),
             n_deleted=np.int64(0))
    os.replace(snap + ".tmp.npz", snap)
    with pytest.raises(ValueError, match="cuckoo"):
        Engine(spark, cfg, store, **paths)
    vis = {r["url"]: r for r in eng.read_visited().collect()}
    assert set(vis) == set(golden.visited)
    for url, row in golden.visited.items():
        assert vis[url]["is_blocked"] == row["is_blocked"], url
        assert vis[url]["is_complete"] == row["is_complete"], url
    seen = {r["url"] for r in eng.read_seen().collect()}
    assert seen == golden.seen
    eng2 = Engine(spark, cfg, store, fresh_seen=True, **paths)
    assert isinstance(eng2.bloom, Bloom)
