"""Config-matrix parity (FIXTURES.md §4): allowlist-only vs free_crawl,
robots on/off — engine vs oracle on the same fixture."""

import os

import pytest

from crabspark import tables
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


def compare(spark, fixture_paths, tmp_path, cfg, name, pages_path=None):
    data = gen_pages.generate(n_pages=N_PAGES, seed=42)
    golden = run_oracle(data["pages"], data["robots"], cfg)
    eng = Engine(
        spark, cfg, str(tmp_path / name),
        pages_path=pages_path or f"{fixture_paths}/pages.parquet",
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


def test_shuffle_fetch_join(spark, fixture_paths, tmp_path, monkeypatch):
    """Broadcast limit 0: every batch is past it, so the crawl runs the
    shuffle-hash fetch join — the 10^8-row-batch scale mode — with
    identical output."""
    monkeypatch.setattr("crabspark.engine.FETCH_BROADCAST_LIMIT", 0)
    cfg = cfg_with(free_crawl=True)
    compare(spark, fixture_paths, tmp_path, cfg, "shufflejoin")


def test_frontier_fold_every_round(spark, fixture_paths, tmp_path, monkeypatch):
    """Compaction threshold 0: every table is compacted after every round,
    and the adds-only frontier folds (physically drops visited rows) —
    parity must be unaffected, the frontier and metrics_partitions tables
    must each end as a single delta, and every table directory must hold
    exactly the deltas its manifest names."""
    monkeypatch.setattr(tables, "COMPACT_DELTAS", 0)
    cfg = cfg_with(free_crawl=True)
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
    assert eng.catalog.delta_count("metrics_partitions") == 1
    # folded frontier holds no visited canon
    frontier = eng.catalog.read("frontier")
    if frontier is not None:
        live = {r["canon"] for r in frontier.collect()}
        assert not (live & set(golden.visited))
    # disk census: no superseded or orphaned delta is left behind
    for name, tbl in eng.catalog.state["tables"].items():
        on_disk = sorted(os.listdir(os.path.join(eng.catalog.root, name)))
        assert on_disk == sorted(
            os.path.basename(d["path"]) for d in tbl["deltas"]
        ), name


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
    """A pages snapshot in the removed url-hash-bucketed layout (``bucket=``
    partition directories plus its ``_crabspark_buckets.json`` marker)
    still loads, as ordinary partitioned parquet read by the one plain
    fetch scan: crawl results identical to the oracle."""
    from pyspark.sql import functions as F

    bdir = str(tmp_path / "pages_bucketed")
    (
        spark.read.parquet(f"{fixture_paths}/pages.parquet")
        .withColumn("bucket", F.pmod(F.xxhash64("url"), F.lit(8)).cast("int"))
        .write.partitionBy("bucket")
        .parquet(bdir)
    )
    with open(os.path.join(bdir, "_crabspark_buckets.json"), "w") as f:
        f.write('{"n_buckets": 8}')
    cfg = cfg_with(free_crawl=True)
    compare(spark, fixture_paths, tmp_path, cfg, "bucketed", pages_path=bdir)


def test_cuckoo_seen_filter_identical_output(spark, fixture_paths, tmp_path):
    """The seen filter is a cache of the ``seen`` table, rebuilt at open.
    A store left with a seen-filter snapshot in the removed cuckoo layout
    (a "kind" entry, no bits) and a ``bloom`` manifest extra naming it
    opens without ``fresh_seen``, ignores both, and rebuilds the same bits
    the crawling Engine held; its output stays identical to the oracle."""
    import numpy as np

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
    # the removed backend's snapshot layout, named by a committed extra
    snap = os.path.join(store, "bloom-000099.npy")
    np.savez(snap + ".tmp", kind=np.array(["cuckoo"]),
             table=np.zeros((1024, 4), dtype=np.uint16), nb=np.int64(1024),
             saturated=np.int64(0), n_inserted=np.int64(0),
             n_deleted=np.int64(0))
    os.replace(snap + ".tmp.npz", snap)
    eng.catalog.commit(eng.catalog.committed_round, {"bloom": snap})
    eng2 = Engine(spark, cfg, store, **paths)
    assert eng.bloom.bits.any()
    assert (eng2.bloom.bits == eng.bloom.bits).all()
    vis = {r["url"]: r for r in eng2.read_visited().collect()}
    assert set(vis) == set(golden.visited)
    for url, row in golden.visited.items():
        assert vis[url]["is_blocked"] == row["is_blocked"], url
        assert vis[url]["is_complete"] == row["is_complete"], url
    seen = {r["url"] for r in eng2.read_seen().collect()}
    assert seen == golden.seen
