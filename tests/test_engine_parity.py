"""End-to-end engine-vs-oracle parity on the fixture web.

- dfs-parity mode (batch=1): exact visit ORDER, flags, referrers, seen set,
  byte-identical extracted text (the BASELINE.json invariants);
- throughput mode (BSP batches): same visited SET / flags / texts when the
  cap does not bite (order legitimately differs);
- kill-and-resume: interrupting after round k and resuming yields the same
  final tables as the uninterrupted run.

One engine run per mode (module-scoped) — each run is a full multi-round
Spark crawl, so tests share them.
"""

import pytest

from crabspark.config import Config
from crabspark.engine import Engine
from fixtures import gen_pages
from tests.oracle import run_oracle
from tests.sparkutil import get_spark

N_PAGES = 40
SMALL_CAP = 18


@pytest.fixture(scope="module")
def spark():
    return get_spark()


@pytest.fixture(scope="module")
def fixture_paths(tmp_path_factory):
    out = tmp_path_factory.mktemp("fixture")
    gen_pages.write(str(out), n_pages=N_PAGES, seed=42)
    return str(out)


def make_cfg(**over):
    cfg = Config.new()
    cfg.free_crawl = True
    cfg.blacklist_domains = ["evil.com"]
    cfg.seeds = [gen_pages.SEED_URL]
    cfg.max_urls_to_visit = 5000
    cfg.collect_images = True
    for k, v in over.items():
        setattr(cfg, k, v)
    return cfg


def new_engine(spark, fixture_paths, work, cfg):
    return Engine(
        spark, cfg, work,
        pages_path=f"{fixture_paths}/pages.parquet",
        robots_path=f"{fixture_paths}/robots.parquet",
    )


@pytest.fixture(scope="module")
def golden_small():
    data = gen_pages.generate(n_pages=N_PAGES, seed=42)
    return run_oracle(data["pages"], data["robots"], make_cfg(max_urls_to_visit=SMALL_CAP))


@pytest.fixture(scope="module")
def golden_full():
    data = gen_pages.generate(n_pages=N_PAGES, seed=42)
    return run_oracle(data["pages"], data["robots"], make_cfg())


@pytest.fixture(scope="module")
def dfs_engine(spark, fixture_paths, tmp_path_factory):
    cfg = make_cfg(scheduling="dfs-parity", max_urls_to_visit=SMALL_CAP)
    eng = new_engine(spark, fixture_paths, str(tmp_path_factory.mktemp("dfs")), cfg)
    eng.run()
    return eng


@pytest.fixture(scope="module")
def tp_engine(spark, fixture_paths, tmp_path_factory):
    cfg = make_cfg(scheduling="throughput", per_host_quota=4)
    eng = new_engine(spark, fixture_paths, str(tmp_path_factory.mktemp("tp")), cfg)
    eng.run()
    return eng


# --- dfs-parity: exact order + state ---

def test_dfs_parity_exact_order(dfs_engine, golden_small):
    log = [
        (r["url"], r["referrer"])
        for r in dfs_engine.visit_log().select("url", "referrer").collect()
    ]
    assert log == golden_small.visit_order


def test_dfs_parity_visited_flags(dfs_engine, golden_small):
    vis = {r["url"]: r for r in dfs_engine.read_visited().collect()}
    assert set(vis) == set(golden_small.visited)
    for url, row in golden_small.visited.items():
        assert vis[url]["is_blocked"] == row["is_blocked"], url
        assert vis[url]["is_complete"] == row["is_complete"], url
        assert vis[url]["referrer"] == row["referrer"], url


def test_dfs_parity_seen_set(dfs_engine, golden_small):
    seen = {r["url"] for r in dfs_engine.read_seen().collect()}
    assert seen == golden_small.seen


def test_dfs_parity_text_byte_identical(dfs_engine, golden_small):
    fetched = dfs_engine.catalog.read("fetched")
    texts = {
        r["url"]: r["text"]
        for r in fetched.orderBy("round").select("url", "text").collect()
    }
    assert texts == golden_small.texts


# --- throughput mode: set equality ---

def test_throughput_same_sets(tp_engine, golden_full):
    vis = {r["url"]: r for r in tp_engine.read_visited().collect()}
    assert set(vis) == set(golden_full.visited)
    for url, row in golden_full.visited.items():
        assert vis[url]["is_blocked"] == row["is_blocked"], url
        assert vis[url]["is_complete"] == row["is_complete"], url
    seen = {r["url"] for r in tp_engine.read_seen().collect()}
    assert seen == golden_full.seen
    fetched = tp_engine.catalog.read("fetched")
    texts = {r["url"]: r["text"] for r in fetched.select("url", "text").collect()}
    assert texts == golden_full.texts


def test_images_metadata(tp_engine, golden_full):
    imgs = tp_engine.catalog.read("images")
    got = {(r["referrer"], r["url"], r["name"]) for r in imgs.collect()}
    want = {(t[0], t[1], t[2]) for t in golden_full.images}
    assert got == want


def test_metrics_recorded(tp_engine):
    m = tp_engine.catalog.read("metrics")
    rows = m.orderBy("round").collect()
    assert rows
    assert rows[-1]["total_visited"] == tp_engine.total_visited
    assert all(r["batch_n"] > 0 for r in rows)


def test_metrics_schema(tp_engine):
    """The persisted per-round metrics row, column by column."""
    m = tp_engine.catalog.read("metrics")
    assert [(f.name, f.dataType.simpleString()) for f in m.schema] == [
        ("round", "int"), ("batch_n", "bigint"), ("fetched_n", "bigint"),
        ("failed_n", "bigint"), ("cand_n", "bigint"), ("blocked_n", "bigint"),
        ("completed_dropped_n", "bigint"), ("child_n", "bigint"),
        ("img_n", "bigint"), ("total_visited", "bigint"),
        ("frontier_size", "bigint"), ("wall_s", "double"),
        ("compiles", "bigint"), ("jobs", "bigint"),
    ]
    rows = m.collect()
    assert all(r["jobs"] > 0 and r["compiles"] >= 0 for r in rows)


# --- kill-and-resume ---

def test_resume_equals_uninterrupted(spark, fixture_paths, tmp_path, tp_engine, golden_full):
    cfg = make_cfg(scheduling="throughput", per_host_quota=4)
    work = str(tmp_path / "resume_work")
    eng1 = new_engine(spark, fixture_paths, work, cfg)
    eng1.run(max_rounds=2)  # "kill" after 2 committed rounds
    eng2 = new_engine(spark, fixture_paths, work, cfg)  # new process
    assert eng2.total_visited == eng1.total_visited
    eng2.run()
    vis = {r["url"]: r for r in eng2.read_visited().collect()}
    assert set(vis) == set(golden_full.visited)
    seen = {r["url"] for r in eng2.read_seen().collect()}
    assert seen == golden_full.seen
    # and identical to the uninterrupted engine's final state
    vis_uninterrupted = {r["url"]: r for r in tp_engine.read_visited().collect()}
    assert {u: (r["is_blocked"], r["is_complete"]) for u, r in vis.items()} == {
        u: (r["is_blocked"], r["is_complete"]) for u, r in vis_uninterrupted.items()
    }


def test_time_travel_reproduces_round_states(tp_engine):
    """Iceberg-style snapshot reads against a REAL crawl: read_at at each
    committed round must reproduce exactly the cumulative state a reader
    saw at the end of that round (per-round visited_ops row counts match
    the metrics table's batch accounting), and the final snapshot equals
    the current read."""
    cat = tp_engine.catalog
    metrics = {
        r["round"]: r
        for r in cat.read("metrics").orderBy("round").collect()
    }
    rounds = cat.snapshots("visited_ops")
    assert rounds  # at least one committed round
    cum = 0
    for r in rounds:
        if r not in metrics:
            # the finalize round appends completion-mark ops only; it has
            # no crawl metrics row and must be the last snapshot
            assert r == rounds[-1], r
            break
        # visited_ops gains one row per visit + one per blocked op
        cum += metrics[r]["batch_n"] + metrics[r]["blocked_n"]
        assert cat.read_at("visited_ops", r).count() == cum, r
    assert cat.read_at("visited_ops", rounds[-1]).count() == \
        cat.read("visited_ops").count()


def test_link_graph_feeds_graph_operators(tp_engine, golden_full):
    """The crawl's edge list drives crabspark.graph directly: degree sums
    equal the distinct edge count, every linked-to child is in the seen
    set (the frontier-dedup invariant, src/tools.rs:146), and PageRank
    over the REAL crawl graph is bounded with its no-inlink floor."""
    import pyspark.sql.functions as F

    from crabspark.graph import node_degrees, pagerank_scores

    g = tp_engine.link_graph().cache()
    n_edges = g.count()
    assert n_edges > 0
    deg = node_degrees(g)
    sums = deg.agg(F.sum("outdeg").alias("o"), F.sum("indeg").alias("i")).first()
    assert sums["o"] == n_edges
    assert sums["i"] == n_edges
    # every dst was observed as a link => must be in the oracle's seen set
    children = {r["dst"] for r in g.select("dst").distinct().collect()}
    assert children <= golden_full.seen
    pr = pagerank_scores(g, iters=4).collect()
    assert len(pr) == deg.count()
    assert all(r["pr"] >= 0.5 - 1e-12 for r in pr)
    # a crawled web with converging links must separate hub from leaf
    assert max(r["pr"] for r in pr) > min(r["pr"] for r in pr)
    # host-level collapse partitions the edge list exactly; hosts are
    # real (extracted from the canonical URLs, non-empty)
    hg = tp_engine.host_graph().collect()
    assert sum(r["n_links"] for r in hg) == n_edges
    assert all(r["src_host"] and r["dst_host"] for r in hg)
    assert any(r["is_internal"] == 1 for r in hg)


def test_ephemeral_store_mode(spark, fixture_paths, tmp_path):
    """sqlite_enabled=false (reference src/sqlite.rs:9-14): the crawl runs
    and produces identical results, the caller's workdir is NEVER
    created/touched, and a second engine over the same (untouched)
    workdir starts from scratch instead of resuming — the reference's
    no-persistence semantics."""
    import os

    cfg = make_cfg(
        max_urls_to_visit=SMALL_CAP, collect_images=False,
        scheduling="throughput", per_host_quota=0, sqlite_enabled=False,
    )
    work = str(tmp_path / "never-created")
    eng = new_engine(spark, fixture_paths, work, cfg)
    eng.run()
    assert not os.path.exists(work)  # workdir untouched
    eph_root = eng._ephemeral_root
    assert eph_root and os.path.isdir(eph_root)
    visited = {r["url"] for r in eng.visit_log().select("url").collect()}
    assert len(visited) == SMALL_CAP

    # same crawl persistent: identical visited set
    cfg_p = make_cfg(
        max_urls_to_visit=SMALL_CAP, collect_images=False,
        scheduling="throughput", per_host_quota=0,
    )
    eng_p = new_engine(spark, fixture_paths, str(tmp_path / "persist"), cfg_p)
    eng_p.run()
    visited_p = {r["url"] for r in eng_p.visit_log().select("url").collect()}
    assert visited == visited_p

    # a NEW ephemeral engine: fresh state, re-crawls from the seed (no
    # resume), in a DIFFERENT temp root
    eng2 = new_engine(spark, fixture_paths, work, cfg)
    assert eng2._ephemeral_root != eph_root
    assert eng2.catalog.committed_round == -1
    eng2.run()
    assert {r["url"] for r in eng2.visit_log().select("url").collect()} == visited
    assert not os.path.exists(work)
