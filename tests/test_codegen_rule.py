"""Crawl rounds run interpreted: each round and ``finalize`` run without
Spark code generation (``engine.INTERPRETED_CONFS``), so a steady round
compiles (almost) nothing; the crawl output is the oracle's compiled or
not, and the caller's codegen settings survive ``run()``, even a failed
round."""

import pytest

from crabspark import engine as engine_mod
from crabspark.config import Config
from crabspark.engine import Engine
from crabspark.tables import Catalog
from fixtures import gen_pages
from tests.oracle import run_oracle
from tests.sparkutil import get_spark

N_PAGES = 40
CODEGEN_CONFS = tuple(engine_mod.INTERPRETED_CONFS)


@pytest.fixture(scope="module")
def spark():
    return get_spark()


@pytest.fixture(scope="module")
def fixture_paths(tmp_path_factory):
    out = tmp_path_factory.mktemp("fixture")
    gen_pages.write(str(out), n_pages=N_PAGES, seed=42)
    return str(out)


def make_cfg():
    cfg = Config.new()
    cfg.free_crawl = True
    cfg.blacklist_domains = ["evil.com"]
    cfg.seeds = [gen_pages.SEED_URL]
    cfg.max_urls_to_visit = 5000
    cfg.scheduling = "throughput"
    cfg.per_host_quota = 4
    return cfg


@pytest.fixture(scope="module")
def golden():
    data = gen_pages.generate(n_pages=N_PAGES, seed=42)
    return run_oracle(data["pages"], data["robots"], make_cfg())


def new_engine(spark, fixture_paths, work):
    return Engine(
        spark, make_cfg(), str(work),
        pages_path=f"{fixture_paths}/pages.parquet",
        robots_path=f"{fixture_paths}/robots.parquet",
    )


def caller_confs(spark):
    return {k: spark.conf.get(k, None) for k in CODEGEN_CONFS}


def crawl(spark, fixture_paths, work, golden):
    """Run a crawl, check it against the oracle and the caller's codegen
    confs, and return its per-round compile counts."""
    spark.conf.set("spark.sql.codegen.wholeStage", "true")  # set by caller
    spark.conf.unset("spark.sql.codegen.factoryMode")  # left at default
    before = caller_confs(spark)
    eng = new_engine(spark, fixture_paths, work)
    eng.run()
    assert caller_confs(spark) == before
    vis = {r["url"]: r for r in eng.read_visited().collect()}
    assert set(vis) == set(golden.visited)
    for url, row in golden.visited.items():
        assert vis[url]["is_blocked"] == row["is_blocked"], url
        assert vis[url]["is_complete"] == row["is_complete"], url
    assert {r["url"] for r in eng.read_seen().collect()} == golden.seen
    texts = {
        r["url"]: r["text"]
        for r in eng.catalog.read("fetched").select("url", "text").collect()
    }
    assert texts == golden.texts
    m = eng.catalog.read("metrics").orderBy("round").collect()
    assert len(m) > 2
    return [r["compiles"] for r in m]


def test_rounds_compile_nothing(spark, fixture_paths, tmp_path, golden):
    compiles = crawl(spark, fixture_paths, tmp_path / "w", golden)
    assert all(c <= 5 for c in compiles[1:]), compiles


def test_compiled_rounds_match_oracle(
    spark, fixture_paths, tmp_path, golden, monkeypatch
):
    """Under the caller's codegen (no interpreted confs) the same crawl
    compiles, and the persisted counts show it."""
    monkeypatch.setattr(engine_mod, "INTERPRETED_CONFS", {})
    compiles = crawl(spark, fixture_paths, tmp_path / "w", golden)
    assert sum(compiles) > 0, compiles


def test_failed_round_restores_codegen_confs(
    spark, fixture_paths, tmp_path, monkeypatch
):
    spark.conf.set("spark.sql.codegen.wholeStage", "true")
    spark.conf.unset("spark.sql.codegen.factoryMode")
    before = caller_confs(spark)
    during = []

    def boom(self, name, df, rnd):
        during.append(caller_confs(spark))
        raise RuntimeError("simulated write failure")

    eng = new_engine(spark, fixture_paths, tmp_path / "w")
    monkeypatch.setattr(Catalog, "append", boom)
    with pytest.raises(RuntimeError, match="simulated write failure"):
        eng.run()
    assert during and during[0] == engine_mod.INTERPRETED_CONFS
    assert caller_confs(spark) == before
