"""Streaming page ingest: new parquet files -> canonicalized candidates."""

import os

import pytest

from crabspark.streaming import start_page_ingest
from crabspark.tables import Catalog
from fixtures import gen_pages
from tests.sparkutil import get_spark


@pytest.fixture(scope="module")
def spark():
    return get_spark()


def test_ingest_appends_candidates(spark, tmp_path):
    data = gen_pages.generate(n_pages=25, seed=42)
    pages_dir = str(tmp_path / "incoming")
    os.makedirs(pages_dir)
    # two "arrivals"
    half = len(data["pages"]) // 2
    for i, chunk in enumerate((data["pages"][:half], data["pages"][half:])):
        chunk.to_parquet(
            f"{pages_dir}/part-{i}.parquet", index=False,
            coerce_timestamps="us", allow_truncated_timestamps=True,
        )
    cat = Catalog(str(tmp_path / "cat"), spark)
    q = start_page_ingest(spark, pages_dir, cat, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    got = cat.read("candidates")
    assert got is not None
    rows = got.collect()
    assert len(rows) == len(data["pages"])
    canons = {r["canon"] for r in rows}
    assert "mega1.com" in canons  # the seed page, canonicalized
    assert all(r["sha1"] and len(r["sha1"]) == 40 for r in rows)


def test_ingest_replay_guard(spark, tmp_path):
    """A replayed micro-batch id (crash between catalog commit and Spark's
    checkpoint write) must not append duplicate candidate rows."""
    data = gen_pages.generate(n_pages=10, seed=7)
    pages_dir = str(tmp_path / "incoming")
    os.makedirs(pages_dir)
    data["pages"].to_parquet(
        f"{pages_dir}/part-0.parquet", index=False,
        coerce_timestamps="us", allow_truncated_timestamps=True,
    )
    cat = Catalog(str(tmp_path / "cat"), spark)
    q = start_page_ingest(spark, pages_dir, cat, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    n1 = cat.read("candidates").count()
    mark = int(cat.extra("ingest_last_batch", -1))
    assert mark >= 0
    # simulate the crash: drop Spark's commit-log entry for the last batch,
    # so the restarted query re-delivers it on the same checkpoint
    commits = tmp_path / "ckpt" / "commits"
    for f in (commits / str(mark), commits / f".{mark}.crc"):
        f.unlink(missing_ok=True)
    q2 = start_page_ingest(spark, pages_dir, cat, str(tmp_path / "ckpt"))
    q2.awaitTermination(120)
    assert (commits / str(mark)).exists()  # the batch really ran again
    assert cat.read("candidates").count() == n1


def test_fresh_checkpoint_on_marked_catalog_raises(spark, tmp_path):
    """A fresh checkpoint restarts batch ids at 0; on a catalog that
    already holds ingest_last_batch the replay guard would skip all of its
    captures, so the ingest refuses to start instead."""
    data = gen_pages.generate(n_pages=10, seed=7)
    pages = data["pages"]
    assert len(pages) == 16
    pq = dict(index=False, coerce_timestamps="us",
              allow_truncated_timestamps=True)
    first, second = str(tmp_path / "in1"), str(tmp_path / "in2")
    os.makedirs(first)
    os.makedirs(second)
    pages[:5].to_parquet(f"{first}/part-0.parquet", **pq)
    pages[5:].to_parquet(f"{second}/part-0.parquet", **pq)
    cat = Catalog(str(tmp_path / "cat"), spark)
    start_page_ingest(
        spark, first, cat, str(tmp_path / "ck1")
    ).awaitTermination(120)
    assert cat.read("candidates").count() == 5
    mark = int(cat.extra("ingest_last_batch"))
    fresh = str(tmp_path / "ck2")
    with pytest.raises(ValueError) as err:
        start_page_ingest(spark, second, cat, fresh)
    assert fresh in str(err.value)
    assert f"ingest_last_batch={mark}" in str(err.value)
    assert cat.read("candidates").count() == 5
    # a fresh catalog takes the 11 new captures through that checkpoint
    cat2 = Catalog(str(tmp_path / "cat2"), spark)
    start_page_ingest(spark, second, cat2, fresh).awaitTermination(120)
    assert cat2.read("candidates").count() == 11


def test_ingested_candidates_get_crawled(spark, tmp_path):
    """End-to-end stream -> crawl wiring (Engine.ingest_candidates):
    captures landing mid-crawl are folded into the frontier at a round
    boundary, crawled in later rounds as new DFS roots, enter the seen
    set (no double-queue on rediscovery), and repeated ingest calls are
    idempotent."""
    import os

    from crabspark.config import Config
    from crabspark.engine import Engine
    from pyspark.sql import functions as F

    data = gen_pages.generate(n_pages=30, seed=3)
    fixture = str(tmp_path / "fx")
    os.makedirs(fixture)
    data["pages"].to_parquet(
        f"{fixture}/pages.parquet", index=False,
        coerce_timestamps="us", allow_truncated_timestamps=True,
    )
    data["robots"].to_parquet(f"{fixture}/robots.parquet", index=False)

    cfg = Config.new()
    cfg.seeds = [gen_pages.SEED_URL]
    cfg.max_urls_to_visit = 5000
    cfg.scheduling = "throughput"
    cfg.per_host_quota = 4
    cfg.collect_images = False
    eng = Engine(
        spark, cfg, str(tmp_path / "work"),
        pages_path=f"{fixture}/pages.parquet",
        robots_path=f"{fixture}/robots.parquet",
    )
    eng.run(max_rounds=2)
    visited_before = {
        r["url"] for r in eng.visit_log().select("url").collect()
    }

    # captures "land" mid-crawl: pages of an unrelated island host that no
    # crawled page links to — only the stream can discover them
    import pandas as pd

    island = pd.DataFrame(
        {
            "url": [f"https://island.example/p{i}.html" for i in range(4)],
            "warc_ts": data["pages"]["warc_ts"].iloc[:4].tolist(),
            "html": [
                b"<html><body><p>island page</p></body></html>"
                for _ in range(4)
            ],
            "text": ["island page"] * 4,
            "lang": ["en"] * 4,
        }
    )
    incoming = str(tmp_path / "incoming")
    os.makedirs(incoming)
    island.to_parquet(
        f"{incoming}/part-0.parquet", index=False,
        coerce_timestamps="us", allow_truncated_timestamps=True,
    )
    # the island pages must also be fetchable: extend the engine's pages
    # view (simulates the pages snapshot growing with the stream)
    eng.pages = eng.pages.unionByName(
        spark.read.parquet(f"{incoming}/part-0.parquet")
    )

    cand_cat = Catalog(str(tmp_path / "cand"), spark)
    q = start_page_ingest(spark, incoming, cand_cat, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    n = eng.ingest_candidates(cand_cat)
    assert n == 4
    assert eng.ingest_candidates(cand_cat) == 0  # idempotent high-water

    eng.run()  # crawl to completion
    vl = eng.visit_log().select("url", "referrer", "round").collect()
    island_visits = [r for r in vl if r["url"].startswith("island.example")]
    assert len(island_visits) == 4
    assert all(r["referrer"] == "INGESTED" for r in island_visits)
    # crawled AFTER the ingest round boundary
    assert all(r["round"] >= 2 for r in island_visits)
    # no double visits anywhere
    urls = [r["url"] for r in vl]
    dupes = {u for u in urls if urls.count(u) > 1}
    assert not dupes or dupes <= {"mega1.com"}  # seed re-queue is legal
    # parity flags: island pages fetched ok and marked complete (leaves)
    visited = eng.read_visited()
    isl = visited.filter(F.col("url").startswith("island.example")).collect()
    assert len(isl) == 4
    assert all(r["is_complete"] and not r["is_blocked"] for r in isl)
    # ingested canons entered the seen set (dedup invariant holds)
    seen = {r["url"] for r in eng.read_seen().collect()}
    assert {r["url"] for r in isl} <= seen
    assert not visited_before & {r["url"] for r in isl}


def test_ingest_first_then_run_keeps_roots(spark, tmp_path):
    """Ingest BEFORE the first run(): the committed ingest delta makes the
    frontier exist, so run() does not seed over it (the seed overwrite
    would wipe the ingested roots), and the roots get crawled."""
    import pandas as pd

    from crabspark.config import Config
    from crabspark.engine import Engine
    from crabspark.streaming import start_page_ingest

    data = gen_pages.generate(n_pages=25, seed=42)
    fixture = str(tmp_path / "fx")
    os.makedirs(fixture)
    data["pages"].to_parquet(
        f"{fixture}/pages.parquet", index=False,
        coerce_timestamps="us", allow_truncated_timestamps=True,
    )
    data["robots"].to_parquet(f"{fixture}/robots.parquet", index=False)

    island = pd.DataFrame(
        {
            "url": ["https://isle.example/solo.html"],
            "warc_ts": pd.to_datetime(["2025-03-01T12:00:00Z"]),
            "html": [b"<html><body><p>alone</p></body></html>"],
            "text": ["alone"], "lang": ["en"],
        }
    )
    incoming = str(tmp_path / "incoming")
    os.makedirs(incoming)
    island.to_parquet(
        f"{incoming}/p0.parquet", index=False,
        coerce_timestamps="us", allow_truncated_timestamps=True,
    )
    cand_cat = Catalog(str(tmp_path / "cand"), spark)
    q = start_page_ingest(spark, incoming, cand_cat, str(tmp_path / "ck"))
    q.awaitTermination(120)

    cfg = Config.new()
    cfg.seeds = [gen_pages.SEED_URL]
    cfg.scheduling = "throughput"
    cfg.collect_images = False
    cfg.max_urls_to_visit = 50
    eng = Engine(
        spark, cfg, str(tmp_path / "work"),
        pages_path=f"{fixture}/pages.parquet",
        robots_path=f"{fixture}/robots.parquet",
    )
    eng.pages = eng.pages.unionByName(
        spark.read.parquet(f"{incoming}/p0.parquet")
    )
    assert eng.ingest_candidates(cand_cat) == 1
    eng.run(max_rounds=3)
    urls = [r["url"] for r in eng.visit_log().collect()]
    assert "isle.example/solo.html" in urls  # root survived run()'s init


def test_sink_aborts_stale_deltas_at_entry(spark, tmp_path, monkeypatch):
    """A batch whose commit fails after the sink staged its deltas leaves
    them staged in the Catalog; the restarted query replays the batch on
    the same checkpoint, and the candidate sink drops the stale deltas at
    entry, so every candidate lands exactly once."""
    data = gen_pages.generate(n_pages=10, seed=7)
    pages_dir = str(tmp_path / "incoming")
    os.makedirs(pages_dir)
    data["pages"].to_parquet(
        f"{pages_dir}/part-0.parquet", index=False,
        coerce_timestamps="us", allow_truncated_timestamps=True,
    )
    cat = Catalog(str(tmp_path / "cat"), spark)
    real_commit = Catalog.commit
    failed = []

    def commit_fails_once(self, rnd, extras=None):
        if not failed:
            failed.append(rnd)
            raise RuntimeError("simulated commit failure")
        return real_commit(self, rnd, extras)

    monkeypatch.setattr(Catalog, "commit", commit_fails_once)
    q = start_page_ingest(spark, pages_dir, cat, str(tmp_path / "ck"))
    with pytest.raises(Exception, match="simulated commit failure"):
        q.awaitTermination(120)
    assert failed and cat._pending  # the failed batch's deltas stay staged
    monkeypatch.undo()
    q2 = start_page_ingest(spark, pages_dir, cat, str(tmp_path / "ck"))
    q2.awaitTermination(120)
    urls = [r["url"] for r in cat.read("candidates").collect()]
    assert len(urls) == len(set(urls)) == len(data["pages"])


def test_warc_streaming_ingest_matches_parquet_ingest(spark, tmp_path):
    """Archives landing in a dir stream through the SAME idempotent
    candidate sink as parquet pages: identical canon/sha1 rows out."""
    from crabspark.streaming import start_warc_ingest
    from crabspark.warc import write_warc

    data = gen_pages.generate(n_pages=25, seed=42)
    pq_dir = str(tmp_path / "pq")
    os.makedirs(pq_dir)
    data["pages"].to_parquet(
        f"{pq_dir}/part-0.parquet", index=False,
        coerce_timestamps="us", allow_truncated_timestamps=True,
    )
    warc_dir = str(tmp_path / "warcs")
    write_warc(spark.read.parquet(pq_dir).repartition(2), warc_dir)

    cat_pq = Catalog(str(tmp_path / "cat_pq"), spark)
    start_page_ingest(
        spark, pq_dir, cat_pq, str(tmp_path / "ck1")
    ).awaitTermination(120)
    cat_wc = Catalog(str(tmp_path / "cat_wc"), spark)
    start_warc_ingest(
        spark, warc_dir, cat_wc, str(tmp_path / "ck2")
    ).awaitTermination(120)

    def rows(cat):
        return {
            (r["url"], r["canon"], r["sha1"], r["host"])
            for r in cat.read("candidates").collect()
        }

    got, want = rows(cat_wc), rows(cat_pq)
    assert got == want
    assert len(got) == len(data["pages"])
