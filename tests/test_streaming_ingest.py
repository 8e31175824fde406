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
    assert int(cat.extra("ingest_last_batch", -1)) >= 0
    # simulate the replay: fresh checkpoint dir -> Spark re-delivers batch 0
    q2 = start_page_ingest(spark, pages_dir, cat, str(tmp_path / "ckpt2"))
    q2.awaitTermination(120)
    assert cat.read("candidates").count() == n1


def _pages_rows(urls_ts):
    import datetime
    import pandas as pd
    rows = []
    for url, minutes in urls_ts:
        ts = datetime.datetime(2025, 3, 1, 12, 0, tzinfo=datetime.timezone.utc)
        ts += datetime.timedelta(minutes=minutes)
        rows.append({"url": url, "warc_ts": ts, "html": b"<html></html>",
                     "text": "", "lang": "en"})
    return pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"])


def test_host_rate_window_and_late_drop(spark, tmp_path):
    """Windowed per-host rate with watermark: windows finalize exactly once
    (append mode) when the watermark passes; captures later than the
    watermark are dropped, across a checkpoint restart."""
    from crabspark.streaming import start_host_rate

    pages_dir = str(tmp_path / "incoming")
    os.makedirs(pages_dir)
    # batch 1: window [12:00,12:10) has 3 a.com + 1 b.com; a straggler at
    # +120min drives the watermark to 12:00+120-30 = 13:30 > 12:10, so the
    # first window finalizes in this run
    _pages_rows([
        ("https://a.com/1", 1), ("https://a.com/2", 5), ("https://a.com/3", 9),
        ("https://b.com/1", 2), ("https://a.com/later", 120),
    ]).to_parquet(f"{pages_dir}/f1.parquet", index=False,
                  coerce_timestamps="us", allow_truncated_timestamps=True)
    cat = Catalog(str(tmp_path / "cat"), spark)
    q = start_host_rate(spark, pages_dir, cat, str(tmp_path / "ck"))
    q.awaitTermination(120)
    got = {
        (r["win_start"].minute, r["host"]): r["n_pages"]
        for r in cat.read("host_rate").collect()
    }
    assert got[(0, "a.com")] == 3 and got[(0, "b.com")] == 1

    # batch 2 (restart, same checkpoint): a LATE capture for the finalized
    # [12:00,12:10) window — must be dropped, not re-emitted
    _pages_rows([("https://a.com/late", 3)]).to_parquet(
        f"{pages_dir}/f2.parquet", index=False,
        coerce_timestamps="us", allow_truncated_timestamps=True)
    q2 = start_host_rate(spark, pages_dir, cat, str(tmp_path / "ck"))
    q2.awaitTermination(120)
    per_key = {}
    for r in cat.read("host_rate").collect():
        k = (r["win_start"].minute, r["host"])
        per_key[k] = per_key.get(k, 0) + 1
    assert per_key[(0, "a.com")] == 1  # emitted once, late row dropped
    got2 = {
        (r["win_start"].minute, r["host"]): r["n_pages"]
        for r in cat.read("host_rate").collect()
    }
    assert got2[(0, "a.com")] == 3  # unchanged by the late capture


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


def test_polite_gate_stateful_across_restart(spark, tmp_path):
    """Custom stateful op (applyInPandasWithState): per-host admission
    with a 1s event-time delay. The state (last admitted ts) must survive
    a query restart on the same checkpoint — the batch-2 capture 300ms
    after batch-1's last admission must be DEFERRED, which only happens
    if state carried over."""
    import datetime

    import pandas as pd

    from crabspark.streaming import start_polite_gate

    def rows(urls_secs):
        base = datetime.datetime(
            2025, 3, 1, 12, 0, tzinfo=datetime.timezone.utc
        )
        return pd.DataFrame(
            [
                {
                    "url": u,
                    "warc_ts": base + datetime.timedelta(seconds=s),
                    "html": b"<html></html>", "text": "", "lang": "en",
                }
                for u, s in urls_secs
            ],
            columns=["url", "warc_ts", "html", "text", "lang"],
        )

    pages_dir = str(tmp_path / "incoming")
    os.makedirs(pages_dir)
    rows([
        ("https://a.com/1", 0.0), ("https://a.com/2", 0.4),
        ("https://a.com/3", 1.5), ("https://b.com/1", 0.2),
    ]).to_parquet(f"{pages_dir}/f1.parquet", index=False,
                  coerce_timestamps="us", allow_truncated_timestamps=True)
    cat = Catalog(str(tmp_path / "cat"), spark)
    q = start_polite_gate(spark, pages_dir, cat, str(tmp_path / "ck"))
    q.awaitTermination(120)
    got = {r["url"]: (r["allowed"], r["wait_ms"])
           for r in cat.read("polite_log").collect()}
    assert got["https://a.com/1"] == (True, 0)
    assert got["https://a.com/2"] == (False, 600)  # 0.4s after admission
    assert got["https://a.com/3"] == (True, 0)     # 1.5s >= 1s delay
    assert got["https://b.com/1"] == (True, 0)     # independent host state

    # restart on the same checkpoint: 1.8s is only 300ms after the carried
    # last-admission (1.5s) -> deferred; 3.0s -> admitted
    rows([("https://a.com/4", 1.8), ("https://a.com/5", 3.0)]).to_parquet(
        f"{pages_dir}/f2.parquet", index=False,
        coerce_timestamps="us", allow_truncated_timestamps=True)
    q2 = start_polite_gate(spark, pages_dir, cat, str(tmp_path / "ck"))
    q2.awaitTermination(120)
    got2 = {r["url"]: (r["allowed"], r["wait_ms"])
            for r in cat.read("polite_log").collect()}
    assert got2["https://a.com/4"] == (False, 700)
    assert got2["https://a.com/5"] == (True, 0)


def test_neardup_gate_incremental_dedup(spark, tmp_path):
    """Streaming MinHash-LSH dedup at ingest: near-dups of docs admitted
    in EARLIER batches are flagged against the persistent store;
    batch-internal near-dups are flagged against the earlier doc_id;
    only clean docs enter the store."""
    import pandas as pd

    from crabspark.streaming import start_neardup_gate

    base_a = ("spark streams batches of rows through vector hash tables "
              "while the query planner folds constant filters early")
    base_b = ("the crawler visits pages in priority order and records "
              "every seen url inside a partitioned bloom filter store")
    base_c = ("token counts and stopword ratios gate documents before "
              "the training pipeline shards them across the cluster")

    def doc(i, text, src="s"):
        return {"doc_id": i, "text": text, "lang": "en", "source": src}

    docs_dir = str(tmp_path / "docs")
    os.makedirs(docs_dir)
    pd.DataFrame([doc(1, base_a), doc(2, base_b)]).to_parquet(
        f"{docs_dir}/f1.parquet", index=False)
    cat = Catalog(str(tmp_path / "cat"), spark)
    q = start_neardup_gate(spark, docs_dir, cat, str(tmp_path / "ck"))
    q.awaitTermination(120)
    assert cat.read("neardup_log") is None  # both distinct
    assert sorted(
        r["doc_id"] for r in cat.read("sig_shingles").collect()
    ) == [1, 2]

    # batch 2: doc 3 near-dups the STORED doc 1 (one word changed);
    # doc 4 is new; doc 5 near-dups doc 4 within the same batch
    near_a = base_a.replace("early", "eagerly")
    near_c = base_c.replace("cluster", "fleet")
    pd.DataFrame(
        [doc(3, near_a), doc(4, base_c), doc(5, near_c)]
    ).to_parquet(f"{docs_dir}/f2.parquet", index=False)
    q2 = start_neardup_gate(spark, docs_dir, cat, str(tmp_path / "ck"))
    q2.awaitTermination(120)
    log = {r["doc_id"]: r["dup_of"] for r in cat.read("neardup_log").collect()}
    assert log == {3: 1, 5: 4}
    assert sorted(
        r["doc_id"] for r in cat.read("sig_shingles").collect()
    ) == [1, 2, 4]
    # replay guard: rerunning with the same checkpoint changes nothing
    q3 = start_neardup_gate(spark, docs_dir, cat, str(tmp_path / "ck"))
    q3.awaitTermination(120)
    assert len(cat.read("neardup_log").collect()) == 2


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


def test_quality_gate_filters_at_ingest(spark, tmp_path):
    """Streaming Gopher gate: per-batch keep/drop with the SAME verdict
    expression as the batch quality_filter; rejects audited with reasons;
    replay of a committed batch id is a no-op."""
    import pandas as pd

    from crabspark.streaming import start_quality_gate

    long_ok = ("the quick planner folds constants and the executor streams "
               "rows to a hash table while the sink commits atomically")
    def doc(i, text, src="s"):
        return {"doc_id": i, "text": text, "lang": "en", "source": src}

    docs_dir = str(tmp_path / "docs")
    os.makedirs(docs_dir)
    # wave 1: doc 1 keeps; doc 2 too_short (<10 tokens)
    pd.DataFrame([doc(1, long_ok), doc(2, "tiny doc here")]).to_parquet(
        f"{docs_dir}/f1.parquet", index=False)
    cat = Catalog(str(tmp_path / "cat"), spark)
    q = start_quality_gate(spark, docs_dir, cat, str(tmp_path / "ck"))
    q.awaitTermination(120)
    assert [r["doc_id"] for r in cat.read("clean_docs").collect()] == [1]
    log = {r["doc_id"]: r["verdict"] for r in cat.read("quality_log").collect()}
    assert log == {2: "too_short"}

    # wave 2: doc 3 low-stopword junk (no stopwords at all), doc 4 keeps
    junk = " ".join(f"tok{i}" for i in range(40))
    pd.DataFrame([doc(3, junk), doc(4, long_ok)]).to_parquet(
        f"{docs_dir}/f2.parquet", index=False)
    q2 = start_quality_gate(spark, docs_dir, cat, str(tmp_path / "ck"))
    q2.awaitTermination(120)
    assert sorted(
        r["doc_id"] for r in cat.read("clean_docs").collect()
    ) == [1, 4]
    log = {r["doc_id"]: r["verdict"] for r in cat.read("quality_log").collect()}
    assert log == {2: "too_short", 3: "low_stopword"}

    # verdict parity with the batch operator over the same rows
    from crabspark import queries as Q
    from pyspark.sql import functions as F
    allrows = spark.createDataFrame(
        [doc(1, long_ok), doc(2, "tiny doc here"), doc(3, junk),
         doc(4, long_ok)],
        "doc_id long, text string, lang string, source string",
    ).withColumn("toks", F.expr(Q._TOK_SPARK))
    batch_verdicts = {
        r["doc_id"]: r["v"]
        for r in allrows.select(
            "doc_id", Q.quality_verdict_expr().alias("v")
        ).collect()
    }
    assert batch_verdicts == {1: "keep", 2: "too_short",
                              3: "low_stopword", 4: "keep"}

    # replay guard: same checkpoint -> no duplicates
    q3 = start_quality_gate(spark, docs_dir, cat, str(tmp_path / "ck"))
    q3.awaitTermination(120)
    assert sorted(
        r["doc_id"] for r in cat.read("clean_docs").collect()
    ) == [1, 4]


def test_sink_aborts_stale_deltas_at_entry(spark, tmp_path, monkeypatch):
    """A batch whose commit fails after the sink staged its deltas leaves
    them staged in the Catalog; the restarted query replays the batch on
    the same checkpoint, and the shared sink drops the stale deltas at
    entry, so every doc lands exactly once in clean_docs or quality_log."""
    import pandas as pd

    from crabspark.streaming import start_quality_gate

    long_ok = ("the quick planner folds constants and the executor streams "
               "rows to a hash table while the sink commits atomically")
    docs_dir = str(tmp_path / "docs")
    os.makedirs(docs_dir)
    pd.DataFrame(
        [{"doc_id": i, "text": long_ok if i % 2 else "tiny doc here",
          "lang": "en", "source": "s"} for i in range(1, 7)]
    ).to_parquet(f"{docs_dir}/f1.parquet", index=False)
    cat = Catalog(str(tmp_path / "cat"), spark)
    real_commit = Catalog.commit
    failed = []

    def commit_fails_once(self, rnd, extras=None):
        if not failed:
            failed.append(rnd)
            raise RuntimeError("simulated commit failure")
        return real_commit(self, rnd, extras)

    monkeypatch.setattr(Catalog, "commit", commit_fails_once)
    q = start_quality_gate(spark, docs_dir, cat, str(tmp_path / "ck"))
    with pytest.raises(Exception, match="simulated commit failure"):
        q.awaitTermination(120)
    assert failed and cat._pending  # the failed batch's deltas stay staged
    monkeypatch.undo()
    q2 = start_quality_gate(spark, docs_dir, cat, str(tmp_path / "ck"))
    q2.awaitTermination(120)
    kept = [r["doc_id"] for r in cat.read("clean_docs").collect()]
    dropped = [r["doc_id"] for r in cat.read("quality_log").collect()]
    assert sorted(kept + dropped) == list(range(1, 7))
    assert sorted(kept) == [1, 3, 5]


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


def test_warc_export_sink_rolls_batches_and_replays_safely(spark, tmp_path):
    """start_warc_export: pages parquet landing in a dir roll into
    per-batch WARC archive sets (per-record gzip + CDX sidecars);
    read_warc/read_cdx over the export root see the union across batch
    subdirs; a replayed batch (marker present) is a no-op and a
    half-written batch (no marker) is wiped and rewritten."""
    import pandas as pd

    from crabspark.streaming import start_warc_export
    from crabspark.warc import read_cdx, read_warc

    src = str(tmp_path / "pages_in")
    out = str(tmp_path / "warc_out")
    ck = str(tmp_path / "ck")
    os.makedirs(src)

    def drop(dirpath, n, offset, name):
        pd.DataFrame(
            {
                "url": [f"http://h{offset + i}.example/p" for i in range(n)],
                "warc_ts": pd.to_datetime(["2024-06-01T00:00:00"] * n)
                .astype("datetime64[us]"),  # Spark reads us, not ns INT64
                "html": [f"<html>{offset + i}</html>".encode() for i in range(n)],
                "text": ["x"] * n,
                "lang": pd.Series([None] * n, dtype=object).astype("string"),
            }
        ).to_parquet(os.path.join(dirpath, name), index=False)

    drop(src, 5, 0, "a.parquet")
    q = start_warc_export(spark, src, out, ck)
    q.awaitTermination(120)

    drop(src, 3, 100, "b.parquet")
    q = start_warc_export(spark, src, out, ck)
    q.awaitTermination(120)

    markers = sorted(f for f in os.listdir(out) if f.endswith(".done"))
    assert len(markers) == 2, markers
    back = read_warc(spark, out)
    assert back.count() == 8
    idx = read_cdx(spark, out)
    assert idx.count() == 8
    # every CDX row resolves: (file within its batch subdir, offset, length)
    rows = idx.collect()
    subdirs = {f for f in os.listdir(out) if os.path.isdir(os.path.join(out, f))}
    assert len(subdirs) == 2
    from crabspark.warc import fetch_record

    r = rows[0]
    sub = next(s for s in subdirs if r.file.startswith(s))
    rec = fetch_record(os.path.join(out, sub), r.file, r.offset, r.length)
    assert rec["headers"]["warc-target-uri"] == r.url

    # crash simulation: delete one marker + corrupt its subdir -> the same
    # batch replays clean on a fresh checkpoint'd run of JUST that data
    # (marker semantics: present == complete+immutable)
    victim = markers[0].replace("_batch-", "").replace(".done", "")
    os.remove(os.path.join(out, f"_batch-{victim}.done"))
    with open(os.path.join(out, victim, "stale-junk.warc.gz"), "wb") as f:
        f.write(b"garbage")
    ck2 = str(tmp_path / "ck2")
    src2 = str(tmp_path / "pages_in2")
    os.makedirs(src2)
    drop(src2, 5, 0, "a.parquet")  # same 5 rows as the victim batch
    # fresh checkpoint -> batch_id restarts at 0 == victim's id
    q = start_warc_export(spark, src2, out, ck2)
    q.awaitTermination(120)
    assert not os.path.exists(os.path.join(out, victim, "stale-junk.warc.gz"))
    assert read_warc(spark, out).count() == 8
