"""Frontier crash consistency and fold mechanics (the adds-only delta chain).

The frontier is one catalog table: seeds are an overwrite delta, every
round appends its children as one delta, and the fold
(``Engine._fold_frontier``) is the frontier's ``Catalog.compact``: it
publishes the live rows as a single overwrite delta, then removes the
superseded ones from the manifest and from disk. Atomicity lives in the
catalog manifest, so a kill at any point leaves either the last committed
rows or the folded rows, never a mix. Checked here:

- a failed round and an uncommitted (staged) delta leave the committed
  frontier unchanged;
- the fold keeps the live rows, leaves one overwrite delta, removes the
  superseded directories, and a kill at its removal step reads the folded
  set, with the leftover directories removed by the next fold;
- a kill inside ``ingest_candidates`` or between the seed write and the
  init commit rolls back cleanly, and the retry queues each row once;
- an ingest right after the seed init (or a ``fresh_seen`` re-seed),
  before any round, commits;
- the crash matrix: a kill at every write, commit and removal step of a
  frontier append and a fold;
- the in-process round pointer after ``run()`` is the one a reopened
  Engine starts at;
- the bloom is a cache of the committed ``seen`` table: a reopened Engine
  rebuilds the same bits, no snapshot file is written, and the rebuild
  collects at most one bitmap per default-parallelism slot;
- a store written with the removed host-bucketed layout is refused.

Kills are simulated by monkeypatching ``Catalog``, the parquet writer,
``shutil.rmtree`` or ``os.replace`` to raise at the chosen step; recovery
is a fresh ``Catalog``/``Engine`` over the same workdir.
"""

import os
import shutil

import pandas as pd
import pytest
from pyspark.sql import DataFrameWriter
from pyspark.sql import functions as F

from crabspark import tables, urlkit
from crabspark.config import Config
from crabspark.engine import FRONTIER_SCHEMA, Engine
from crabspark.tables import Catalog
from fixtures import gen_pages
from tests.sparkutil import get_spark

N_PAGES = 40
OPS = "url string, referrer string, round int, priority string, op string"


@pytest.fixture(scope="module")
def spark():
    return get_spark()


@pytest.fixture(scope="module")
def data(tmp_path_factory):
    out = tmp_path_factory.mktemp("fixture_frontier")
    gen_pages.write(str(out), n_pages=N_PAGES, seed=11)
    return str(out)


def _cfg() -> Config:
    c = Config.new()
    c.seeds = [gen_pages.SEED_URL]
    c.max_urls_to_visit = 5000
    c.scheduling = "throughput"
    c.per_host_quota = 3
    c.collect_images = False
    return c


def _engine(spark, data, work, cfg=None) -> Engine:
    return Engine(
        spark, cfg or _cfg(), str(work),
        pages_path=f"{data}/pages.parquet",
        robots_path=f"{data}/robots.parquet",
    )


def _rows(i0, i1, added_round):
    return [
        (f"https://h{i % 3}.org/p{i}", f"c{i}", f"s{i}", f"h{i % 3}.org",
         "r", f"{i:04d}", 0, added_round)
        for i in range(i0, i1)
    ]


def _store(spark, root):
    """A committed two-round frontier: seeds c0..c5 (overwrite, round 0),
    children c6..c7 (append, round 1), and round-1 visits of c0, c2, c4.
    Live rows: c1, c3, c5, c6, c7."""
    cat = Catalog(str(root), spark)
    cat.overwrite(
        "frontier", spark.createDataFrame(_rows(0, 6, 0), FRONTIER_SCHEMA), 0
    )
    cat.commit(0)
    cat.append(
        "frontier", spark.createDataFrame(_rows(6, 8, 1), FRONTIER_SCHEMA), 1
    )
    cat.append(
        "visited_ops",
        spark.createDataFrame(
            [(f"c{i}", "r", 1, f"{i:04d}", "visit") for i in (0, 2, 4)], OPS
        ),
        1,
    )
    cat.commit(1)
    return cat


ALL = [f"c{i}" for i in range(8)]
LIVE = ["c1", "c3", "c5", "c6", "c7"]


def _canons(df):
    return sorted(r["canon"] for r in df.select("canon").collect())


def _committed(spark, root):
    """The committed frontier table's canons, read by a fresh catalog."""
    return _canons(Catalog(str(root), spark).read("frontier"))


def _live(eng):
    return _canons(eng._live_frontier(eng.catalog.read("visited_ops")))


def _frontier_dirs(root):
    return sorted(os.listdir(os.path.join(str(root), "frontier")))


def test_insert_rollback_removes_uncommitted_files(
    spark, data, tmp_path, monkeypatch
):
    """A round whose edges write raises aborts: the frontier delta it
    staged is never committed, and the round can be retried."""
    eng = _engine(spark, data, tmp_path / "wd")
    eng.run(max_rounds=0)  # seed init only
    before = _committed(spark, tmp_path / "wd")
    deltas = list(eng.catalog.state["tables"]["frontier"]["deltas"])
    committed_round = eng.catalog.committed_round
    real_append = Catalog.append

    def failing_append(self, name, df, rnd):
        if name == "edges":
            raise RuntimeError("edges write failed")
        return real_append(self, name, df, rnd)

    monkeypatch.setattr(Catalog, "append", failing_append)
    with pytest.raises(RuntimeError, match="edges write failed"):
        eng._round()
    monkeypatch.undo()
    assert eng.catalog._pending == []
    assert eng.catalog.state["tables"]["frontier"]["deltas"] == deltas
    assert eng.catalog.committed_round == committed_round
    assert _committed(spark, tmp_path / "wd") == before
    # the retried round commits normally
    assert eng._round()
    assert eng.catalog.committed_round == committed_round + 1
    assert len(_committed(spark, tmp_path / "wd")) > len(before)


def test_crash_recovery_drops_uncommitted_insert(spark, data, tmp_path):
    """A frontier delta staged with no manifest commit (a crashed round)
    is invisible to a fresh Engine over the same workdir."""
    cat = _store(spark, tmp_path / "wd")
    cat.append(
        "frontier", spark.createDataFrame(_rows(8, 9, 2), FRONTIER_SCHEMA), 2
    )
    assert len(_frontier_dirs(tmp_path / "wd")) == 3  # the orphan is on disk
    eng = _engine(spark, data, tmp_path / "wd")
    assert eng.round == 2
    assert _canons(eng.catalog.read("frontier")) == ALL
    assert _live(eng) == LIVE


def test_replace_folds_and_preserves_mask(spark, data, tmp_path):
    """The fold leaves one overwrite delta holding exactly the live rows
    (added_round and priority preserved) and removes the superseded
    delta directories."""
    _store(spark, tmp_path / "wd")
    eng = _engine(spark, data, tmp_path / "wd")
    live_rows = sorted(
        tuple(r) for r in
        eng._live_frontier(eng.catalog.read("visited_ops")).collect()
    )
    old_dirs = _frontier_dirs(tmp_path / "wd")
    eng._fold_frontier(2)
    deltas = eng.catalog.state["tables"]["frontier"]["deltas"]
    assert [(d["mode"], d["round"]) for d in deltas] == [("overwrite", 2)]
    assert eng.catalog.extra("frontier_folded_round") == 2
    assert _committed(spark, tmp_path / "wd") == LIVE
    eng2 = _engine(spark, data, tmp_path / "wd")
    assert sorted(
        tuple(r) for r in
        eng2._live_frontier(eng2.catalog.read("visited_ops")).collect()
    ) == live_rows
    assert not set(old_dirs) & set(_frontier_dirs(tmp_path / "wd"))


def test_fold_crash_rolls_forward(spark, data, tmp_path, monkeypatch):
    """A kill at the fold's first removal step, after its commit, reads
    the folded set; the superseded directories are left on disk and the
    next fold removes them."""
    _store(spark, tmp_path / "wd")
    eng = _engine(spark, data, tmp_path / "wd")
    old_dirs = _frontier_dirs(tmp_path / "wd")

    def killed(*_a, **_k):
        raise RuntimeError("simulated crash")

    monkeypatch.setattr(tables.shutil, "rmtree", killed)
    with pytest.raises(RuntimeError, match="simulated crash"):
        eng._fold_frontier(2)
    monkeypatch.undo()
    assert _committed(spark, tmp_path / "wd") == LIVE
    eng2 = _engine(spark, data, tmp_path / "wd")
    assert _live(eng2) == LIVE
    assert set(old_dirs) <= set(_frontier_dirs(tmp_path / "wd"))
    eng2._fold_frontier(3)
    deltas = eng2.catalog.state["tables"]["frontier"]["deltas"]
    assert _frontier_dirs(tmp_path / "wd") == [
        os.path.basename(d["path"]) for d in deltas
    ]
    assert not set(old_dirs) & set(_frontier_dirs(tmp_path / "wd"))
    assert _committed(spark, tmp_path / "wd") == LIVE


def _candidates(spark, root, urls):
    """A streaming-ingest candidates catalog holding ``urls`` as batch 0
    (the shape crabspark.streaming.start_page_ingest commits)."""
    parsed = urlkit.parse_serialize(pd.Series(urls, dtype=object))
    canon = urlkit.canonicalize(parsed["ser"])
    rows = list(zip(
        parsed["ser"], canon, urlkit.sha1_hex(canon), parsed["domain"],
        [0] * len(urls),
    ))
    cat = Catalog(str(root), spark)
    cat.append(
        "candidates",
        spark.createDataFrame(
            rows,
            "url string, canon string, sha1 string, host string, "
            "discovered_batch long",
        ),
        0,
    )
    cat.commit(0, {"ingest_last_batch": 0})
    return cat


def test_ingest_guard_rolls_back_unconfirmed_insert(
    spark, data, tmp_path, monkeypatch
):
    """A kill inside ingest_candidates before its commit leaves no ingested
    rows and an unchanged high-water mark; the re-ingest then queues each
    candidate exactly once."""
    urls = [f"https://isle.example/p{i}.html" for i in range(3)]
    cand = _candidates(spark, tmp_path / "cand", urls)
    _store(spark, tmp_path / "wd")
    eng = _engine(spark, data, tmp_path / "wd")
    real_commit = Catalog.commit

    def killed_commit(self, rnd, extras=None):
        if extras and "ingested_candidates_batch" in extras:
            raise RuntimeError("simulated crash")
        return real_commit(self, rnd, extras)

    monkeypatch.setattr(Catalog, "commit", killed_commit)
    with pytest.raises(RuntimeError, match="simulated crash"):
        eng.ingest_candidates(cand)
    monkeypatch.undo()
    eng2 = _engine(spark, data, tmp_path / "wd")
    assert _committed(spark, tmp_path / "wd") == ALL
    assert eng2.catalog.extra("ingested_candidates_batch") is None
    assert eng2.ingest_candidates(cand) == 3
    assert eng2.ingest_candidates(cand) == 0  # high-water mark holds
    got = [
        r["canon"] for r in Catalog(str(tmp_path / "wd"), spark)
        .read("frontier").filter(F.col("referrer") == "INGESTED").collect()
    ]
    assert len(got) == len(set(got)) == 3


def test_seed_init_crash_reseeds_on_resume(spark, data, tmp_path):
    """A kill after _init_frontier stages the seed delta, before the init
    commit: the store has no committed frontier, so the resumed run
    re-seeds and crawls instead of stopping at once."""
    eng = _engine(spark, data, tmp_path / "wd")
    eng._init_frontier()  # seed delta staged ... and "crash" pre-commit
    assert _frontier_dirs(tmp_path / "wd")
    eng2 = _engine(spark, data, tmp_path / "wd")
    assert not eng2.catalog.exists("frontier")
    res = eng2.run(max_rounds=1)
    assert res["visited"] > 0


@pytest.mark.parametrize("rounds", [0, 1], ids=["seeded", "fresh-seen"])
def test_ingest_before_first_round(spark, data, tmp_path, rounds):
    """An ingest on a store whose frontier was just seeded, by a
    ``run(max_rounds=0)`` or by a ``fresh_seen`` open after a crawled
    round, appends at the round the seed init committed: the seed deltas
    are staged at that round too, so the ingest commits."""
    eng = _engine(spark, data, tmp_path / "wd")
    eng.run(max_rounds=rounds)
    if rounds:
        eng = Engine(
            spark, _cfg(), str(tmp_path / "wd"),
            pages_path=f"{data}/pages.parquet",
            robots_path=f"{data}/robots.parquet",
            fresh_seen=True,
        )
    cand = _candidates(
        spark, tmp_path / "cand", ["https://isle.example/p0.html"]
    )
    assert eng.ingest_candidates(cand) == 1
    live = _live(eng)
    assert "isle.example/p0.html" in live and len(live) == 2


def test_ingest_and_resume(spark, data, tmp_path_factory):
    """Streaming ingest x resume: captures ingested mid-crawl are crawled
    after a resume with a FRESH Engine over the same workdir."""
    from crabspark.streaming import start_page_ingest

    tmp = tmp_path_factory.mktemp("ingest_resume")
    work = str(tmp / "work")
    cfg = _cfg()
    eng = _engine(spark, data, work, cfg)
    eng.run(max_rounds=2)
    mid_visited = eng.total_visited

    island = pd.DataFrame(
        {
            "url": [f"https://isle.example/p{i}.html" for i in range(3)],
            "warc_ts": pd.to_datetime(["2025-03-01T12:00:00Z"] * 3),
            "html": [b"<html><body><p>isle</p></body></html>"] * 3,
            "text": ["isle"] * 3,
            "lang": ["en"] * 3,
        }
    )
    incoming = str(tmp / "incoming")
    os.makedirs(incoming)
    island.to_parquet(
        f"{incoming}/part-0.parquet", index=False,
        coerce_timestamps="us", allow_truncated_timestamps=True,
    )
    cand_cat = Catalog(str(tmp / "cand"), spark)
    q = start_page_ingest(spark, incoming, cand_cat, str(tmp / "ckpt"))
    q.awaitTermination(120)
    assert eng.ingest_candidates(cand_cat) == 3

    eng2 = _engine(spark, data, work, cfg)
    eng2.pages = eng2.pages.unionByName(
        spark.read.parquet(f"{incoming}/part-0.parquet")
    )
    assert eng2.total_visited == mid_visited  # resumed, not restarted
    eng2.run()
    vl = eng2.visit_log().select("url", "referrer").collect()
    isle = [r for r in vl if r["url"].startswith("isle.example")]
    assert len(isle) == 3
    assert all(r["referrer"] == "INGESTED" for r in isle)
    # no dup visits anywhere except the legal seed re-queue (Q10)
    urls = [r["url"] for r in vl]
    dupes = {u for u in urls if urls.count(u) > 1}
    assert dupes <= {"mega1.com"}, dupes


# (kill step, op, expected committed frontier after recovery)
KILL_MATRIX = [
    ("insert-intent", "insert", "baseline"),   # parquet write never runs
    ("insert-done", "insert", "baseline"),     # delta staged, no commit
    ("fold-staged", "fold", "baseline"),       # overwrite staged, no commit
    ("fold-intent", "fold", "folded"),         # chain shortened, none removed
    ("fold-old-deleted", "fold", "folded"),    # first removal raises
    ("fold-one-moved", "fold", "folded"),      # first superseded dir removed
    ("fold-moved", "fold", "folded"),          # compact returned
    ("persist-tmp", "insert", "baseline"),     # manifest tmp not yet renamed
]


def _kill(monkeypatch, step):
    """Make ``step`` raise a simulated crash."""

    def crash(*_a, **_k):
        raise RuntimeError("simulated crash")

    if step == "insert-intent":
        monkeypatch.setattr(DataFrameWriter, "parquet", crash)
    elif step in ("insert-done", "fold-staged"):
        monkeypatch.setattr(Catalog, "commit", crash)
    elif step == "fold-intent":
        monkeypatch.setattr(Catalog, "_remove_unnamed", crash)
    elif step in ("fold-old-deleted", "fold-one-moved"):
        real_rmtree = shutil.rmtree
        removed = []

        def rmtree(path, *a, **k):
            if step == "fold-one-moved" and not removed:
                real_rmtree(path, *a, **k)
                removed.append(path)
                return
            crash()

        monkeypatch.setattr(tables.shutil, "rmtree", rmtree)
    elif step == "fold-moved":
        real_compact = Catalog.compact

        def compact_then_crash(self, *a, **k):
            real_compact(self, *a, **k)
            crash()

        monkeypatch.setattr(Catalog, "compact", compact_then_crash)
    elif step == "persist-tmp":
        monkeypatch.setattr(tables.os, "replace", crash)


@pytest.mark.parametrize("step,op,expected", KILL_MATRIX)
def test_crash_matrix_kill_points(
    spark, data, tmp_path, monkeypatch, step, op, expected
):
    """Kill the process at every write, commit and removal step of a
    frontier append and a fold: a fresh catalog reads exactly the last
    committed rows (kill before the manifest commit) or exactly the
    folded rows (kill after it), and the live view is the same either
    way."""
    cat = _store(spark, tmp_path / "wd")
    eng = _engine(spark, data, tmp_path / "wd") if op == "fold" else None
    child = spark.createDataFrame(_rows(8, 9, 2), FRONTIER_SCHEMA)
    _kill(monkeypatch, step)
    with pytest.raises(RuntimeError, match="simulated crash"):
        if op == "insert":
            cat.append("frontier", child, 2)
            cat.commit(2)
        else:
            eng._fold_frontier(2)
    monkeypatch.undo()
    if expected == "baseline":
        assert _committed(spark, tmp_path / "wd") == ALL
    else:
        assert _committed(spark, tmp_path / "wd") == LIVE
    assert _live(_engine(spark, data, tmp_path / "wd")) == LIVE


def test_round_pointer_matches_reopened_store(spark, data, tmp_path):
    """After ``run()``, whose finalize commits the completion marks one
    round past the last crawled round, the in-process Engine continues
    from the same round a freshly opened Engine starts at."""
    eng = _engine(spark, data, tmp_path / "wd")
    eng.run(max_rounds=1)
    assert eng.round == _engine(spark, data, tmp_path / "wd").round


def test_reopen_rebuilds_bloom_from_seen(spark, data, tmp_path):
    """After a round and an ingest, a reopened Engine rebuilds the bloom
    from ``seen`` with the same bits the first Engine held, the ingested
    canon probes positive, and the store root holds only the manifest and
    the table directories: no bloom snapshot is written."""
    root = tmp_path / "wd"
    eng = _engine(spark, data, root)
    eng.run(max_rounds=1)
    cand = _candidates(
        spark, tmp_path / "cand", ["https://isle.example/p0.html"]
    )
    assert eng.ingest_candidates(cand) == 1
    eng2 = _engine(spark, data, root)
    assert (eng2.bloom.bits == eng.bloom.bits).all()
    sha1 = urlkit.sha1_hex(pd.Series(["isle.example/p0.html"]))
    assert eng2.bloom.might_contain(sha1).all()
    assert sorted(os.listdir(root)) == sorted(
        ["_manifest.json", *eng2.catalog.state["tables"]]
    )


def test_bloom_build_collects_bounded_bitmaps(spark, monkeypatch):
    """``Bloom.add_dataframe`` ships one m/8-byte bitmap per partition it
    builds, so an input of 3x the default parallelism in partitions (a
    large ``seen`` table) still sends the driver at most one bitmap per
    parallelism slot, and every key probes positive."""
    from crabspark.seen import Bloom

    n = spark.sparkContext.defaultParallelism
    df = spark.range(0, 30 * n, numPartitions=3 * n).select(
        F.sha1(F.col("id").cast("string")).alias("sha1")
    )
    assert df.rdd.getNumPartitions() == 3 * n
    calls = []
    real_or = Bloom.or_bitmap

    def counting_or(self, bits):
        calls.append(len(bits))
        real_or(self, bits)

    monkeypatch.setattr(Bloom, "or_bitmap", counting_or)
    bloom = Bloom(1_000, 0.01)
    bloom.add_dataframe(df, sha1_col="sha1")
    assert 0 < len(calls) <= n
    keys = pd.Series([r["sha1"] for r in df.collect()])
    assert bloom.might_contain(keys).all()


def test_bucketed_store_is_refused(spark, data, tmp_path):
    """A store written with the removed host-bucketed frontier layout
    (its directory, or the auto-migration's committed extra) fails to open
    with a ValueError naming the store and the way out, instead of
    stopping at once or re-seeding over its own seen set."""
    with_dir = tmp_path / "with_dir"
    _store(spark, with_dir)
    os.makedirs(with_dir / "frontier_bucketed")
    with_extra = tmp_path / "with_extra"
    cat = _store(spark, with_extra)
    cat.commit(1, {"frontier_bucketed_n": 64})
    for root in (with_dir, with_extra):
        with pytest.raises(ValueError, match="fresh workdir") as err:
            _engine(spark, data, root)
        assert str(root) in str(err.value)
    # a fresh workdir opens
    assert _engine(spark, data, tmp_path / "fresh").round == 0
