"""Catalog (snapshot table layer) semantics: atomic commits, uncommitted
deltas invisible after crash, overwrite/append reconstruction, compaction
(content, history and the files left on disk)."""

import os

import pytest

from crabspark.tables import Catalog
from tests.sparkutil import get_spark


@pytest.fixture(scope="module")
def spark():
    return get_spark()


def df(spark, rows, schema="k string, v int"):
    return spark.createDataFrame(rows, schema)


def test_append_and_overwrite_reconstruction(spark, tmp_path):
    cat = Catalog(str(tmp_path / "c1"), spark)
    cat.append("t", df(spark, [("a", 1)]), 0)
    cat.append("t", df(spark, [("b", 2)]), 0)
    cat.commit(0)
    assert {r["k"] for r in cat.read("t").collect()} == {"a", "b"}
    cat.overwrite("t", df(spark, [("c", 3)]), 1)
    cat.append("t", df(spark, [("d", 4)]), 1)
    cat.commit(1)
    assert {r["k"] for r in cat.read("t").collect()} == {"c", "d"}


def test_uncommitted_deltas_invisible_after_crash(spark, tmp_path):
    root = str(tmp_path / "c2")
    cat = Catalog(root, spark)
    cat.append("t", df(spark, [("a", 1)]), 0)
    cat.commit(0)
    cat.append("t", df(spark, [("zz", 9)]), 1)  # staged, never committed
    # "crash": reopen from disk — manifest is the only truth
    cat2 = Catalog(root, spark)
    assert cat2.committed_round == 0
    assert {r["k"] for r in cat2.read("t").collect()} == {"a"}


def test_abort_drops_staged(spark, tmp_path):
    cat = Catalog(str(tmp_path / "c3"), spark)
    cat.append("t", df(spark, [("a", 1)]), 0)
    cat.abort()
    cat.commit(0)
    assert cat.read("t") is None


def test_compaction_preserves_content(spark, tmp_path):
    cat = Catalog(str(tmp_path / "c4"), spark)
    for r in range(5):
        cat.append("t", df(spark, [(f"k{r}", r)]), r)
        cat.commit(r)
    assert cat.delta_count("t") == 5
    cat.compact("t", 5)
    assert cat.delta_count("t") == 1
    assert {row["k"] for row in cat.read("t").collect()} == {
        "k0", "k1", "k2", "k3", "k4"
    }


def test_compact_leaves_only_named_files(spark, tmp_path):
    """Disk census: after compacting a chain of 17 driver-local deltas,
    the table directory holds exactly the paths the manifest names — the
    superseded local-*.parquet files are removed, not just unreferenced."""
    import pyarrow as pa

    cat = Catalog(str(tmp_path / "census"), spark)
    for r in range(17):
        cat.append_local("t", pa.table({"k": [f"k{r}"], "v": [r]}), r)
        cat.commit(r)
    cat.compact("t", 17)
    on_disk = sorted(os.listdir(os.path.join(cat.root, "t")))
    deltas = cat.state["tables"]["t"]["deltas"]
    named = [os.path.basename(d["path"]) for d in deltas]
    assert on_disk == named and len(named) == 1
    assert {r["k"] for r in cat.read("t").collect()} == {
        f"k{r}" for r in range(17)
    }


def test_extras_roundtrip(spark, tmp_path):
    root = str(tmp_path / "c5")
    cat = Catalog(root, spark)
    cat.append("t", df(spark, [("a", 1)]), 0)
    cat.commit(0, {"total_visited": 7, "bloom": "/x/y.npy"})
    cat2 = Catalog(root, spark)
    assert cat2.extra("total_visited") == 7
    assert cat2.extra("bloom") == "/x/y.npy"
    assert cat2.extra("missing", "dflt") == "dflt"


def test_abort_drops_all_staged_deltas(spark, tmp_path):
    """abort() after a partial round stages nothing into the next commit
    (the atomic-round invariant a retrying caller relies on)."""
    cat = Catalog(str(tmp_path / "cat-abort"), spark)
    df = spark.createDataFrame([(1,)], "x int")
    cat.append("t1", df, 0)
    cat.append("t2", df, 0)
    cat.abort()
    cat.commit(0)
    assert cat.read("t1") is None and cat.read("t2") is None
    cat.append("t1", df, 1)
    cat.commit(1)
    assert cat.read("t1").count() == 1


def test_time_travel_read_at(spark, tmp_path):
    """read_at(r) reconstructs exactly the post-round-r committed state:
    appends accumulate, an overwrite restarts the chain only within the
    queried horizon, and rounds older than a compaction return None."""
    cat = Catalog(str(tmp_path / "tt"), spark)
    cat.append("t", df(spark, [("a", 1)]), 0)
    cat.commit(0)
    cat.append("t", df(spark, [("b", 2)]), 1)
    cat.commit(1)
    cat.overwrite("t", df(spark, [("c", 3)]), 2)
    cat.append("t", df(spark, [("d", 4)]), 2)
    cat.commit(2)
    assert {r["k"] for r in cat.read_at("t", 0).collect()} == {"a"}
    assert {r["k"] for r in cat.read_at("t", 1).collect()} == {"a", "b"}
    assert {r["k"] for r in cat.read_at("t", 2).collect()} == {"c", "d"}
    # current read == read_at(committed_round)
    assert {r["k"] for r in cat.read("t").collect()} == {"c", "d"}
    assert cat.read_at("t", -1) is None
    assert cat.read_at("missing", 2) is None
    assert cat.snapshots("t") == [2]  # overwrite at 2 truncated history
    assert cat.snapshots("missing") == []
    # compaction collapses history: pre-compaction rounds unreachable,
    # post-compaction state intact
    cat.compact("t", 3)
    assert cat.read_at("t", 2) is None
    assert {r["k"] for r in cat.read_at("t", 3).collect()} == {"c", "d"}
    assert cat.snapshots("t") == [3]


def test_snapshots_accumulate_over_appends(spark, tmp_path):
    cat = Catalog(str(tmp_path / "snap"), spark)
    for r in range(3):
        cat.append("t", df(spark, [(f"r{r}", r)]), r)
        cat.commit(r)
    assert cat.snapshots("t") == [0, 1, 2]
    assert {x["k"] for x in cat.read_at("t", 1).collect()} == {"r0", "r1"}


def test_refused_commit_publishes_nothing(tmp_path):
    """A commit that fails the monotone-round check changes no state: after
    abort(), a later commit on the same Catalog publishes none of the
    refused deltas. No Spark: driver-local deltas only."""
    import pyarrow as pa

    root = str(tmp_path / "c")
    rows = pa.table({"k": ["x"]})
    cat = Catalog(root, None)
    cat.append_local("b", rows, 5)
    cat.commit(5)
    cat.append_local("a", rows, 6)
    cat.append_local("b", rows, 4)
    with pytest.raises(RuntimeError, match="non-monotone"):
        cat.commit(6)
    cat.abort()
    cat.commit(7)
    fresh = Catalog(root, None)
    assert fresh.delta_count("a") == 0
    assert [d["round"] for d in fresh.state["tables"]["b"]["deltas"]] == [5]


def test_reads_skip_schema_inference(spark, tmp_path):
    """A read takes the table's schema from its newest delta's footer on
    the driver, so no read starts a schema-inference job (a 1-task Spark
    job); every read returns the same rows, before and after compact."""
    cat = Catalog(str(tmp_path / "c_schema"), spark)
    jobs = spark.sparkContext._jsc.sc().dagScheduler()
    for r in range(3):
        cat.append("t", df(spark, [(f"k{r}", r)]), r)
        cat.commit(r)
    j0 = jobs.nextJobId()
    first = cat.read("t")
    assert jobs.nextJobId() == j0
    assert first.schema == spark.read.parquet(
        *[os.path.join(cat.root, d["path"]) for d in cat._chain("t")]
    ).schema
    want = sorted(first.collect())
    for _ in range(2):
        j0 = jobs.nextJobId()
        again = cat.read("t")
        assert jobs.nextJobId() == j0
        assert sorted(again.collect()) == want
        cat.compact("t", 3)
    assert cat.delta_count("t") == 1


def test_resumed_table_keeps_added_columns(spark, tmp_path):
    """A store written before a table gained columns, then resumed: reads
    take the newest delta's schema, so the new rows keep the new columns
    (null in the old rows), also once a compaction rewrites the chain."""
    import pyarrow as pa

    root = str(tmp_path / "c_resume")
    old = Catalog(root, spark)
    old.append("metrics", df(spark, [("a", 0)], "k string, round int"), 0)
    old.commit(0)
    assert old.read("metrics").columns == ["k", "round"]
    cat = Catalog(root, spark)  # resume
    assert cat.read("metrics").columns == ["k", "round"]
    schema = pa.schema([
        ("k", pa.string()), ("round", pa.int32()),
        ("compiles", pa.int64()), ("jobs", pa.int64()),
    ])
    for r in (1, 2):
        cat.append_local(
            "metrics",
            pa.Table.from_pylist(
                [{"k": f"n{r}", "round": r, "compiles": r, "jobs": 10 + r}],
                schema=schema,
            ),
            r,
        )
        cat.commit(r)
    want = [("a", 0, None, None), ("n1", 1, 1, 11), ("n2", 2, 2, 12)]
    rows = cat.read("metrics").orderBy("round").collect()
    assert [tuple(x) for x in rows] == want
    cat.compact("metrics", 2)
    assert cat.delta_count("metrics") == 1
    rows = Catalog(root, spark).read("metrics").orderBy("round").collect()
    assert [tuple(x) for x in rows] == want
