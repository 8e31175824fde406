"""End-to-end ``spark-submit --py-files crabspark.zip`` launch.

The north rule requires the pipeline to run "via spark-submit --py-files
on a multi-executor cluster".  Everything else in the suite drives the
engine in-process (where ``ship_package`` addPyFile's the zip); this test
proves the REAL deployment path: the job script launched by the actual
``spark-submit`` binary, the package resolvable ONLY through the shipped
zip (cwd is a neutral temp dir, and the primary script lives in ``bin/``
so the repo root is never on sys.path), against ``local-cluster[2,2,1024]``
— two separate executor JVMs, Spark's in-box multi-executor cluster.

Reference analogue: the process entry point ``main()``
(/root/reference/src/main.rs:53-105) with the ``-c`` config-path CLI
(/root/reference/src/tools.rs:198-206); the exit report parsed here is the
reference's visited/completed report (/root/reference/src/main.rs:100-104).
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spark_submit_bin() -> str:
    import pyspark

    cand = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
    if os.path.exists(cand):
        return cand
    from shutil import which

    found = which("spark-submit")
    if not found:
        pytest.skip("spark-submit binary not found")
    return found


@pytest.fixture(scope="module")
def submit_fixture(tmp_path_factory):
    out = tmp_path_factory.mktemp("submitfx")
    from fixtures import gen_pages

    gen_pages.write(str(out), n_pages=800, seed=42)
    return str(out)


def test_spark_submit_py_files_multi_executor(submit_fixture, tmp_path):
    """Launch bin/crawl_job.py through spark-submit with the package shipped
    exclusively via --py-files, on a 2-executor local-cluster; the exit
    report must show the visit cap exactly met and a non-trivial completed
    count, and the run must exit 0."""
    from crabspark.shipping import build_zip

    from fixtures import gen_pages

    zip_path = build_zip(str(tmp_path))
    cfg_path = str(tmp_path / "crawl.json")
    with open(cfg_path, "w") as f:
        json.dump(
            {
                "free_crawl": True,
                "seeds": [gen_pages.SEED_URL],
                "max_urls_to_visit": 200,
                "respect_robots": True,
                "collect_html": False,
                "collect_images": False,
                # BSP batch mode, politeness quota off: default dfs-parity
                # visits ~1 URL/round (the reference's sequential order),
                # which would make this launch test ~200 rounds long
                "scheduling": "throughput",
                "per_host_quota": 0,
            },
            f,
        )

    workdir = str(tmp_path / "state")
    neutral_cwd = str(tmp_path / "cwd")
    os.makedirs(neutral_cwd)
    env = dict(os.environ)
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    # the neutral cwd guarantees `import crabspark` in the driver resolves
    # through the --py-files zip, not a checkout on PYTHONPATH
    env.pop("PYTHONPATH", None)

    proc = subprocess.run(
        [
            _spark_submit_bin(),
            "--master", "local-cluster[2,2,1024]",
            "--conf", "spark.executor.memory=800m",
            "--conf", "spark.driver.memory=2g",
            "--conf", "spark.ui.enabled=false",
            "--conf", "spark.sql.shuffle.partitions=8",
            "--py-files", zip_path,
            os.path.join(REPO, "bin", "crawl_job.py"),
            "-c", cfg_path,
            "--pages", os.path.join(submit_fixture, "pages.parquet"),
            "--robots", os.path.join(submit_fixture, "robots.parquet"),
            "--workdir", workdir,
        ],
        cwd=neutral_cwd,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]

    m = re.search(r"Visited (\d+) URLs this run over (\d+) rounds", proc.stdout)
    assert m, proc.stdout
    visited, rounds = int(m.group(1)), int(m.group(2))
    assert visited == 200  # cap met exactly (reference src/crawl.rs:30-33)
    assert rounds >= 2

    total = int(re.search(r"Total Rows: (\d+)", proc.stdout).group(1))
    completed = int(re.search(r"Completed Rows: (\d+)", proc.stdout).group(1))
    # visited rows plus robots-blocked rows (recorded but never fetched)
    assert total >= visited
    assert 0 < completed <= total

    # state really landed in the checkpoint dir (resumable lineage)
    assert os.path.isdir(workdir) and os.listdir(workdir)


def test_warc_ingest_cli_spark_submit(tmp_path):
    """bin/warc_ingest.py through real spark-submit --py-files from a
    neutral cwd: guards the write_warc/read_warc executor-shipping
    regression (closures pickle by reference to the crabspark module, so
    BOTH directions must ship the package themselves)."""
    import pandas as pd

    from crabspark.shipping import build_zip
    from crabspark.warc import write_warc
    from tests.sparkutil import get_spark

    spark = get_spark()
    warcs = str(tmp_path / "warcs")
    pdf = pd.DataFrame(
        {
            "url": [f"http://h{i}.example/p" for i in range(12)],
            "warc_ts": pd.to_datetime(["2024-06-01"] * 12)
            .astype("datetime64[us]"),
            "html": [f"<html>doc {i}</html>".encode() for i in range(12)],
            "text": ["x"] * 12,
            "lang": pd.Series([None] * 12, dtype=object).astype("string"),
        }
    )
    write_warc(spark.createDataFrame(pdf).repartition(2), warcs)
    zip_path = build_zip(str(tmp_path))

    out = str(tmp_path / "pages")
    neutral_cwd = str(tmp_path / "cwd")
    os.makedirs(neutral_cwd)
    env = dict(os.environ)
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    env.pop("PYTHONPATH", None)
    proc = subprocess.run(
        [
            _spark_submit_bin(),
            "--master", "local[4]",
            "--conf", "spark.ui.enabled=false",
            "--py-files", zip_path,
            os.path.join(REPO, "bin", "warc_ingest.py"),
            "--warcs", warcs,
            "--out", out,
        ],
        cwd=neutral_cwd, env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    report = json.loads(
        [l for l in proc.stdout.splitlines() if l.strip().startswith("{")][-1]
    )
    assert report["pages"] == 12
    got = spark.read.parquet(out)
    assert got.count() == 12
    assert {r["url"] for r in got.select("url").collect()} == set(pdf["url"])
