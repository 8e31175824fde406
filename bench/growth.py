"""Stretch scale evidence: a multi-million-page crawl with a per-round
state-size curve (VERDICT r2 item 9).

Runs the crawl one round at a time at local[N] over a 2M-page fixture
(10x round 2's largest run) and records, per round: batch size, wall,
and the on-disk size of every catalog table — evidence that
 (a) round wall tracks batch size, not accumulated state, and
 (b) table growth is O(visited)/O(seen), with the frontier bounded by the
     live horizon (adds-only + amortized fold).

Writes BENCH/growth{pages}_{mode}.json (per-round curve + contention
telemetry brackets); BASELINE.md's stretch section is curated by hand
from the quietest leg.

Usage: python bench/growth.py [--pages 2000000] [--cpus 32]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _env_snapshot() -> dict:
    """Contention telemetry bracket (same rationale as bench.py): a fixed
    single-thread numpy kernel (machine-speed probe — inflates under ANY
    slowdown mechanism, including ones PSI/steal can't see), cumulative
    hypervisor steal from /proc/stat, and loadavg."""
    import numpy as np

    a = np.ones(50_000_000)
    a.sum()  # warm faults outside the timing
    t0 = time.monotonic()
    for _ in range(3):
        a.sum()
    probe_ms = 1000.0 * (time.monotonic() - t0) / 3
    with open("/proc/stat") as f:
        steal_s = int(f.readline().split()[8]) / 100.0
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    return {"probe_ms": round(probe_ms, 1), "steal_s": round(steal_s, 1),
            "load1": load1}


def _du(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", type=int, default=2_000_000)
    ap.add_argument("--cpus", type=int, default=32)
    ap.add_argument("--branching", type=int, default=24)
    ap.add_argument("--exec-mode", default="local",
                    choices=["local", "cluster"],
                    help="'cluster' = local-cluster[cpus/4,4,4096]: separate "
                         "executor JVMs, the config bench/scaling.py measured "
                         "~2x faster than one shared JVM at high widths")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from crabspark.config import Config
    from crabspark.engine import Engine
    from crabspark.tables import bucketize_pages
    from fixtures import gen_pages

    fxdir = os.path.join(REPO, ".bench_data", f"growth{args.pages}")
    if not os.path.exists(os.path.join(fxdir, "pages.parquet")):
        print(f"generating {args.pages:,}-page fixture ...", file=sys.stderr)
        t0 = time.monotonic()
        gen_pages.write(fxdir, n_pages=args.pages, seed=42,
                        branching=args.branching, body_scale=1)
        print(f"generated in {time.monotonic() - t0:.0f}s", file=sys.stderr)

    if args.exec_mode == "cluster":
        n_exec = max(1, args.cpus // 4)
        master = f"local-cluster[{n_exec},4,4096]"
        os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
        builder = (
            SparkSession.builder.config("spark.executor.memory", "3g")
            # cap ergonomic GC pools at the executor's core share — see
            # bench/scaling.py (uncapped, 8 executor JVMs spawn ~23 GC
            # threads EACH and stampede the box at every young pause)
            .config(
                "spark.executor.extraJavaOptions",
                "-XX:+UseParallelGC -XX:ParallelGCThreads=4",
            )
        )
    else:
        master = f"local[{args.cpus}]"
        builder = SparkSession.builder
    spark = (
        builder.master(master)
        .appName("crabspark-growth")
        .config("spark.sql.shuffle.partitions", str(args.cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        # see bench.py: parallel scavenge has no concurrent GC threads to
        # starve under full-core Python UDF workers
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    bucketed = os.path.join(fxdir, "pages_bucketed.parquet")
    if not os.path.exists(os.path.join(bucketed, "_crabspark_buckets.json")):
        print("bucketizing pages ...", file=sys.stderr)
        bucketize_pages(spark, os.path.join(fxdir, "pages.parquet"),
                        bucketed, n_buckets=64)

    cfg = Config.new()
    cfg.free_crawl = True
    cfg.seeds = [gen_pages.SEED_URL]
    cfg.scheduling = "throughput"
    cfg.per_host_quota = None
    cfg.max_urls_to_visit = args.pages * 2
    cfg.respect_robots = True
    cfg.collect_images = False
    cfg.bloom_capacity = 3 * args.pages

    work = tempfile.mkdtemp(prefix="crabspark-growth-")
    rows = []
    env_pre = _env_snapshot()
    try:
        eng = Engine(
            spark, cfg, work,
            pages_path=bucketed,
            robots_path=os.path.join(fxdir, "robots.parquet"),
        )
        t_all = time.monotonic()
        eng.run(max_rounds=0)  # initialize + commit the seed frontier only
        while True:
            t0 = time.monotonic()
            progressed = eng._round()
            wall = time.monotonic() - t0
            if not progressed:
                break
            m = (
                eng.catalog.read("metrics")
                .orderBy("round").tail(1)[0].asDict()
            )
            sizes = {
                t: _du(os.path.join(work, t))
                for t in ("visited_ops", "seen", "fetched", "edges",
                          "frontier")
            }
            rows.append(
                {
                    "round": m["round"], "batch_n": m["batch_n"],
                    "total_visited": m["total_visited"],
                    "frontier_size": m["frontier_size"],
                    "wall_s": round(wall, 1),
                    **{f"{t}_mb": round(v / 1e6, 1) for t, v in sizes.items()},
                }
            )
            print(json.dumps(rows[-1]), file=sys.stderr)
        t_fin = time.monotonic()
        eng.finalize()
        fin_wall = time.monotonic() - t_fin
        total_wall = time.monotonic() - t_all
        visited = eng.total_visited
    finally:
        shutil.rmtree(work, ignore_errors=True)

    ups = round(visited / total_wall, 1)
    env_post = _env_snapshot()
    result = {
        "visited": visited, "wall_s": round(total_wall, 1),
        "urls_per_sec": ups, "rounds": len(rows),
        "finalize_s": round(fin_wall, 1),
        "exec_mode": args.exec_mode, "master": master,
        "env_pre": env_pre, "env_post": env_post,
        "steal_share": round(
            (env_post["steal_s"] - env_pre["steal_s"])
            / max(total_wall, 1e-9) / max(os.cpu_count() or 32, 1), 4),
        "per_round": rows,
    }
    # Overwrite a per-config JSON artifact; BASELINE.md is curated by hand
    # from the quietest leg (the old auto-append duplicated sections and
    # could enshrine a contended run).
    out = os.path.join(
        REPO, "BENCH", f"growth{args.pages}_{args.exec_mode}.json")
    with open(out, "w") as f:
        json.dump(result, f, indent=1)
    print(json.dumps({k: result[k] for k in
                      ("visited", "wall_s", "urls_per_sec", "rounds",
                       "env_pre", "env_post", "steal_share")}))


if __name__ == "__main__":
    main()
