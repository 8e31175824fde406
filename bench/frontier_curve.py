"""Frontier-growth curve: per-round wall time vs frontier size.

Evidence for the adds-only frontier design: with a wide fan-out fixture
and a bounded per-round batch (politeness quota), the frontier grows ~10x
over the run while per-round wall time stays flat — the round cost tracks
O(batch + children), not O(frontier), because the frontier is never
rewritten inside a round (visited rows are masked at read time and dropped
only by the periodic fold).

Usage:
  python bench/frontier_curve.py [--pages 120000] [--rounds 12] [--cpus 16]

Writes a markdown section + JSON line to BENCH/frontier_curve.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", type=int, default=120_000)
    ap.add_argument("--rounds", type=int, default=12)
    ap.add_argument("--cpus", type=int, default=16)
    ap.add_argument("--quota", type=int, default=40)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from crabspark.config import Config
    from crabspark.engine import Engine
    from fixtures import gen_pages

    fxdir = os.path.join(REPO, ".bench_data", f"curve{args.pages}")
    if not os.path.exists(os.path.join(fxdir, "pages.parquet")):
        # branching=4: parents concentrate in the earliest pages, so each
        # visited page fans out wide and the frontier snowballs
        gen_pages.write(fxdir, n_pages=args.pages, seed=42, branching=4)

    spark = (
        SparkSession.builder.master(f"local[{args.cpus}]")
        .appName("crabspark-frontier-curve")
        .config("spark.sql.shuffle.partitions", str(max(args.cpus * 2, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    cfg = Config.new()
    cfg.free_crawl = True
    cfg.seeds = [gen_pages.SEED_URL]
    cfg.scheduling = "throughput"
    cfg.per_host_quota = args.quota          # bounded batch per round
    cfg.max_urls_to_visit = args.pages * 2   # cap never binds
    cfg.respect_robots = True
    cfg.collect_images = False

    work = tempfile.mkdtemp(prefix="crabspark-curve-")
    try:
        eng = Engine(
            spark, cfg, work,
            pages_path=os.path.join(fxdir, "pages.parquet"),
            robots_path=os.path.join(fxdir, "robots.parquet"),
        )
        eng.run(max_rounds=args.rounds)
        rows = (
            eng.catalog.read("metrics")
            .orderBy("round")
            .select("round", "batch_n", "child_n", "frontier_size", "wall_s")
            .collect()
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)

    recs = [
        {
            "round": r["round"],
            "batch_n": r["batch_n"],
            "child_n": r["child_n"],
            "frontier_size": r["frontier_size"],
            "wall_s": round(r["wall_s"], 2),
        }
        for r in rows
    ]
    # flatness: compare mean wall of the first third vs last third while
    # the frontier grows (skip round 0: seed-only)
    body = [r for r in recs if r["round"] >= 1]
    third = max(1, len(body) // 3)
    head_w = sum(r["wall_s"] for r in body[:third]) / third
    tail_w = sum(r["wall_s"] for r in body[-third:]) / third
    growth = (
        body[-1]["frontier_size"] / max(1, body[0]["frontier_size"])
        if body else 0.0
    )
    summary = {
        "metric": "frontier_curve",
        "rounds": len(recs),
        "frontier_growth_x": round(growth, 1),
        "wall_head_s": round(head_w, 2),
        "wall_tail_s": round(tail_w, 2),
        "wall_ratio_tail_over_head": round(tail_w / max(head_w, 1e-9), 2),
        "cpus": args.cpus,
        "pages": args.pages,
        "quota": args.quota,
    }

    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    out = os.path.join(REPO, "BENCH", "frontier_curve.md")
    with open(out, "w") as f:
        f.write("# Frontier-growth curve (adds-only frontier)\n\n")
        f.write(
            "Per-round wall time vs frontier size: the round cost must track\n"
            "O(batch + children), not O(frontier). Fixture: wide fan-out\n"
            f"(branching=4), {args.pages} pages, per_host_quota={args.quota}, "
            f"local[{args.cpus}].\n\n"
        )
        f.write("| round | batch | children | frontier_size | wall_s |\n")
        f.write("|---|---|---|---|---|\n")
        for r in recs:
            f.write(
                f"| {r['round']} | {r['batch_n']} | {r['child_n']} | "
                f"{r['frontier_size']} | {r['wall_s']} |\n"
            )
        f.write(
            f"\nFrontier grew **{summary['frontier_growth_x']}x** while "
            f"mean round wall went {summary['wall_head_s']}s -> "
            f"{summary['wall_tail_s']}s "
            f"(ratio {summary['wall_ratio_tail_over_head']}).\n\n"
        )
        f.write("```json\n" + json.dumps(summary) + "\n```\n")
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
