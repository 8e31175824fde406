"""The crawl engine: a Bulk-Synchronous-Parallel frontier loop over Spark.

Each round is the distributed form of one reference recursion layer
(SURVEY.md §3.4; reference crawl_website_dfs src/crawl.rs:29-120):

  frontier --select_batch--> visit batch (politeness rank + cap trim, F6)
    -> visited_ops 'visit' rows (MERGE-equivalent upsert log, S6)
    -> fetch-simulation join against the pages table (J1): small batches
       broadcast INTO the pages scan (the 100-TB side streams, never
       shuffles); batches past cfg.fetch_broadcast_limit switch to a
       shuffle-hash join with the batch as build side; misses are fetch
       failures (Q4)
    -> extract_links UDF -> posexplode (E2/E3) -> fused resolve/validate/
       canonicalize/sha1 UDF (C1/C2/F1-F4)
    -> first-observer dedup (U1/U2) -> bloom + anti-join seen filter (J2)
    -> completed filter (J3, observable on resume runs only)
    -> robots join on host + per-host-group executor-side matcher (J4/E4;
       no robots body ever reaches the driver; blocked -> 'block' rows, Q6)
    -> survivors: imgs join the assets table (Content-Type predicate F5,
       BLOB stored, S2/S8), links become next-frontier ADD rows with
       DFS-prefix priorities (§7.4) and edge rows for the completion agg
    -> seen deltas + bloom update, metrics, atomic round commit.

Scale design notes (10^10 frontier):
- nothing driver-resident scales with frontier size: the bloom is fixed-size
  bits, counters are scalars, the queued-seed set is <= |seeds|;
- per-round WRITES are O(batch + children): the frontier is adds-only;
  visited rows are masked at read time (visit-round vs added-round join
  over only the rounds since the last fold) and physically dropped by the
  periodic fold — never an O(frontier) rewrite inside a round;
- the per-round O(frontier) that remains is the scheduling SCAN
  (per-host politeness rank needs every host's minimum); on a real cluster
  the frontier table would be bucketed by host so that rank is
  shuffle-free — the read itself is irreducible for global scheduling;
- the cap trim is a range-partitioned exact top-k (per-partition counts +
  boundary-partition rank), never a single-partition global sort;
- the work stages are not repartitioned: a broadcast fetch join runs the
  Python stage inside the pages scan, so its parallelism is the scan's
  split count whatever the batch's host skew (one task on the 2000-page
  test fixture); a shuffle-hash fetch join spreads by url hash instead. A
  url_sha1 repartition of the work stages was tried and was not
  faster. The politeness quota bounds any host's share per round;
- every count the loop needs is computed in one aggregate job per round.

Resume: the catalog manifest names the last committed round; an interrupted
round leaves only unreferenced files. ``Engine.open`` reloads the bloom and
counters from the manifest and continues (Q5 / north-rule checkpoint story).
A *fresh run over an existing store* (reference process restart: in-memory
seen set lost, SQLite kept) is ``fresh_seen=True``: the completed filter
then becomes the observable resume gate, exactly like the reference.
"""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from crabspark import frontier as frontier_mod
from crabspark import udfs, urlkit
from crabspark.config import Config
from crabspark.seen import Bloom, filter_unseen
from crabspark.tables import Catalog

FRONTIER_SCHEMA = (
    "url string, canon string, sha1 string, host string, referrer string, "
    "priority string, depth int, added_round int"
)
OPS_SCHEMA = "url string, referrer string, round int, priority string, op string"
EDGES_SCHEMA = "parent string, parent_round int, child string"


@contextmanager
def job_label(spark: SparkSession, label: str):
    """Label the Spark jobs this thread submits (the event log's job
    description), restoring the thread's previous label on exit. Local
    properties are per thread: pooled tasks must set their own."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(label)
    try:
        yield
    finally:
        sc.setJobDescription(prev)


class Engine:
    def __init__(
        self,
        spark: SparkSession,
        cfg: Config,
        workdir: str,
        pages_path: str,
        robots_path: str | None = None,
        assets_path: str | None = None,
        fresh_seen: bool = False,
    ):
        from crabspark.shipping import ship_package

        ship_package(spark)  # the in-process analogue of --py-files
        self.spark = spark
        self.cfg = cfg
        # blob-heavy UDF stages need small Arrow batches (see Config)
        spark.conf.set(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(cfg.arrow_max_records_per_batch),
        )
        # Ephemeral store mode (reference src/sqlite.rs:9-14 with
        # sqlite_enabled=false: the crawler runs, nothing persists, state
        # dies with the process). The distributed engine still needs the
        # catalog DURING the run (round atomicity, completion fixpoint,
        # resume-within-process), so ephemeral mode roots it in a
        # process-lifetime temp dir that is removed at interpreter exit —
        # observable semantics match the reference: a new process starts
        # from scratch, and `workdir` is never touched (the reference
        # likewise ignores sqlite_path when disabled).
        self._ephemeral_root: str | None = None
        if not cfg.sqlite_enabled:
            import atexit
            import shutil
            import tempfile

            self._ephemeral_root = tempfile.mkdtemp(prefix="crabspark-eph-")
            atexit.register(
                shutil.rmtree, self._ephemeral_root, ignore_errors=True
            )
            workdir = self._ephemeral_root
        self.catalog = Catalog(workdir, spark)
        # host-bucketed frontier layout (cfg.frontier_buckets > 0): the
        # politeness rank runs shuffle-free over the bucketed scan
        self.bucketed_frontier = None
        if cfg.frontier_buckets:
            from crabspark.tables import BucketedFrontier

            self.bucketed_frontier = BucketedFrontier(
                self.catalog, cfg.frontier_buckets
            )
        else:
            # a previous run may have auto-migrated this store to the
            # bucketed layout (frontier size crossed the threshold); the
            # committed extra — not the config — is the source of truth
            nb = self.catalog.extra("frontier_bucketed_n")
            if nb:
                from crabspark.tables import BucketedFrontier

                self.bucketed_frontier = BucketedFrontier(
                    self.catalog, int(nb)
                )
        with job_label(spark, "init"):  # parquet schema discovery
            self.pages = spark.read.parquet(pages_path)
            self.robots_df = (
                spark.read.parquet(robots_path) if robots_path else None
            )
            # image-fetch responses (url, content_type, bytes); when absent
            # the engine falls back to presence-in-pages success semantics
            self.assets = (
                spark.read.parquet(assets_path) if assets_path else None
            )
        # url-hash-bucketed pages layout (tables.bucketize_pages): the
        # fetch join prunes the scan to the batch's bucket partitions
        self.pages_buckets: int | None = None
        try:
            import json as _json

            with open(
                os.path.join(pages_path, "_crabspark_buckets.json")
            ) as f:
                self.pages_buckets = int(_json.load(f)["n_buckets"])
        except (OSError, ValueError, KeyError, TypeError):
            self.pages_buckets = None
        self._extract_page = udfs.extract_page_udf()
        self._trim_body = udfs.trim_body_udf()
        self._resolve = udfs.resolve_full_udf(
            cfg.permitted_domains, cfg.blacklist_domains, cfg.free_crawl
        )
        self._image_name = udfs.image_name_udf()
        self._blocked_join = udfs.blocked_join_udf(
            cfg.user_agents, cfg.respect_robots
        )
        # canonical seed set (tiny, driver-resident): seeds are the only
        # canons that can be re-discovered while still queued, so the
        # queued-seed set is the whole frontier-dedup state the driver needs
        seed_parsed = urlkit.parse_serialize(
            pd.Series(self.cfg.seeds, dtype=object)
        )
        seed_canon = urlkit.canonicalize(seed_parsed["ser"])
        self._all_seed_canons = {
            c for s, c in zip(seed_parsed["ser"], seed_canon) if s is not None
        }
        self._queued_seeds = set(self.catalog.extra("queued_seeds", []))
        # measurement-only: per-round (select, pipeline, write+commit)
        # wall splits for this PROCESS's rounds (not persisted; resumes
        # start empty) — bench/scaling.py exports them for the phase-level
        # Amdahl decomposition in BENCH/BASELINE.md
        self.phase_splits: list[dict] = []

        self.round = self.catalog.committed_round + 1
        self.total_visited = int(self.catalog.extra("total_visited", 0))
        # driver-side frontier-size estimate (None = unknown -> always trim)
        fs = self.catalog.extra("frontier_size")
        self.frontier_size = int(fs) if fs is not None else None
        # consecutive pre-select folds skipped because the live frontier
        # was drain-sized (see _round); in-memory only — a resume starts
        # at 0 and simply folds one round earlier than strictly needed
        self._fold_skips = 0
        self.fold_skips_total = 0  # observability (tests/metrics)
        bloom_path = self.catalog.extra("bloom")
        if bloom_path and os.path.exists(bloom_path) and not fresh_seen:
            self.bloom = Bloom.load(
                bloom_path, cfg.bloom_capacity, cfg.bloom_fpp
            )
        else:
            self.bloom = Bloom(cfg.bloom_capacity, cfg.bloom_fpp)
        if fresh_seen and self.catalog.committed_round >= 0:
            # reference process restart: seen set was in-memory and is lost;
            # visited/is_complete persists and gates re-crawl (Q5).
            with job_label(spark, "init"):
                self.catalog.overwrite(
                    "seen", self._empty("url string, sha1 string, round int"),
                    self.round,
                )
                self.total_visited = 0
                self._init_frontier()
                self.catalog.commit(
                    self.round - 1,
                    {"total_visited": 0, "frontier_size": self.frontier_size,
                     "queued_seeds": sorted(self._queued_seeds),
                     "frontier_folded_round": self.round - 1,
                     "frontier_seeded": True, "visited_at_fold": 0},
                )

    # ------------------------------------------------------------------
    def _debug_log(self, msg: str) -> None:
        """C9 debug_log (reference src/tools.rs:15-19: conditional
        println). Driver-side channel only — executor-side events land in
        the metrics_partitions table instead of a log stream."""
        if self.cfg.debug and self.cfg.live_logging:
            print(f"[crabspark] {msg}", flush=True)

    def _empty(self, schema: str) -> DataFrame:
        return self.spark.createDataFrame([], schema)

    def _job_counter(self) -> int:
        """Monotone count of Spark jobs submitted so far — the per-round
        delta is the fixed-floor metric the scaling protocol tracks (each
        job costs ~0.1-1s of scheduling regardless of data size)."""
        try:
            return int(
                self.spark.sparkContext._jsc.sc().dagScheduler().nextJobId()
            )
        except Exception:
            return 0

    def _stage_metrics_local(
        self, r, part_stats, fetch_parts, stats, batch_n, fetched_n,
        new_total, new_frontier_size, t0,
    ) -> None:
        """Stage the per-round metrics tables as driver-local pyarrow
        parquet — O(partitions) rows, zero Spark jobs. Schemas mirror the
        Spark DDL the tables were defined with (int = int32, long = int64)
        so delta scans union cleanly with Spark-written compactions."""
        import pyarrow as pa

        mp_schema = pa.schema(
            [
                ("round", pa.int32()), ("stage", pa.string()),
                ("partition_id", pa.int32()), ("rows", pa.int64()),
                ("blocked", pa.int64()), ("children", pa.int64()),
            ]
        )
        mp_rows = [
            {
                "round": r, "stage": "extract",
                "partition_id": int(row["partition_id"]),
                "rows": int(row["cand_n"] or 0),
                "blocked": int(row["blocked_n"] or 0),
                "children": int(row["child_n"] or 0),
            }
            for row in part_stats
        ] + [
            {
                "round": r, "stage": "fetch",
                "partition_id": int(row["partition_id"]),
                "rows": int(row["fetched_n"] or 0),
                "blocked": 0, "children": 0,
            }
            for row in fetch_parts
        ]
        self.catalog.append_local(
            "metrics_partitions",
            pa.Table.from_pylist(mp_rows, schema=mp_schema),
            r,
        )
        m_schema = pa.schema(
            [
                ("round", pa.int32()), ("batch_n", pa.int64()),
                ("fetched_n", pa.int64()), ("failed_n", pa.int64()),
                ("cand_n", pa.int64()), ("blocked_n", pa.int64()),
                ("completed_dropped_n", pa.int64()), ("child_n", pa.int64()),
                ("img_n", pa.int64()), ("total_visited", pa.int64()),
                ("frontier_size", pa.int64()), ("wall_s", pa.float64()),
            ]
        )
        m_row = {
            "round": r, "batch_n": batch_n, "fetched_n": fetched_n,
            "failed_n": batch_n - fetched_n, "cand_n": stats["cand_n"],
            "blocked_n": stats["blocked_n"],
            "completed_dropped_n": stats["completed_dropped_n"],
            "child_n": stats["child_n"], "img_n": stats["img_n"],
            "total_visited": new_total,
            "frontier_size": (
                -1 if new_frontier_size is None else new_frontier_size
            ),
            "wall_s": float(time.monotonic() - t0),
        }
        self.catalog.append_local(
            "metrics", pa.Table.from_pylist([m_row], schema=m_schema), r
        )

    def _init_frontier(self) -> None:
        rows = []
        seeds = pd.Series(self.cfg.seeds, dtype=object)
        parsed = urlkit.parse_serialize(seeds)
        canon = urlkit.canonicalize(parsed["ser"])
        sha1 = urlkit.sha1_hex(canon)
        seen_canons: set[str] = set()
        for i in range(len(seeds)):
            if parsed["ser"].iloc[i] is None or canon.iloc[i] in seen_canons:
                continue
            seen_canons.add(canon.iloc[i])
            rows.append(
                (
                    parsed["ser"].iloc[i], canon.iloc[i], sha1.iloc[i],
                    parsed["domain"].iloc[i], "STARTING_URL",
                    frontier_mod.seed_priority(i), 0, self.round - 1,
                )
            )
        seeds_df = self.spark.createDataFrame(rows, FRONTIER_SCHEMA)
        if self.bucketed_frontier is not None:
            self.bucketed_frontier.replace(seeds_df, self.round - 1)
        else:
            self.catalog.overwrite("frontier", seeds_df, self.round)
        self.frontier_size = len(rows)
        self._queued_seeds = set(seen_canons)

    # ------------------------------------------------------------------
    def run(self, max_rounds: int | None = None) -> dict:
        """Drive rounds until the frontier drains, the visit cap bites, or
        the whole-crawl timeout elapses (the reference's watchdog,
        src/main.rs:82-98 — except we stop cleanly at a round boundary
        with everything committed, instead of dropping the thread)."""
        # Bucketed existence must come from COMMITTED manifest state, not
        # raw directory contents: a crash between the seed replace() and the
        # init commit leaves physical seed files with no committed extras —
        # dir-based exists() would skip re-init and resume half-initialized
        # (ADVICE r3). replace() is idempotent, so re-seeding is safe.
        # A committed streaming ingest ALSO counts as evidence (an
        # ingest-first store holds real committed roots that a re-seed
        # replace() would wipe — matching the delta-chain path, where an
        # ingest delta makes exists() true and config seeds stay unqueued).
        frontier_exists = (
            (self.bucketed_frontier.exists()
             and (bool(self.catalog.extra("frontier_seeded", False))
                  or int(self.catalog.extra("ingested_candidates_batch", -1))
                  >= 0))
            if self.bucketed_frontier is not None
            else self.catalog.exists("frontier")
        )
        if not frontier_exists:
            with job_label(self.spark, "init"):
                self._init_frontier()
                self.catalog.commit(
                    self.round - 1,
                    {"total_visited": self.total_visited,
                     "frontier_size": self.frontier_size,
                     "queued_seeds": sorted(self._queued_seeds),
                     "frontier_seeded": True,
                     "visited_at_fold": self.total_visited},
                )
        started = time.monotonic()
        rounds_done = 0
        timed_out = False
        while True:
            if self.total_visited >= self.cfg.max_urls_to_visit:
                break
            if max_rounds is not None and rounds_done >= max_rounds:
                break
            if time.monotonic() - started >= self.cfg.crawler_timeout:
                timed_out = True
                break
            progressed = self._round()
            if not progressed:
                break
            rounds_done += 1
        t_fin = time.monotonic()
        self.finalize()
        self._debug_log(f"finalize {time.monotonic() - t_fin:.1f}s")
        self._debug_log(
            f"crawl stopped after {rounds_done} rounds: "
            f"{self.total_visited} visited"
            + (" (timed out)" if timed_out else "")
        )
        return {
            "rounds": rounds_done,
            "visited": self.total_visited,
            "timed_out": timed_out,
        }

    # ------------------------------------------------------------------
    def _round(self) -> bool:
        """One round; its jobs are labelled "round <r>: <phase>" for the
        select, pipeline, write and post-commit phases."""
        with job_label(self.spark, f"round {self.round}: select"):
            return self._round_phases()

    def _round_phases(self) -> bool:
        r = self.round
        sc = self.spark.sparkContext
        t0 = time.monotonic()
        cfg = self.cfg
        # the driver's frontier-size estimate is provably >= the true live
        # count (children are counted before the queued-seed/depth filters;
        # batch subtraction is exact), so 0 means empty — skip the drain
        # round's select/rank jobs entirely
        if self.frontier_size == 0:
            self._debug_log(f"round {r}: frontier empty (driver estimate)")
            return False
        jobs0 = self._job_counter()
        # Bucketed layout: the live-mask side (visits since the last fold)
        # must stay broadcast-small. When the accumulated visit count since
        # the fold outgrows the broadcast limit, fold NOW (physically apply
        # the visits) instead of force-broadcasting an unbounded side — at
        # 10^10-frontier scale a fold-period of large batches would blow the
        # driver/broadcast limit and fail the round (ADVICE r3).
        if self.bucketed_frontier is not None:
            bound = self._visits_since_fold()
            if bound is None or bound > self.cfg.fetch_broadcast_limit:
                # The fold's dominant cost is the O(live+adds) bucketed
                # REWRITE; the liveness anti-join it would save runs inside
                # _live_frontier either way (as a shuffle instead of a
                # broadcast once the mask is oversized). On a drain-sized
                # frontier — the tail rounds after the crawl's biggest
                # batch — the rewrite is pure overhead: pay one cheap
                # shuffled rank instead and skip the fold. Consecutive
                # skips are capped so a long small-frontier tail cannot
                # grow the mask join unboundedly (each skipped round
                # re-scans all visits since the last fold).
                small_live = (
                    self.frontier_size is not None
                    and self.frontier_size
                    <= self.cfg.fetch_broadcast_limit // 4
                )
                if small_live and self._fold_skips < 2:
                    self._fold_skips += 1
                    self.fold_skips_total += 1
                else:
                    self._fold_frontier(r - 1)
                    self._fold_skips = 0
        ops = self.catalog.read("visited_ops")
        frontier = self._live_frontier(ops)
        if frontier is None:
            return False
        remaining = cfg.max_urls_to_visit - self.total_visited
        # skip the global cap trim (a full frontier sort) whenever the cap
        # cannot bind this round — the driver tracks the frontier size
        trim = remaining if (
            self.frontier_size is None or remaining < self.frontier_size
        ) else None
        # localCheckpoint: materializes the (small) batch once and cuts
        # lineage — every downstream job (fetch join, visit rows) reuses the
        # materialized rows instead of re-running the frontier rank. The
        # checkpoint job CARRIES this round's batch-side scalars as observed
        # metrics (count, fetch-join bucket ids, queued-seed hits) — zero
        # extra jobs for any of them.
        from pyspark.sql import Observation

        batch_obs = Observation(f"batch-{r}")
        obs_exprs = [F.count(F.lit(1)).alias("n")]
        if self.pages_buckets:
            obs_exprs.append(
                F.collect_set(
                    F.pmod(F.xxhash64("url"), F.lit(self.pages_buckets))
                    .cast("int")
                ).alias("buckets")
            )
        if self._queued_seeds:
            obs_exprs.append(
                F.collect_set(
                    F.when(
                        F.col("canon").isin(sorted(self._queued_seeds)),
                        F.col("canon"),
                    )
                ).alias("visited_seeds")
            )
        # under the host-bucketed layout, same-host rows are already
        # co-located: the salt pre-rank would only reintroduce the shuffle
        # the bucketing removed, so the quota rank runs directly
        salt = 1 if self.bucketed_frontier is not None else cfg.salt_buckets
        batch = (
            frontier_mod.select_batch(
                frontier, trim, cfg.scheduling, cfg.per_host_quota,
                salt,
            )
            .observe(batch_obs, *obs_exprs)
            .localCheckpoint()
        )
        # the ranged cap trim persists a range-partitioned copy of the
        # frontier; the batch is materialized now, so free those blocks
        frontier_mod.release_temps()
        bstats = batch_obs.get
        batch_n = int(bstats["n"])
        # seeds visited this round leave the queued set; applied to
        # self._queued_seeds only at commit time (failure restores cleanly)
        queued_now = self._queued_seeds - set(bstats.get("visited_seeds") or [])
        if batch_n == 0:
            self._debug_log(
                f"round {r}: drain check empty, {time.monotonic() - t0:.1f}s"
            )
            return False
        t_batch = time.monotonic()
        sc.setJobDescription(f"round {r}: pipeline")

        # --- visit rows (upsert log): the DFS priority string IS the
        # within-round order key, so no global row_number sort is needed;
        # written together with this round's block rows in one delta ---
        visits = batch.select(
            F.col("canon").alias("url"),
            F.col("referrer"),
            F.lit(r).alias("round"),
            F.col("priority"),
            F.lit("visit").alias("op"),
        )

        # --- fetch-simulation (J1). Small batches broadcast INTO the pages
        # scan (pages side streams, no shuffle); batches beyond
        # fetch_broadcast_limit switch to a shuffle-hash join with the batch
        # as build side — a 10^8-row round batch must never be broadcast.
        # The fused page UDF then moves each html binary across Arrow
        # exactly once, and only text/links survive ---
        join_mode = cfg.fetch_join
        if join_mode == "auto":
            join_mode = (
                "broadcast" if batch_n <= cfg.fetch_broadcast_limit
                else "shuffle"
            )
        small_side = (
            F.broadcast if join_mode == "broadcast"
            else (lambda d: d.hint("shuffle_hash"))
        )
        # SPJ-style bucket pruning: with a url-bucketed pages layout, scan
        # only the partitions the batch can hit (<= n_buckets ids, observed
        # for free on the batch-checkpoint job — O(buckets) driver state,
        # never O(rows)). A small batch then reads a small fraction of the
        # 100-TB table; a huge batch's shuffle-hash join runs over pruned
        # input.
        pages_src = self.pages
        if self.pages_buckets:
            bids = [int(b) for b in (bstats.get("buckets") or [])]
            pages_src = self.pages.filter(F.col("bucket").isin(bids))
        hits = (
            pages_src.select("url", "html")
            .join(
                small_side(
                    batch.select(
                        F.col("url"), F.col("canon").alias("p_canon"),
                        F.col("priority").alias("p_priority"),
                        F.col("depth").alias("p_depth"),
                    )
                ),
                on="url",
                how="inner",
            )
            .select(
                F.col("p_canon"), F.col("url").alias("p_ser"),
                "p_priority", "p_depth",
                self._extract_page(F.col("html")).alias("pg"),
                *([F.col("html")] if cfg.collect_html else []),
            )
            .cache()
        )
        # UA selection (C6): rotation is determinized per page; the
        # non-rotating branch pins the FIRST configured UA, matching the
        # reference's fallback (src/http.rs:16-20)
        if cfg.rotate_user_agents and len(cfg.user_agents) > 1:
            ua_col = F.element_at(
                F.array(*[F.lit(u) for u in cfg.user_agents]),
                (
                    F.pmod(F.xxhash64("p_canon"), F.lit(len(cfg.user_agents)))
                    + 1
                ).cast("int"),
            )
        else:
            ua_col = F.lit(cfg.user_agents[0] if cfg.user_agents else "")
        # C5: the reference stores body.trim() (src/http.rs:37) — trim
        # whitespace at both ends of the stored body. bytes.strip() inside
        # a pandas UDF, NOT a CAST-to-STRING round trip: non-UTF-8 bodies
        # must come back byte-identical apart from the trim.
        fetched = hits.select(
            F.col("p_canon").alias("url"),
            F.col("p_ser").alias("url_ser"),
            F.lit(r).alias("round"),
            F.col("pg.text").alias("text"),
            ua_col.alias("ua"),
            *(
                [self._trim_body(F.col("html")).alias("html")]
                if cfg.collect_html
                else []
            ),
        )

        # --- single explode over (kind, pos, href) structs, then the fused
        # resolve/validate/canonicalize UDF (one Arrow crossing per link) ---
        link_structs = F.transform(
            "pg.link_links",
            lambda x, i: F.struct(
                F.lit(0).alias("kind"), i.alias("pos"), x.alias("href")
            ),
        )
        img_structs = F.transform(
            "pg.img_links",
            lambda x, i: F.struct(
                F.lit(1).alias("kind"), i.alias("pos"), x.alias("href")
            ),
        )
        cand = hits.select(
            "p_canon", "p_ser", "p_priority", "p_depth",
            F.explode(F.concat(link_structs, img_structs)).alias("c"),
        ).select(
            "p_canon", "p_ser", "p_priority", "p_depth",
            F.col("c.kind").alias("kind"), F.col("c.pos").alias("pos"),
            F.col("c.href").alias("href"),
        ).withColumn("rf", self._resolve(F.col("href"), F.col("p_ser")))
        cand = (
            cand.filter(F.col("rf.valid"))
            .select(
                "p_canon", "p_priority", "p_depth", "pos", "kind",
                F.col("rf.ser").alias("ser"),
                F.col("rf.domain").alias("host"),
                F.col("rf.canon").alias("canon"),
                F.col("rf.sha1").alias("sha1"),
            )
        )
        # first observer wins across the whole round (U1/U2 dedup; DFS order:
        # parent priority, links before imgs, document position). min_by
        # over a struct — NOT a row_number window: an aggregate gets
        # map-side partial combine, so the shuffle carries ~one row per
        # DISTINCT canon instead of every raw candidate (the fattest round
        # extracts ~25x more raw links than distinct canons; the window
        # form shuffled them all and dominated that round's wall). The
        # (p_priority, kind, pos) struct is a total order: p_priority is
        # unique per parent, (kind, pos) unique within a parent.
        payload = [c for c in cand.columns if c != "canon"]
        order = F.struct(F.col("p_priority"), F.col("kind"), F.col("pos"))
        cand = (
            cand.groupBy("canon")
            .agg(F.min_by(F.struct(*payload), order).alias("__w"))
            .select("canon", *[F.col(f"__w.{c}").alias(c) for c in payload])
        )

        # --- seen filter: bloom prefilter + exact anti-join (J2) ---
        seen_df = self.catalog.read("seen")
        unseen = filter_unseen(
            cand, seen_df, self.bloom,
            sha1_col="sha1", cand_key="canon", seen_key="url",
        )

        # --- completed filter (J3): observable on fresh-seen resume runs ---
        if ops is not None:
            completed = ops.filter(F.col("op") == "complete").select(
                F.col("url").alias("c_url"), F.lit(True).alias("is_completed")
            ).distinct()
            unseen = (
                unseen.join(completed, unseen["canon"] == completed["c_url"], "left")
                .drop("c_url")
                .fillna({"is_completed": False})
            )
        else:
            unseen = unseen.withColumn("is_completed", F.lit(False))

        # --- robots (J4/E4), executor-side: candidates join the robots
        # table on host and the matcher parses per host-group INSIDE the
        # pandas UDF — no robots body ever collects to the driver (a web-
        # scale round touches 10^6+ hosts x multi-KB bodies). Spark
        # broadcasts the robots side only while it is small; past the
        # threshold AQE plans a shuffle join ---
        if self.robots_df is not None and cfg.respect_robots:
            judged = (
                unseen.join(
                    self.robots_df.select("host", "robots_txt"),
                    on="host",
                    how="left",
                )
                .withColumn(
                    "blocked",
                    F.when(F.col("is_completed"), F.lit(False)).otherwise(
                        self._blocked_join(
                            F.col("ser"), F.col("host"), F.col("robots_txt")
                        )
                    ),
                )
                .drop("robots_txt")
                .cache()
            )
        else:
            judged = unseen.withColumn("blocked", F.lit(False)).cache()

        # ONE job runs the whole fetch/extract/judge pipeline AND returns
        # every per-round scalar and per-partition lineage stat: a union of
        # per-partition aggregates over `judged` (extract stage) and `hits`
        # (fetch stage). Materializing the judged branch fills BOTH caches
        # (judged's plan passes through the hits cache node), so the
        # concurrent table writes below read cached data. This replaces the
        # former judged.count() + two stats collects + seed-requeue collect
        # — four jobs folded into one.
        child_ok = (
            (F.col("kind") == 0) & ~F.col("blocked") & ~F.col("is_completed")
        )
        img_ok = (
            (F.col("kind") == 1) & ~F.col("blocked") & ~F.col("is_completed")
        )
        child_ok_depth = child_ok if cfg.max_depth is None else (
            child_ok & (F.col("p_depth") + 1 <= F.lit(cfg.max_depth))
        )
        agg_exprs = [
            F.count("*").alias("cand_n"),
            F.sum(F.col("blocked").cast("int")).alias("blocked_n"),
            F.sum(F.col("is_completed").cast("int")).alias(
                "completed_dropped_n"
            ),
            F.sum(child_ok.cast("int")).alias("child_n"),
            F.sum(img_ok.cast("int")).alias("img_n"),
        ]
        # seeds rediscovered as children re-enter the queued-seed set; every
        # other canon is already seen (anti-joined), so only seeds need this
        if self._all_seed_canons:
            agg_exprs.append(
                F.collect_set(
                    F.when(
                        child_ok_depth
                        & F.col("canon").isin(sorted(self._all_seed_canons)),
                        F.col("canon"),
                    )
                ).alias("seed_canons")
            )
        # the no-assets image join prunes the pages scan to the image
        # candidates' buckets — ids ride this same job
        need_img_buckets = (
            cfg.collect_images
            and self.assets is None
            and bool(self.pages_buckets)
        )
        if need_img_buckets:
            agg_exprs.append(
                F.collect_set(
                    F.when(
                        img_ok,
                        F.pmod(
                            F.xxhash64("ser"), F.lit(self.pages_buckets)
                        ).cast("int"),
                    )
                ).alias("img_buckets")
            )
        jstats = (
            judged.groupBy(F.spark_partition_id().alias("partition_id"))
            .agg(*agg_exprs)
            .withColumn("stage", F.lit("extract"))
        )
        fstats = (
            hits.groupBy(F.spark_partition_id().alias("partition_id"))
            .agg(F.count("*").alias("fetched_n"))
            .withColumn("stage", F.lit("fetch"))
        )
        stat_rows = jstats.unionByName(
            fstats, allowMissingColumns=True
        ).collect()
        part_stats = [row for row in stat_rows if row["stage"] == "extract"]
        fetch_parts = [row for row in stat_rows if row["stage"] == "fetch"]

        def _tot(rows, col):
            return int(sum((row[col] or 0) for row in rows))

        stats = {
            c: _tot(part_stats, c)
            for c in ("cand_n", "blocked_n", "completed_dropped_n",
                      "child_n", "img_n")
        }
        fetched_n = _tot(fetch_parts, "fetched_n")
        requeued: set[str] = set()
        if self._all_seed_canons:
            for row in part_stats:
                requeued.update(row["seed_canons"] or [])
        img_bids = None
        if need_img_buckets:
            img_bids = sorted(
                {int(b) for row in part_stats for b in (row["img_buckets"] or [])}
            )
        t_judged = time.monotonic()
        sc.setJobDescription(f"round {r}: write")

        # --- seen deltas: every observed survivor enters seen (Q6) ---
        new_seen = judged.select(
            F.col("canon").alias("url"), F.col("sha1"), F.lit(r).alias("round")
        )

        # --- blocked rows (S10): visited rows that were never fetched ---
        blocked = judged.filter(F.col("blocked") & ~F.col("is_completed"))
        block_ops = blocked.select(
            F.col("canon").alias("url"),
            F.col("p_canon").alias("referrer"),
            F.lit(r).alias("round"),
            # a unique, deterministic order key after every visit priority
            F.concat(
                F.col("p_priority"), F.lit("/~b"),
                F.col("kind").cast("string"), F.lit("-"),
                F.col("pos").cast("string"),
            ).alias("priority"),
            F.lit("block").alias("op"),
        )

        allowed = judged.filter(~F.col("blocked") & ~F.col("is_completed"))

        # --- images (S2/S8/F5): the image fetch joins the assets table;
        # success requires an asset row whose Content-Type starts with
        # 'image/' (reference src/http.rs:70-76) and the BLOB is stored
        # (src/sqlite.rs:33-39). Without an assets table, fall back to
        # presence-in-pages metadata-only semantics ---
        img_rows = None
        if cfg.collect_images:
            img_rows = allowed.filter(F.col("kind") == 1).select(
                F.col("p_canon").alias("referrer"),
                F.col("canon").alias("url"),
                F.col("ser").alias("url_ser"),
                self._image_name(F.col("ser")).alias("name"),
                F.lit(r).alias("round"),
            )
            if self.assets is not None:
                adf = self.assets.select(
                    F.col("url").alias("url_ser"),
                    "content_type",
                    F.col("bytes").alias("image"),
                )
                img_rows = (
                    img_rows.join(adf, "url_ser", "left")
                    .withColumn(
                        "success",
                        F.coalesce(
                            F.col("content_type").startswith("image/"),
                            F.lit(False),
                        ),
                    )
                    .withColumn(
                        "image",
                        F.when(F.col("success"), F.col("image")),
                    )
                )
            else:
                # presence-in-pages fallback mirrors the fetch join: prune
                # the pages scan to the image candidates' buckets (ids rode
                # the stats job) and size the join mode from the IMAGE
                # candidate count, not the batch count
                img_pages = self.pages
                if img_bids is not None:
                    img_pages = img_pages.filter(
                        F.col("bucket").isin(img_bids)
                    )
                img_join_mode = cfg.fetch_join
                if img_join_mode == "auto":
                    img_join_mode = (
                        "broadcast"
                        if stats["img_n"] <= cfg.fetch_broadcast_limit
                        else "shuffle"
                    )
                img_small_side = (
                    F.broadcast if img_join_mode == "broadcast"
                    else (lambda d: d.hint("shuffle_hash"))
                )
                img_hit = (
                    img_pages.select(F.col("url").alias("url_ser"))
                    .join(
                        img_small_side(img_rows.select("url_ser")),
                        "url_ser", "inner",
                    )
                    .withColumn("success", F.lit(True))
                )
                img_rows = (
                    img_rows.join(img_hit, "url_ser", "left")
                    .fillna({"success": False})
                    .withColumn(
                        "content_type", F.lit(None).cast("string")
                    )
                    .withColumn("image", F.lit(None).cast("binary"))
                )

        # --- children: next frontier rows + completion edges (A4) ---
        children = allowed.filter(F.col("kind") == 0)
        if cfg.max_depth is not None:
            children = children.filter(F.col("p_depth") + 1 <= cfg.max_depth)
        w_rank = Window.partitionBy("p_canon").orderBy("pos")
        children = children.withColumn(
            "rank", F.row_number().over(w_rank) - 1
        ).withColumn(
            "priority", frontier_mod.child_priority(F.col("p_priority"), F.col("rank"))
        )
        new_rows = children.select(
            F.col("ser").alias("url"), "canon", "sha1", "host",
            F.col("p_canon").alias("referrer"), "priority",
            (F.col("p_depth") + 1).alias("depth"),
            F.lit(r).alias("added_round"),
        )
        edges = children.select(
            F.col("p_canon").alias("parent"),
            F.lit(r).alias("parent_round"),
            F.col("canon").alias("child"),
        )
        # a canon already queued must not be queued twice: only SEEDS can
        # hit this (every other frontier row is in the seen set, which the
        # candidates were anti-joined against). The queued-seed set lives on
        # the driver (<= |seeds| entries) and both its inputs rode earlier
        # jobs for free: seeds visited this round came off the batch
        # observation (queued_now), seeds re-discovered as children came off
        # the stats aggregate (requeued) — zero dedicated jobs. requeued is
        # computed pre-filter, which is equivalent: a canon still in
        # queued_now is already in the set, so the union is a no-op for it.
        if queued_now:
            new_rows = new_rows.filter(
                ~F.col("canon").isin(sorted(queued_now))
            )
        queued_after = queued_now | requeued

        # --- every remaining per-round output reads only the materialized
        # caches, so the table writes + bloom update run CONCURRENTLY
        # (independent Spark jobs share idle task slots; the catalog stages
        # deltas under a lock and nothing publishes until commit). The
        # counts from the stats job let drain rounds SKIP empty-side write
        # jobs entirely — a round with no images launches no images job ---
        bloom_path = os.path.join(self.catalog.root, f"bloom-{r:06d}.npy")

        def _bloom_task():
            self.bloom.add_dataframe(new_seen, sha1_col="sha1")
            self.bloom.save(bloom_path)

        tasks = [
            lambda: self.catalog.append(
                "visited_ops", visits.unionByName(block_ops), r
            ),
        ]
        if fetched_n > 0:
            tasks.append(lambda: self.catalog.append("fetched", fetched, r))
        wrote_bloom = False
        if stats["cand_n"] > 0:
            tasks.append(lambda: self.catalog.append("seen", new_seen, r))
            tasks.append(_bloom_task)
            wrote_bloom = True
        if stats["child_n"] > 0:
            tasks.append(lambda: self.catalog.append("edges", edges, r))
            # frontier is adds-only: O(children) written per round; visited
            # rows are masked at read time and physically dropped by the
            # periodic fold (never an O(frontier) rewrite per round)
            if self.bucketed_frontier is not None:
                tasks.append(
                    lambda: self.bucketed_frontier.insert(new_rows, r)
                )
            else:
                tasks.append(
                    lambda: self.catalog.append("frontier", new_rows, r)
                )
        if img_rows is not None and stats["img_n"] > 0:
            tasks.append(lambda: self.catalog.append("images", img_rows, r))

        new_total = self.total_visited + batch_n
        new_frontier_size = self.frontier_size
        if new_frontier_size is not None:
            # children all enter the frontier; batch rows leave it. Depth-
            # filtered children make this an overestimate (safe: trims more).
            new_frontier_size = max(
                0, new_frontier_size - batch_n + stats["child_n"]
            )

        # Everything from here to commit() stages deltas; a failure anywhere
        # must drop ALL staged deltas (not just the failing task's own) or a
        # later commit on this Catalog would publish a half-round, breaking
        # the atomic-round invariant that crash recovery relies on.
        def _labelled(task):
            with job_label(self.spark, f"round {r}: write"):
                task()

        try:
            with ThreadPoolExecutor(max_workers=len(tasks)) as pool:
                futures = [pool.submit(_labelled, t) for t in tasks]
                # metrics rows are O(partitions) driver-local data: stage
                # them as pyarrow parquet with ZERO Spark jobs (a Spark
                # write job for 40 rows is pure fixed floor)
                self._stage_metrics_local(
                    r, part_stats, fetch_parts, stats, batch_n, fetched_n,
                    new_total, new_frontier_size, t0,
                )
                for f in futures:
                    f.result()  # re-raise any failure before commit
            self.catalog.commit(
                r,
                {
                    "total_visited": new_total,
                    "frontier_size": new_frontier_size,
                    "queued_seeds": sorted(queued_after),
                    # an all-miss round leaves the bloom (and its snapshot
                    # pointer) unchanged
                    **({"bloom": bloom_path} if wrote_bloom else {}),
                },
            )
        except BaseException:
            if self.bucketed_frontier is not None:
                self.bucketed_frontier.rollback()
            self.catalog.abort()
            raise
        finally:
            hits.unpersist()
            judged.unpersist()
        if self.bucketed_frontier is not None:
            self.bucketed_frontier.finish_round()
        # driver counters advance only after a successful commit, so a caller
        # that catches a failed round and retries sees pre-round state
        self.total_visited = new_total
        self.frontier_size = new_frontier_size
        self._queued_seeds = queued_after
        self.phase_splits.append({
            "round": r,
            "select_s": round(t_batch - t0, 3),
            "pipeline_s": round(t_judged - t_batch, 3),
            "write_s": round(time.monotonic() - t_judged, 3),
        })
        self._debug_log(
            f"round {r}: visited {batch_n}, fetched {fetched_n}, "
            f"candidates {stats['cand_n']}, blocked {stats['blocked_n']}, "
            f"children {stats['child_n']}, "
            f"frontier ~{new_frontier_size}, "
            f"{time.monotonic() - t0:.1f}s "
            f"(select {t_batch - t0:.1f} / pipeline {t_judged - t_batch:.1f}"
            f" / write+commit {time.monotonic() - t_judged:.1f}, "
            f"jobs {self._job_counter() - jobs0})"
        )
        sc.setJobDescription(f"round {r}: post-commit")
        # auto-migrate to the host-bucketed layout once the frontier is big
        # enough that the politeness-rank shuffle dominates (the committed
        # extra makes the migration sticky across resumes)
        if (
            self.bucketed_frontier is None
            and self.cfg.frontier_auto_buckets
            and self.frontier_size is not None
            and self.frontier_size >= self.cfg.frontier_auto_bucket_threshold
        ):
            self._migrate_to_bucketed(r)
        # keep merge-on-read cost flat: fold long delta chains periodically
        # (the Iceberg rewrite_data_files analogue)
        for t in ("visited_ops", "seen", "edges", "fetched", "metrics", "images"):
            if self.catalog.delta_count(t) > 16:
                self.catalog.compact(t, r)
        if self.bucketed_frontier is not None:
            lc = int(self.catalog.extra("frontier_folded_round", -1))
            if r - lc > self.cfg.frontier_fold_deltas:
                self._fold_frontier(r)
        elif (
            self.catalog.delta_count("frontier")
            > self.cfg.frontier_fold_deltas
        ):
            self._fold_frontier(r)
        # disk GC: bloom snapshots strictly older than the one the manifest
        # references (rounds may skip bloom writes, so "r - 2" is not safe)
        ref_bloom = self.catalog.extra("bloom")
        if ref_bloom:
            import glob as _glob

            for p in _glob.glob(
                os.path.join(self.catalog.root, "bloom-*.npy")
            ):
                if p < ref_bloom:
                    try:
                        os.remove(p)
                    except OSError:
                        pass
        self.round = r + 1
        return True

    # ------------------------------------------------------------------
    def _migrate_to_bucketed(self, r: int) -> None:
        """Fold the delta-chain frontier into a host-bucketed table
        mid-crawl (equivalent to a physical fold, so added_round values and
        the visit mask stay valid). Crash-safe: until the commit publishes
        ``frontier_bucketed_n``, resume keeps reading the untouched
        delta-chain (the overwrite below stays staged), and orphan bucketed
        files are rewritten by the next migration attempt."""
        from crabspark.tables import BucketedFrontier

        try:
            bf = BucketedFrontier(
                self.catalog, self.cfg.frontier_auto_buckets
            )
        except Exception as e:  # session without catalog support
            self._debug_log(f"auto-bucket unavailable, staying flat: {e}")
            self.cfg.frontier_auto_buckets = 0
            return
        live = self._live_frontier(self.catalog.read("visited_ops"))
        if live is None:
            return
        bf.replace(live, r)
        # retire the delta-chain table (logical truncate; GC'd post-commit)
        self.catalog.overwrite("frontier", self._empty(FRONTIER_SCHEMA), r)
        self.catalog.commit(
            r,
            {
                "frontier_bucketed_n": self.cfg.frontier_auto_buckets,
                "frontier_folded_round": r,
                "visited_at_fold": self.total_visited,
                "frontier_seeded": True,
            },
        )
        self.bucketed_frontier = bf
        self.catalog.gc_superseded("frontier")
        self._debug_log(
            f"frontier auto-migrated to {self.cfg.frontier_auto_buckets} "
            f"host buckets at ~{self.frontier_size} rows"
        )

    def _live_frontier(self, ops: DataFrame | None) -> DataFrame | None:
        """Merge-on-read view of the adds-only frontier: a row is live iff
        no LATER round visited its canon. ``max(visit round) <= added_round``
        (not ``<``) keeps the re-queued-seed case correct — within a round,
        visits happen at the start and discovery at the end, so a canon
        visited in round r and re-discovered in round r is queued again.
        Visits at or before the last fold are already applied physically,
        so the mask join scans only the visits of the last few rounds.

        Bucketed layout: the mask is a BROADCAST left-anti join (the visits
        side is bounded by fold-period × batch size), which PRESERVES the
        scan's hash-partitioning on host — the politeness window then needs
        no Exchange. ``EXISTS visit with round > added_round`` is exactly
        the ``max(visit round) <= added_round`` liveness predicate."""
        lc = int(self.catalog.extra("frontier_folded_round", -1))
        if self.bucketed_frontier is not None:
            adds = self.bucketed_frontier.read()
            if adds is None:
                return None
            if ops is None:
                return adds
            visits = ops.filter(
                (F.col("op") == "visit") & (F.col("round") > lc)
            ).select("url", "round")
            # size-gate the mask broadcast: _round() folds before the mask
            # side can outgrow the limit, so this normally broadcasts (and
            # preserves the scan's host hash-partitioning — the politeness
            # rank stays exchange-free). The defensive else-branch (resumed
            # workdir mid-state) lets Spark plan a shuffle join instead of
            # force-broadcasting an unbounded side.
            bound = self._visits_since_fold()
            mask_small = (
                bound is not None and bound <= self.cfg.fetch_broadcast_limit
            )
            return adds.join(
                F.broadcast(visits) if mask_small else visits,
                (adds["canon"] == visits["url"])
                & (visits["round"] > adds["added_round"]),
                "left_anti",
            )
        adds = self.catalog.read("frontier")
        if adds is None:
            return None
        if ops is None:
            return adds
        vmax = (
            ops.filter((F.col("op") == "visit") & (F.col("round") > lc))
            .groupBy("url")
            .agg(F.max("round").alias("__vmax"))
            .withColumnRenamed("url", "canon")
        )
        return (
            adds.join(vmax, on="canon", how="left")
            .filter(
                F.col("__vmax").isNull()
                | (F.col("__vmax") <= F.col("added_round"))
            )
            .drop("__vmax")
        )

    def _visits_since_fold(self) -> int | None:
        """Upper bound on the live-mask side: visits accumulated since the
        last physical fold (every batch row is exactly one visit op)."""
        vat = self.catalog.extra("visited_at_fold")
        if vat is None:
            return None
        return max(0, self.total_visited - int(vat))

    def _fold_frontier(self, r: int) -> None:
        """Physically drop visited rows and fold the delta chain to one
        file set — the amortized O(live) rewrite (every
        ``frontier_fold_deltas`` rounds) that replaces the old
        O(frontier)-per-round overwrite."""
        live = self._live_frontier(self.catalog.read("visited_ops"))
        if live is None:
            return
        extras = {
            "frontier_folded_round": r,
            # resets the mask-side bound _visits_since_fold() tracks
            "visited_at_fold": self.total_visited,
        }
        if self.bucketed_frontier is not None:
            # added_round values are preserved, so the committed-round read
            # mask stays valid; a crash mid-swap rolls forward from the
            # intent, and an uncommitted folded_round extra only widens the
            # (idempotent) visit mask
            self.bucketed_frontier.replace(live, r)
            self.catalog.commit(r, extras)
        else:
            self.catalog.overwrite("frontier", live, r)
            self.catalog.commit(r, extras)
            self.catalog.gc_superseded("frontier")

    # ------------------------------------------------------------------
    def ingest_candidates(self, cand_catalog) -> int:
        """Fold stream-ingested page captures (streaming.start_page_ingest
        writes a ``candidates`` table in its OWN catalog) into the frontier
        at a round boundary. Returns the number of rows queued.

        Semantics mirror the engine's own child discovery: candidates are
        deduped on canon, anti-joined against the seen set (bloom-routed),
        and — crucially — ALSO entered into the seen set + bloom, which
        preserves the frontier-dedup invariant ("every frontier row except
        seeds is in seen"); a page that later links to an ingested canon is
        dropped by the normal seen anti-join instead of double-queueing.
        Each survivor becomes a new DFS root: top-level seed-class priority
        continuing the seed index sequence, depth 0, referrer INGESTED. A
        high-water mark on the stream's batch ids makes repeated calls
        idempotent. The global order window here is bounded by one ingest
        increment (not the frontier), so the single-partition sort is fine.
        """
        last = int(self.catalog.extra("ingested_candidates_batch", -1))
        stream_mark = int(cand_catalog.extra("ingest_last_batch", -1))
        cand = cand_catalog.read("candidates")
        if cand is None or stream_mark <= last:
            return 0
        r = self.round
        cand = cand.filter(F.col("discovered_batch") > last)
        # first observer wins within the increment (stable across retries)
        cand = frontier_mod.first_occurrence(
            cand, ["canon"], [F.col("discovered_batch"), F.col("url")]
        )
        unseen = filter_unseen(
            cand, self.catalog.read("seen"), self.bloom,
            sha1_col="sha1", cand_key="canon", seen_key="url",
        )
        if self._queued_seeds:
            unseen = unseen.filter(
                ~F.col("canon").isin(sorted(self._queued_seeds))
            )
        w = Window.orderBy("discovered_batch", "canon")
        seq0 = int(self.catalog.extra("ingest_seed_seq", len(self.cfg.seeds)))
        ranked = unseen.withColumn("__rk", F.row_number().over(w) - 1)
        prio = frontier_mod.seed_priority_col(F.col("__rk") + F.lit(seq0))
        new_rows = ranked.select(
            "url", "canon", "sha1", "host",
            F.lit("INGESTED").alias("referrer"),
            prio.alias("priority"),
            F.lit(0).alias("depth"),
            F.lit(r - 1).alias("added_round"),
        ).localCheckpoint()
        n = new_rows.count()
        if n == 0:
            self.catalog.commit(
                r - 1, {"ingested_candidates_batch": stream_mark}
            )
            return 0
        try:
            if self.bucketed_frontier is not None:
                # guard: this insert lands at rnd == committed_round, so the
                # round check alone cannot see a crash before the paired
                # commit — recover() rolls it back while the committed
                # high-water mark is still behind stream_mark (ADVICE r3)
                self.bucketed_frontier.insert(
                    new_rows, r - 1,
                    guard={
                        "key": "ingested_candidates_batch",
                        "value": stream_mark,
                    },
                )
            else:
                self.catalog.append("frontier", new_rows, r - 1)
            new_seen = new_rows.select(
                F.col("canon").alias("url"), "sha1",
                F.lit(r - 1).alias("round"),
            )
            self.catalog.append("seen", new_seen, r - 1)
            bloom_path = os.path.join(
                self.catalog.root, f"bloom-{r - 1:06d}i.npy"
            )
            self.bloom.add_dataframe(new_seen, sha1_col="sha1")
            self.bloom.save(bloom_path)
            requeued = {
                row["canon"]
                for row in new_rows.filter(
                    F.col("canon").isin(sorted(self._all_seed_canons))
                ).select("canon").collect()
            } if self._all_seed_canons else set()
            queued_after = self._queued_seeds | requeued
            new_size = (
                None if self.frontier_size is None
                else self.frontier_size + n
            )
            self.catalog.commit(
                r - 1,
                {
                    "ingested_candidates_batch": stream_mark,
                    "ingest_seed_seq": seq0 + n,
                    "frontier_size": new_size,
                    "bloom": bloom_path,
                    "queued_seeds": sorted(queued_after),
                },
            )
        except BaseException:
            if self.bucketed_frontier is not None:
                self.bucketed_frontier.rollback()
            self.catalog.abort()
            raise
        if self.bucketed_frontier is not None:
            self.bucketed_frontier.finish_round()
        self.frontier_size = new_size
        self._queued_seeds = queued_after
        self._debug_log(f"ingested {n} streamed candidates as new roots")
        return n

    # ------------------------------------------------------------------
    def finalize(self) -> None:
        """Completion propagation (A4, quirks Q4/Q5/Q10): iterative
        bad-call fixpoint over the per-visit edge tree, bounded by crawl
        depth. All joins are O(visited), never O(frontier)."""
        with job_label(self.spark, "finalize"):
            self._propagate_completion()

    def _propagate_completion(self) -> None:
        ops = self.catalog.read("visited_ops")
        if ops is None:
            return
        # (url, round) visit rows are already unique — one row per batch
        # row, batches are deduped, and a re-queued seed re-visits in a
        # LATER round — so no distinct shuffle is needed here (dup marks
        # are deduped at the end regardless)
        visits = ops.filter(F.col("op") == "visit").select("url", "round").cache()
        fetched = self.catalog.read("fetched")
        fetched_visits = (
            fetched.select("url", "round").cache()
            if fetched is not None
            else self._empty("url string, round int")
        )
        edges_df = self.catalog.read("edges")
        if edges_df is None:
            edges_df = self._empty(EDGES_SCHEMA)
        # bad(0): children never visited (cap-truncated frontier remainder)
        bad = (
            edges_df.select(F.col("child").alias("url"))
            .distinct()
            .join(visits.select("url").distinct(), "url", "left_anti")
            .localCheckpoint()
        )
        if bad.isEmpty():
            # the common drained-frontier case: every discovered child was
            # visited, so no visit has a failed call — skip the last-edge
            # resolution and the whole propagation loop (they were ~half
            # the finalize wall on the 400k fixture). fetched rows are a
            # subset of visits by construction (every fetched row comes
            # from a batch row, which is a visit), so `visits semi-join
            # fetched` reduces to fetched itself — no join needed.
            complete = fetched_visits.select("url").distinct()
            self._write_complete_marks(complete)
            visits.unpersist()
            fetched_visits.unpersist()
            return
        last_visit = visits.groupBy("url").agg(F.max("round").alias("last_round"))
        # edges attached to the parent's LAST visit (only the seed can have
        # more than one; its re-visit has no edges -> vacuous success, Q10)
        last_edges = (
            edges_df.join(
                last_visit,
                (edges_df["parent"] == last_visit["url"])
                & (edges_df["parent_round"] == last_visit["last_round"]),
                "inner",
            )
            .select("parent", "parent_round", "child")
            .cache()
        )
        # DELTA iteration: each step joins the edge table against only the
        # NEWLY-bad nodes (not the whole accumulated set) — per-step work
        # shrinks with the delta instead of re-scanning O(|bad|) matches,
        # so total work is O(edges × graph depth) worst case but O(edges +
        # Σ|delta|) in the common shallow-crawl case. TWO levels propagate
        # per loop iteration, halving the per-iteration driver actions
        # (isEmpty + checkpoint each cost a full job-floor latency; the
        # extra lazy join for an already-empty level is free).
        def _parents_of(d):
            return (
                last_edges.join(
                    d.withColumnRenamed("url", "child"), "child", "inner"
                )
                .select(F.col("parent").alias("url"))
                .distinct()
                .join(bad, "url", "left_anti")
            )

        # ancestor chains cannot exceed the crawl depth when it is bounded
        max_loops = (
            None if self.cfg.max_depth is None
            else self.cfg.max_depth // 2 + 1
        )
        delta = bad
        loops = 0
        while max_loops is None or loops < max_loops:
            loops += 1
            lvl1 = _parents_of(delta).localCheckpoint(eager=False)
            lvl2 = _parents_of(lvl1).join(lvl1, "url", "left_anti")
            delta = lvl1.unionByName(lvl2).localCheckpoint(eager=False)
            if delta.isEmpty():
                break
            bad = bad.unionByName(delta).localCheckpoint()
        # a visit is complete iff it fetched ok and no edge-child call failed
        bad_visits = (
            edges_df.join(bad.withColumnRenamed("url", "child"), "child", "inner")
            .select(
                F.col("parent").alias("url"),
                F.col("parent_round").alias("round"),
            )
            .distinct()
        )
        # fetched ⊆ visits (url, round) by construction, so the semi-join
        # against visits is a no-op — anti-join the bad visits directly
        complete = (
            fetched_visits.join(bad_visits, ["url", "round"], "left_anti")
            .select("url")
            .distinct()
        )
        self._write_complete_marks(complete)
        visits.unpersist()
        fetched_visits.unpersist()
        last_edges.unpersist()

    def _write_complete_marks(self, complete: DataFrame) -> None:
        marks = complete.select(
            "url",
            F.lit(None).cast("string").alias("referrer"),
            F.lit(self.round).alias("round"),
            F.lit("").alias("priority"),
            F.lit("complete").alias("op"),
        )
        self.catalog.append("visited_ops", marks, self.round)
        self.catalog.commit(self.round, {"total_visited": self.total_visited})

    # ------------------------------------------------------------------
    def read_visited(self) -> DataFrame:
        """Reconstruct the visited table from the op log (merge-on-read:
        latest visit/block row wins for referrer/is_blocked; is_complete is
        sticky — exactly SQLite's upsert semantics, src/sqlite.rs:24-59)."""
        ops = self.catalog.read("visited_ops")
        if ops is None:
            return self._empty(
                "url string, referrer string, is_blocked boolean, "
                "last_visited_round int, is_complete boolean"
            )
        rb = ops.filter(F.col("op") != "complete")
        w = Window.partitionBy("url").orderBy(F.desc("round"), F.desc("priority"))
        latest = (
            rb.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(
                "url", "referrer",
                (F.col("op") == "block").alias("is_blocked"),
                F.col("round").alias("last_visited_round"),
            )
        )
        completed = (
            ops.filter(F.col("op") == "complete")
            .select("url")
            .distinct()
            .withColumn("is_complete", F.lit(True))
        )
        return latest.join(completed, "url", "left").fillna({"is_complete": False})

    def read_seen(self) -> DataFrame:
        seen = self.catalog.read("seen")
        if seen is None:
            return self._empty("url string, sha1 string, round int")
        return seen.select("url").distinct()

    def visit_log(self) -> DataFrame:
        """Visit events in order: (url, referrer, round, priority)."""
        ops = self.catalog.read("visited_ops")
        if ops is None:
            return self._empty(OPS_SCHEMA)
        return ops.filter(F.col("op") == "visit").orderBy("round", "priority")

    def link_graph(self) -> DataFrame:
        """The crawl's distinct canonical link graph as (src, dst) — the
        input shape crabspark.graph's degree/PageRank operators take.
        Self-loops dropped (a page linking to itself contributes no
        authority and breaks the dangling classification)."""
        edges = self.catalog.read("edges")
        if edges is None:
            return self._empty("src string, dst string")
        return (
            edges.select(
                F.col("parent").alias("src"), F.col("child").alias("dst")
            )
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )

    def host_graph(self) -> DataFrame:
        """The crawl's link graph collapsed to host level — one row per
        (src_host, dst_host) with link count / distinct source pages /
        internal flag. Edge nodes are STORAGE-canonical URLs
        (format_url_for_storage: scheme+www+query stripped, so the host
        is everything before the first '/'); extraction is one JVM-side
        split, no Python in the path. The collapse itself is
        crabspark.graph.host_graph's single map-side-combinable agg."""
        from crabspark.graph import host_graph as _host_graph

        return _host_graph(self.link_graph(), host_of="split(NODE, '/')[0]")
