"""Structured Streaming ingest: continuous page-snapshot arrival.

The crawl loop itself is deliberately batch-incremental (SURVEY.md §7.6) —
per-round global rank-and-select + snapshot commits do not fit the
incremental streaming model. What IS a stream in a production crawl is the
*input*: new Common-Crawl-style page captures landing as parquet files.
This module tails such a directory with ``readStream`` and, per
micro-batch (``foreachBatch`` = exactly-once via the catalog's atomic
commit, ``_exactly_once``), appends the new captures as seed candidates:

  new pages -> canonicalize/hash (same kernels as the engine)
            -> candidates(url, canon, sha1, host, discovered_batch)

The engine can then fold ``candidates`` into its frontier at the next
round boundary (anti-joined against seen as usual). Watermark/late-data
handling is not needed: page captures are facts, not events — the only
ordering that matters is the batch id recorded per row.
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crabspark import urlkit
from crabspark.shipping import ship_package
from crabspark.tables import Catalog
from crabspark.warc import PAGES_SCHEMA


def _tail(spark: SparkSession, schema: str, src_dir: str, files: int = 8):
    """A stream of the parquet files landing in ``src_dir``, at most
    ``files`` of them per micro-batch."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", files)
        .parquet(src_dir)
    )


def _exactly_once(catalog: Catalog, mark: str, body):
    """The ``foreachBatch`` function every catalog sink shares.
    ``body(batch_df, batch_id, append)`` stages rows with
    ``append(table, df)``; one atomic commit publishes them with
    ``batch_id`` as the high-water mark in the manifest extra ``mark``;
    then each table written whose chain has grown long is compacted, so
    a store's read cost grows with its rows, not its batches."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        bid = int(batch_id)
        # Abort-at-entry: a batch of ANY sink on this Catalog that failed
        # before its commit left its deltas staged; the retried batch would
        # stage its own ON TOP and one commit would publish both,
        # duplicating rows. Sinks on one catalog run one at a time, so
        # dropping stale staged state here is safe.
        catalog.abort()
        # Replay guard: a crash between the commit and Spark's checkpoint
        # write replays the batch id, so ids at or below the high-water
        # mark are skipped. (Ids are monotone within one checkpoint
        # location; a fresh checkpoint dir requires a fresh catalog.)
        if bid <= int(catalog.extra(mark, -1)):
            return
        wrote = set()

        def append(name: str, df: DataFrame) -> None:
            catalog.append(name, df, bid)
            wrote.add(name)

        body(batch_df, bid, append)
        # committed_round is monotone in the catalog; the high-water mark
        # rides the same atomic manifest write as the delta publish
        catalog.commit(bid, {mark: bid})
        for name in catalog.long_chains(wrote):
            catalog.compact(name, bid)

    return sink


def _start(stream: DataFrame, sink, checkpoint_dir: str):
    """Run ``sink`` over every micro-batch available now; returns the
    StreamingQuery."""
    return (
        stream.writeStream.outputMode("append")
        .foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _canon_udf():
    @F.pandas_udf("ser string, domain string, canon string, sha1 string")
    def _c(url: pd.Series) -> pd.DataFrame:
        parsed = urlkit.parse_serialize(url)
        canon = urlkit.canonicalize(parsed["ser"])
        return pd.DataFrame(
            {
                "ser": parsed["ser"],
                "domain": parsed["domain"],
                "canon": canon,
                "sha1": urlkit.sha1_hex(canon),
            }
        )

    return _c


def start_page_ingest(
    spark: SparkSession,
    pages_dir: str,
    catalog: Catalog,  # MUST be a dedicated candidates catalog, never the
    # engine's own workdir catalog: foreachBatch commits per micro-batch,
    # which would publish the engine's half-staged round deltas
    checkpoint_dir: str,
    pages_schema: str = PAGES_SCHEMA,
):
    """Tail pages_dir for new parquet files; per micro-batch, append
    canonicalized candidate rows to the catalog. Returns the
    StreamingQuery (caller: q.processAllAvailable() / q.stop())."""
    stream = _tail(spark, pages_schema, pages_dir)
    return _start_candidate_ingest(spark, stream, catalog, checkpoint_dir)


def start_warc_ingest(
    spark: SparkSession,
    warc_dir: str,
    catalog: Catalog,  # dedicated candidates catalog (see start_page_ingest)
    checkpoint_dir: str,
):
    """Tail warc_dir for new `.warc[.gz]` / WET archives (the shape a
    live Common-Crawl-style feed lands in); parse records executor-side
    and run the SAME idempotent candidate sink as the parquet ingest —
    one archive per binaryFile task, so a landing dir of 1 GB archives
    streams at file granularity."""
    from crabspark.warc import _records_to_pages

    stream = (
        spark.readStream.format("binaryFile")
        # binaryFile's schema is fixed but streaming sources require it
        # stated explicitly
        .schema(
            "path string, modificationTime timestamp, "
            "length long, content binary"
        )
        .option("pathGlobFilter", "*.warc*")
        .option("maxFilesPerTrigger", 8)
        .load(warc_dir)
        .select("content")
    )

    def parse(it):
        for pdf in it:
            yield _records_to_pages(pdf["content"])

    return _start_candidate_ingest(
        spark, stream.mapInPandas(parse, PAGES_SCHEMA), catalog,
        checkpoint_dir,
    )


def _start_candidate_ingest(
    spark: SparkSession,
    stream: DataFrame,
    catalog: Catalog,
    checkpoint_dir: str,
):
    ship_package(spark)
    canon = _canon_udf()

    def body(batch_df: DataFrame, bid: int, append) -> None:
        append(
            "candidates",
            batch_df.select("url")
            .withColumn("c", canon(F.col("url")))
            .select(
                F.col("c.ser").alias("url"),
                F.col("c.canon").alias("canon"),
                F.col("c.sha1").alias("sha1"),
                F.col("c.domain").alias("host"),
                F.lit(bid).alias("discovered_batch"),
            )
            .filter(F.col("url").isNotNull()),
        )

    return _start(
        stream, _exactly_once(catalog, "ingest_last_batch", body),
        checkpoint_dir,
    )


def start_neardup_gate(
    spark: SparkSession,
    docs_dir: str,
    catalog: Catalog,
    checkpoint_dir: str,
    thresh: float = 0.8,
    docs_schema: str = "doc_id long, text string, lang string, source string",
):
    """Streaming near-duplicate gate: incremental MinHash-LSH dedup at
    INGEST time — each arriving document is checked against the whole
    accumulated corpus before it is admitted (the shape a training-data
    pipeline needs: dedup as data lands, not as a nightly all-corpus job).

    Per micro-batch: 2-gram shingles -> xxhash64 -> 12 minhashes -> 3x4
    LSH bands; candidates are band collisions against (a) the persistent
    signature store and (b) earlier-id docs of the same batch; candidates
    verify by exact Jaccard over the hashed-shingle arrays at ``thresh``.
    Flagged docs land in ``neardup_log(doc_id, dup_of, jaccard)``; only
    clean docs enter the store (``sig_shingles`` + ``sig_bands``), so the
    store stays near-dup-free and grows O(distinct corpus).

    Scale: the store-side join is on band keys (near-linear candidates by
    LSH construction, never all-pairs); the verify stage ships fixed-width
    int64 arrays. Exactly-once via the shared sink (``_exactly_once``),
    which also compacts the store's tables as their delta chains grow, so
    the band join's scan cost stays O(corpus), not O(batches)."""
    ship_package(spark)
    from crabspark.queries import _SHINGLE_SPARK, _TOK_SPARK

    n_bands, n_rows = 3, 4
    n_hash = n_bands * n_rows

    def _sigs(docs: DataFrame):
        sh = docs.select(
            "doc_id", F.expr(_TOK_SPARK).alias("toks")
        ).select(
            "doc_id",
            F.expr(
                f"transform({_SHINGLE_SPARK}, x -> xxhash64(x))"
            ).alias("sh"),
        )
        sig = sh.select(
            "doc_id", "sh",
            *[
                F.array_min(
                    F.expr(f"transform(sh, x -> xxhash64(x, {i}))")
                ).alias(f"mh{i}")
                for i in range(n_hash)
            ],
        )
        bands = sig.select(
            "doc_id",
            F.explode(
                F.array(
                    *[
                        F.concat_ws(
                            ":", F.lit(str(k)),
                            *[
                                F.col(f"mh{k * n_rows + j}").cast("string")
                                for j in range(n_rows)
                            ],
                        )
                        for k in range(n_bands)
                    ]
                )
            ).alias("bkey"),
        )
        return sig.select("doc_id", "sh"), bands

    stream = _tail(spark, docs_schema, docs_dir, files=1)

    def body(batch_df: DataFrame, bid: int, append) -> None:
        sigs, bands = _sigs(batch_df)
        sigs = sigs.localCheckpoint()
        bands = bands.localCheckpoint()
        empty_b = spark.createDataFrame([], "doc_id long, bkey string")
        empty_s = spark.createDataFrame([], "doc_id long, sh array<bigint>")
        stored_b = catalog.read("sig_bands") or empty_b
        stored_s = catalog.read("sig_shingles") or empty_s
        cand_ext = bands.join(
            stored_b.withColumnRenamed("doc_id", "dup_of"), "bkey"
        ).select("doc_id", "dup_of")
        cand_int = bands.join(
            bands.select(F.col("doc_id").alias("dup_of"), "bkey"), "bkey"
        ).filter(F.col("doc_id") > F.col("dup_of")).select("doc_id", "dup_of")
        cand = cand_ext.unionByName(cand_int).dropDuplicates()
        sh_lookup = stored_s.unionByName(sigs).select(
            F.col("doc_id").alias("dup_of"), F.col("sh").alias("sh_b")
        )
        jac = F.round(
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
            4,
        )
        verified = (
            cand.join(sigs.select("doc_id", F.col("sh").alias("sh_a")), "doc_id")
            .join(sh_lookup, "dup_of")
            .withColumn("jaccard", jac)
            .filter(F.col("jaccard") >= thresh)
        )
        # deterministic canonical: lowest-id qualifying dup target wins
        dups = (
            verified.groupBy("doc_id")
            .agg(
                F.min_by(
                    F.struct("dup_of", "jaccard"), F.col("dup_of")
                ).alias("w")
            )
            .select(
                "doc_id", F.col("w.dup_of").alias("dup_of"),
                F.col("w.jaccard").alias("jaccard"),
            )
            .localCheckpoint()
        )
        append("sig_shingles", sigs.join(dups, "doc_id", "left_anti"))
        append("sig_bands", bands.join(dups, "doc_id", "left_anti"))
        if not dups.isEmpty():
            append("neardup_log", dups.withColumn("batch", F.lit(bid)))

    return _start(
        stream, _exactly_once(catalog, "neardup_last_batch", body),
        checkpoint_dir,
    )


def start_quality_gate(
    spark: SparkSession,
    docs_dir: str,
    catalog: Catalog,
    checkpoint_dir: str,
    docs_schema: str = "doc_id long, text string, lang string, source string",
):
    """Streaming quality gate: Gopher-style keep/drop at INGEST time — the
    same verdict rules as the batch `quality_filter` (one shared
    expression, `crabspark.queries.quality_verdict_expr`), applied per
    micro-batch. Admitted docs land in ``clean_docs``; rejects land in
    ``quality_log(doc_id, verdict)`` so the drop reasons are auditable.
    Stateless (each doc judged on its own features), so the gate is pure
    map-side work — no store, no join, no shuffle — and composes in front
    of the stateful near-dup gate. Exactly-once via the shared sink
    (``_exactly_once``)."""
    ship_package(spark)
    from crabspark.queries import _TOK_SPARK, quality_verdict_expr

    stream = _tail(spark, docs_schema, docs_dir)

    def body(batch_df: DataFrame, bid: int, append) -> None:
        judged = (
            batch_df.withColumn("toks", F.expr(_TOK_SPARK))
            .withColumn("verdict", quality_verdict_expr())
            .drop("toks")
            .localCheckpoint()  # judge once, feed both sinks
        )
        keep = judged.filter(F.col("verdict") == "keep").drop("verdict")
        rejects = judged.filter(F.col("verdict") != "keep").select(
            "doc_id", "verdict", F.lit(bid).alias("batch")
        )
        append("clean_docs", keep)
        if not rejects.isEmpty():
            append("quality_log", rejects)

    return _start(
        stream, _exactly_once(catalog, "quality_last_batch", body),
        checkpoint_dir,
    )


def start_polite_gate(
    spark: SparkSession,
    pages_dir: str,
    catalog: Catalog,
    checkpoint_dir: str,
    delay_ms: int = 1000,
    pages_schema: str = PAGES_SCHEMA,
):
    """CUSTOM STATEFUL streaming operator (``applyInPandasWithState``):
    the reference's per-request politeness delay (crawler_request_delay_ms,
    reference src/crawl.rs:88 thread::sleep between fetches) recast as a
    streaming admission gate. Per host, state carries the event-time of
    the last ADMITTED request; an arriving capture is admitted iff at
    least ``delay_ms`` of event time passed since, else deferred with its
    remaining wait. State lives in the streaming checkpoint, so a
    restarted query keeps enforcing the delay across micro-batches — the
    semantics a distributed fetch scheduler needs and that watermarked
    aggregation alone cannot express (the decision is sequential per
    host). The per-row loop inside the pandas group is inherent: each
    admission depends on the previous one; groups batch through Arrow.

    Determinism: rows are processed in (ts_ms, url) order within each
    micro-batch, so replays produce identical decisions."""
    ship_package(spark)
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    host = F.regexp_extract("url", r"^https?://([^/?#]+)", 1)
    src = _tail(spark, pages_schema, pages_dir).select(
        "url",
        host.alias("host"),
        (F.col("warc_ts").cast("double") * 1000).cast("long").alias("ts_ms"),
    )

    out_schema = "url string, host string, ts_ms long, allowed boolean, wait_ms long"
    state_schema = "last_ms long"

    def gate(key, pdfs, state: GroupState):
        (h,) = key
        last = int(state.get[0]) if state.exists else -(10**15)
        rows = pd.concat(list(pdfs))
        rows = rows.sort_values(["ts_ms", "url"]).reset_index(drop=True)
        allowed, wait = [], []
        for ts in rows["ts_ms"].astype("int64"):
            if ts - last >= delay_ms:
                allowed.append(True)
                wait.append(0)
                last = int(ts)
            else:
                allowed.append(False)
                wait.append(int(last + delay_ms - ts))
        state.update((last,))
        yield pd.DataFrame(
            {
                "url": rows["url"],
                "host": rows["host"],
                "ts_ms": rows["ts_ms"],
                "allowed": allowed,
                "wait_ms": wait,
            }
        )

    gated = src.groupBy("host").applyInPandasWithState(
        gate, out_schema, state_schema, "append",
        GroupStateTimeout.NoTimeout,
    )

    def body(batch_df: DataFrame, bid: int, append) -> None:
        append("polite_log", batch_df)

    return _start(
        gated, _exactly_once(catalog, "polite_last_batch", body),
        checkpoint_dir,
    )


def start_host_rate(
    spark: SparkSession,
    pages_dir: str,
    catalog: Catalog,
    checkpoint_dir: str,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
    pages_schema: str = PAGES_SCHEMA,
):
    """Watermarked windowed aggregation over the capture stream: pages per
    (host, event-time window). Append output mode, so a window row is
    emitted exactly once — when the watermark passes its end — and
    captures arriving later than the watermark are DROPPED, not
    double-counted (the late-data contract a downstream scheduler relies
    on). Watermark state lives in the checkpoint: restarts with the same
    checkpoint keep finalized windows closed. The sink appends finalized
    rows to the catalog through the shared exactly-once sink
    (``_exactly_once``)."""
    host = F.regexp_extract("url", r"^https?://([^/?#]+)", 1)
    agg = (
        _tail(spark, pages_schema, pages_dir)
        .withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("win"), host.alias("host"))
        .agg(F.count("*").alias("n_pages"))
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "host", "n_pages",
        )
    )

    def body(batch_df: DataFrame, bid: int, append) -> None:
        append("host_rate", batch_df)

    return _start(
        agg, _exactly_once(catalog, "hostrate_last_batch", body),
        checkpoint_dir,
    )


def start_warc_export(
    spark: SparkSession,
    pages_dir: str,
    outdir: str,
    checkpoint_dir: str,
    wet: bool = False,
    pages_schema: str = PAGES_SCHEMA,
):
    """Streaming archival sink — the write-side twin of start_warc_ingest:
    tail pages_dir for new parquet and roll each micro-batch into its own
    WARC (or WET) archive set under ``outdir/b{batch:06d}/`` with
    per-record gzip members + CDX sidecars (crabspark.warc.write_warc /
    write_wet). This is how a live crawl publishes a Common-Crawl-style
    feed incrementally: downstream consumers see whole, indexed archives
    appear batch-by-batch, and read_warc/read_cdx over ``outdir`` see
    the union (both readers do a recursive glob-filtered listing).

    Crash safety: the batch's subdir is wiped and rewritten on re-entry,
    and a ``_batch-N.done`` marker lands only after every archive in the
    batch is fully written — so a crash between the writer and Spark's
    offset checkpoint replays the batch into the same subdir with no
    duplicate or stale part files, and a marker means the subdir is
    complete and immutable. Exactly-once at archive granularity, the
    same replay-guard shape as the candidate-sink's high-water mark."""
    import shutil

    from crabspark.warc import write_warc, write_wet

    ship_package(spark)
    os.makedirs(outdir, exist_ok=True)
    stream = _tail(spark, pages_schema, pages_dir)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        tag = f"b{int(batch_id):06d}"
        marker = os.path.join(outdir, f"_batch-{tag}.done")
        if os.path.exists(marker):
            return  # replayed after the marker: the subdir is complete
        sub = os.path.join(outdir, tag)
        shutil.rmtree(sub, ignore_errors=True)  # half-written prior try
        writer = write_wet if wet else write_warc
        n = writer(batch_df, sub, gzip_out=True, prefix=tag)
        with open(marker, "w") as f:
            f.write(str(n))

    return _start(stream, sink, checkpoint_dir)
