"""Structured Streaming candidate ingest: continuous page-capture arrival.

The crawl loop itself is deliberately batch-incremental (SURVEY.md §7.6) —
per-round global rank-and-select + snapshot commits do not fit the
incremental streaming model. What IS a stream in a production crawl is the
*input*: new Common-Crawl-style page captures landing as parquet files
(``start_page_ingest``) or WARC/WET archives (``start_warc_ingest``).
Both tail their directory with ``readStream`` and run one exactly-once
``foreachBatch`` sink that appends the new captures as seed candidates:

  new pages -> canonicalize/hash (same kernels as the engine)
            -> candidates(url, canon, sha1, host, discovered_batch)

The engine can then fold ``candidates`` into its frontier at the next
round boundary (``Engine.ingest_candidates``, anti-joined against seen as
usual). Watermark/late-data handling is not needed: page captures are
facts, not events — the only ordering that matters is the batch id
recorded per row.
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

# archives or parquet files per micro-batch
_FILES_PER_TRIGGER = 8


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
):
    """Tail pages_dir for new parquet files; per micro-batch, append
    canonicalized candidate rows to the catalog. Returns the
    StreamingQuery (caller: q.processAllAvailable() / q.stop())."""
    stream = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", _FILES_PER_TRIGGER)
        .parquet(pages_dir)
    )
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
        .option("maxFilesPerTrigger", _FILES_PER_TRIGGER)
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


def _last_offset_batch(checkpoint_dir: str) -> int:
    """The last micro-batch id a streaming checkpoint planned (its
    ``offsets`` log), or -1 for a fresh checkpoint."""
    offsets = os.path.join(checkpoint_dir, "offsets")
    if not os.path.isdir(offsets):
        return -1
    return max((int(f) for f in os.listdir(offsets) if f.isdigit()), default=-1)


def _start_candidate_ingest(
    spark: SparkSession,
    stream: DataFrame,
    catalog: Catalog,
    checkpoint_dir: str,
):
    """Run the exactly-once candidate sink over every micro-batch
    available now; returns the StreamingQuery. One atomic commit per
    batch publishes its rows with the batch id as the high-water mark
    ``ingest_last_batch``; then a long ``candidates`` chain is compacted,
    so a store's read cost grows with its rows, not its batches."""
    # A fresh checkpoint restarts batch ids at 0, and the replay guard
    # below would skip every id up to the catalog's high-water mark: each
    # capture in those batches would be dropped without an error. A
    # checkpoint may only resume at or past the mark (at the mark when
    # the last run crashed between its commit and Spark's commit log).
    mark = int(catalog.extra("ingest_last_batch", -1))
    if mark >= 0 and _last_offset_batch(checkpoint_dir) < mark:
        raise ValueError(
            f"checkpoint {checkpoint_dir} resumes before batch {mark + 1}, "
            f"but catalog {catalog.root} already holds ingest_last_batch="
            f"{mark}: its batch ids would restart below the mark and their "
            "captures would be skipped; resume from the checkpoint that "
            "wrote the mark or ingest into a fresh catalog"
        )
    ship_package(spark)
    canon = _canon_udf()

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        bid = int(batch_id)
        # Abort-at-entry: a batch that failed before its commit left its
        # deltas staged; the retried batch would stage its own ON TOP and
        # one commit would publish both, duplicating rows. Batches on one
        # catalog run one at a time, so dropping stale staged state here
        # is safe.
        catalog.abort()
        # Replay guard: a crash between the commit and Spark's checkpoint
        # write replays the batch id, so ids at or below the high-water
        # mark are skipped. (Ids are monotone within one checkpoint
        # location; a checkpoint behind the mark is refused above.)
        if bid <= int(catalog.extra("ingest_last_batch", -1)):
            return
        catalog.append(
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
            bid,
        )
        # committed_round is monotone in the catalog; the high-water mark
        # rides the same atomic manifest write as the delta publish
        catalog.commit(bid, {"ingest_last_batch": bid})
        for name in catalog.long_chains(["candidates"]):
            catalog.compact(name, bid)

    return (
        stream.writeStream.outputMode("append")
        .foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
