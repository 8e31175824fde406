"""spark-submit entry point: Common-Crawl WARC/WET archives -> a
crawl-ready pages snapshot.

  spark-submit --py-files crabspark.zip bin/warc_ingest.py \
      --warcs <dir of .warc[.gz] / .warc.wet[.gz]> \
      --out <pages parquet dir>

The first hop for a user pointing this engine at real Common-Crawl data:
archives are parsed executor-side (one task per archive — a CC snapshot's
64-90k files out-fan any fleet) and written as the input_hint pages table.
Crawl parity over ingested archives is pinned by tests/test_warc.py.
"""

from __future__ import annotations

import argparse
import json
import time

from pyspark.sql import SparkSession

from crabspark.warc import read_warc


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--warcs", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    spark = (
        SparkSession.builder.appName("crabspark-warc-ingest")
        .config(
            "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version",
            "2",
        )
        .getOrCreate()
    )
    t0 = time.monotonic()
    read_warc(spark, args.warcs).write.mode("overwrite").parquet(args.out)
    n = spark.read.parquet(args.out).count()
    report = {"pages": n, "out": args.out,
              "ingest_s": round(time.monotonic() - t0, 1)}
    print(json.dumps(report))


if __name__ == "__main__":
    main()
