"""crabspark — a from-scratch PySpark-native rebuild of the capabilities of
Ztkent/crab-crawler (reference at /root/reference, Rust).

Not a port: the reference is a recursive, mutex-guarded, single-process
fetch->parse->extract->filter->recurse loop (reference src/crawl.rs:29-120).
crabspark re-expresses the same semantics as a Bulk-Synchronous-Parallel
frontier engine on Spark DataFrames: each scheduling round is a declarative
plan (joins / window ranks / anti-joins / pandas UDFs) over checkpointed
tables, designed for a 10^10-URL frontier on a multi-executor cluster while
remaining byte-exact with the reference's observable semantics at small scale.

Modules
-------
config    run configuration (reference src/config.rs:7-39)
urlkit    pure-pandas URL kernels: resolve / canonicalize / validate
extract   pandas UDF kernels: link extraction, text extraction
robots    robots.txt parse + matcher (reference src/tools.rs:21-58)
tables    snapshot/delta table layer (Iceberg-style, parquet fallback)
seen      sharded URL-seen set: bloom prefilter + exact anti-join
frontier  priority encoding, per-host politeness rank, cap trim
engine    the round loop: visit, fetch-join, extract, filter, commit
shipping  ship the package to Python workers; worker-side zipimport guard
"""

from crabspark.shipping import install_worker_zip_guard as _install_guard

__version__ = "0.1.0"

# A Spark Python worker imports crabspark when it unpickles a crabspark UDF;
# from then on its per-task importlib.invalidate_caches() stops re-reading
# every zip archive on sys.path (see crabspark.shipping).
_install_guard()
