"""Frontier scheduling: DFS priority keys, per-host politeness rank, cap trim.

The reference's crawl order is DFS recursion perturbed by rayon
work-stealing (src/crawl.rs:94-102) with a per-thread politeness sleep
(src/crawl.rs:49-51). The rebuild makes scheduling explicit (SURVEY.md §7.4):

- **priority key**: each frontier row carries a '/'-separated string of
  fixed-width lowercase-hex child indices ('0000/0003/0001'). Byte-wise
  lexicographic order over these prefix-coded keys IS DFS preorder ('/' <
  '0' so a child sorts after its parent and before the parent's next
  sibling). Selecting the minimum-priority row each round reproduces the
  sequential reference order exactly (dfs-parity mode, batch=1).
- **throughput mode**: per-host window rank caps each host at
  ``per_host_quota`` URLs per round (politeness: one quota unit per
  delay-tick), then a global ascending-priority trim enforces the remaining
  visit cap deterministically.
- **skew**: ranking partitions by host, with a salted pre-rank for
  mega-hosts. The fetch/extract stages downstream are not repartitioned:
  they run in the pages scan's splits (see crabspark/engine.py), so a
  skewed batch does not pile its Python work onto one task.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# 4 hex digits = up to 65535 surviving links per page per parent in the
# compact form; larger ranks extend with a 'z'-prefix run (below) instead of
# silently truncating, so order stays total for arbitrarily wide pages
_WIDTH = 4


def _extend_hex(h: str) -> str:
    """Order-preserving variable-width hex: <=4 digits are zero-padded;
    wider ranks get one 'z' per extra digit ('z' > 'f', so every 5-digit
    key sorts after every 4-digit key, 6-digit after 5-digit, ...)."""
    if len(h) <= _WIDTH:
        return h.zfill(_WIDTH)
    return "z" * (len(h) - _WIDTH) + h


def seed_priority(i: int) -> str:
    return _extend_hex(format(i, "x"))


def _extend_hex_col(rank):
    """Column form of ``_extend_hex``: fixed-width lowercase hex with the
    'z'-prefix widening for ranks beyond 0xffff."""
    hexs = F.lower(F.hex(rank))
    return F.when(
        F.length(hexs) <= _WIDTH, F.lpad(hexs, _WIDTH, "0")
    ).otherwise(
        F.concat(F.repeat(F.lit("z"), F.length(hexs) - _WIDTH), hexs)
    )


def seed_priority_col(i):
    """Column form of ``seed_priority`` (streamed candidates become new
    DFS roots continuing the seed index sequence)."""
    return _extend_hex_col(i)


def child_priority(parent_priority, child_rank):
    """parent '0000/0002' + rank 3 -> '0000/0002/0003' (rank is 0-based
    position among the page's surviving links, document order). Ranks
    beyond 0xffff widen via the 'z'-prefix scheme of ``_extend_hex`` —
    still unique and monotone, never truncated."""
    return F.concat(
        parent_priority, F.lit("/"), _extend_hex_col(child_rank)
    )


def select_batch(
    frontier: DataFrame,
    remaining_cap: int | None,
    scheduling: str,
    per_host_quota: int | None,
    salt_buckets: int = 1,
) -> DataFrame:
    """Pick this round's visit batch from the frontier.

    dfs-parity: the single lexicographically-smallest priority row — exact
    sequential-reference order.

    throughput: per-host politeness rank (quota URLs per host per round),
    then a global ascending-priority trim to the remaining visit cap.
    Both steps are skippable: ``per_host_quota=None`` turns politeness off
    (batch = whole frontier, zero shuffles), ``remaining_cap=None`` skips
    the trim (the engine passes None whenever the cap cannot bind this
    round, avoiding a pointless global sort of the frontier).

    Host skew: with ``salt_buckets > 1`` the rank runs in two phases —
    top-quota within (host, salt) first, then exact top-quota per host over
    the <= quota*salt survivors — so a mega-host's frontier rows never
    funnel through a single window partition (north-rule salting)."""
    if scheduling == "dfs-parity":
        return frontier.orderBy("priority").limit(1)
    out = frontier
    if per_host_quota:
        if salt_buckets and salt_buckets > 1:
            salt = F.pmod(F.xxhash64("canon"), F.lit(salt_buckets))
            w1 = Window.partitionBy("host", salt).orderBy("priority")
            out = (
                out.withColumn("__r1", F.row_number().over(w1))
                .filter(F.col("__r1") <= per_host_quota)
                .drop("__r1")
            )
        w_host = Window.partitionBy("host").orderBy("priority")
        out = (
            out.withColumn("__hr", F.row_number().over(w_host))
            .filter(F.col("__hr") <= per_host_quota)
            .drop("__hr")
        )
    if remaining_cap is not None:
        out = top_k_by_priority(out, remaining_cap)
    return out


# below this, orderBy().limit() is TakeOrdered (bounded per-partition heaps
# merged on the driver) — fine; above it, the driver merge of k rows per
# reduce step is the bottleneck and the ranged path wins
_RANGED_TRIM_MIN = 10_000


# Materialized intermediates whose lifetime outlives top_k_by_priority: the
# caller (Engine._round) unpersists them via release_temps() once the batch
# itself is materialized, so ranged-trim blocks never accumulate across a
# long cap-bound crawl waiting on the ContextCleaner.
_TEMP_HANDLES: list[DataFrame] = []


def release_temps() -> None:
    """Unpersist every materialized intermediate registered by the ranged
    cap trim. Safe to call any time after the selected batch has been
    materialized (the engine localCheckpoints it)."""
    while _TEMP_HANDLES:
        try:
            _TEMP_HANDLES.pop().unpersist()
        except Exception:
            pass


def top_k_by_priority(
    df: DataFrame, k: int, ranged_min: int = _RANGED_TRIM_MIN
) -> DataFrame:
    """Exact global top-k ascending by 'priority' WITHOUT a single-partition
    sort: range-partition on the key (partition i holds keys below partition
    i+1), collect only the per-partition COUNTS (O(partitions) driver rows),
    keep whole partitions under the cap boundary, and row-rank only inside
    the one boundary partition. Requires unique keys (engine priorities are
    unique by construction).

    The range-partitioned copy is persisted MEMORY_AND_DISK: RangePartitioner
    samples its boundaries per execution, so the counts job and the filter
    job must see the SAME physical partitioning — the disk-backed persist
    guarantees no silent recompute (which could re-sample) and, unlike a
    localCheckpoint, is released deterministically via release_temps()."""
    if k <= ranged_min:
        return df.orderBy("priority").limit(k)
    from pyspark import StorageLevel

    spark = df.sparkSession
    n_parts = max(spark.sparkContext.defaultParallelism, 8)
    parts = (
        df.repartitionByRange(n_parts, F.col("priority"))
        .withColumn("__pid", F.spark_partition_id())
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    _TEMP_HANDLES.append(parts)
    counts = sorted(
        (row["__pid"], row["cnt"])
        for row in parts.groupBy("__pid").agg(F.count("*").alias("cnt")).collect()
    )
    total = sum(c for _, c in counts)
    if total <= k:
        return parts.drop("__pid")
    cum = 0
    full_pids: list[int] = []
    boundary_pid, boundary_need = None, 0
    for pid, cnt in counts:
        if cum + cnt <= k:
            full_pids.append(pid)
            cum += cnt
        else:
            if cum < k:
                boundary_pid, boundary_need = pid, k - cum
            break
    out = parts.filter(F.col("__pid").isin(full_pids)) if full_pids else None
    if boundary_pid is not None:
        w = Window.partitionBy("__pid").orderBy("priority")
        edge = (
            parts.filter(F.col("__pid") == boundary_pid)
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= boundary_need)
            .drop("__rn")
        )
        out = edge if out is None else out.unionByName(edge)
    return out.drop("__pid")


def first_occurrence(
    df: DataFrame, key_cols: list[str], order_cols: list
) -> DataFrame:
    """Keep the first row per key under the given order — the distributed
    form of 'first observer wins' (seen-set insert order, src/tools.rs:146)."""
    w = Window.partitionBy(*key_cols).orderBy(*order_cols)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
