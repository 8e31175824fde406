"""Sharded URL-seen set (replaces the reference's driver-resident
``Arc<Mutex<HashSet<String>>>``, src/crawl.rs:18,24 / src/tools.rs:131-146).

Design for a 10^10-URL frontier (north rule):

- **Exact membership** lives in the ``seen`` table (append-only deltas of
  ``(url, url_sha1, first_seen_round)``), hash-distributed by ``url_sha1``
  across partitions — nothing driver-resident grows with the frontier.
  Candidate filtering is a LEFT ANTI join on ``url`` (J2 in SURVEY.md §2.3).
- **Bloom prefilter**: per-partition bitmaps are built distributed
  (``mapInPandas`` over each round's seen-delta), OR-reduced, and broadcast.
  Candidates that miss the bloom are *definitely new* and skip the anti-join
  shuffle; only bloom-positives (seen + false positives) take the exact
  path. No false drops: the bloom only routes, never rejects.
- The bitmap is incremental across rounds (OR of deltas) and persisted next
  to the catalog manifest, so resume does not rescan the seen table.

Why not Spark's runtime bloom (spark.sql.optimizer.runtime.bloomFilter):
that is per-query and rebuilt from scratch each time; this one persists and
grows monotonically with delta merges across rounds.
"""

from __future__ import annotations

import math
import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _params(capacity: int, fpp: float) -> tuple[int, int]:
    m = max(1024, int(-capacity * math.log(fpp) / (math.log(2) ** 2)))
    m = (m + 63) // 64 * 64
    k = max(1, round(m / capacity * math.log(2)))
    return m, min(k, 8)


def _positions(sha1_hex: np.ndarray, m: int, k: int) -> np.ndarray:
    """(n, k) bit positions via double hashing on the sha1 halves.
    Fully vectorized: the hex chars are viewed as UCS4 code units and
    nibble-decoded with one where() + one matmul per half — no per-row
    Python int() parsing (that loop showed up in bloom-probe profiles)."""
    s = np.asarray(sha1_hex, dtype="U40")
    if len(s) == 0:
        return np.zeros((0, k), dtype=np.int64)
    # decode in uint8, not int64: the hex codes fit a byte, and the wide
    # dtype made this the hottest line in the bloom update (np.where over
    # 240 MB of int64 temporaries is memory-bus-bound; branchless uint8
    # arithmetic moves 8x fewer bytes — measured ~10x faster at 1M keys)
    codes = s.view(np.uint32).reshape(len(s), -1)[:, :30].astype(np.uint8)
    # OR 0x20 folds 'A'-'F' onto 'a'-'f' (digits already have bit 5 set),
    # so uppercase sha1 hex decodes identically instead of silently
    # wrapping negative under uint64 and probing wrong bloom bits
    codes |= 0x20
    # digits: c-48; letters a-f: c-87 = c-48-39; no uint8 underflow
    nib = codes - (codes > ord("9")).astype(np.uint8) * np.uint8(39)
    nib -= np.uint8(ord("0"))
    nib = nib.astype(np.uint64)
    pw = np.array([16] * 15, dtype=np.uint64) ** np.arange(
        14, -1, -1, dtype=np.uint64
    )
    h1 = (nib[:, :15] * pw).sum(axis=1)  # < 2^60, no overflow
    h2 = ((nib[:, 15:30] * pw).sum(axis=1)) | np.uint64(1)
    i = np.arange(k, dtype=np.uint64)
    return ((h1[:, None] + i[None, :] * h2[:, None]) % np.uint64(m)).astype(np.int64)


def _scatter_bits(bits: np.ndarray, pos: np.ndarray, m: int) -> None:
    """OR bit positions into the bitmap, cost O(min(positions, m)).

    Two regimes, measured on 48M-bit bitmaps: np.bitwise_or.at is an
    unbuffered ufunc whose per-element cost grows superlinearly once the
    touched bytes spill cache (4 ms at 70k positions, 287 ms at 700k,
    5.2 s at 7M — the round-4 bloom update was here); a boolean scatter
    (duplicates harmless) + one packbits pass is a flat O(m) ~40-50 ms
    regardless of batch. The crossover sits near m/256 positions, so tiny
    deltas against a huge bitmap — drain rounds, and each small Arrow
    chunk in the distributed per-partition build — keep the O(positions)
    path instead of paying a full-bitmap pass per call."""
    if len(pos) < (m >> 8):
        np.bitwise_or.at(bits, pos >> 3, (1 << (pos & 7)).astype(np.uint8))
        return
    flags = np.zeros(m, dtype=bool)
    flags[pos] = True
    np.bitwise_or(bits, np.packbits(flags, bitorder="little"), out=bits)


class Bloom:
    def __init__(self, capacity: int, fpp: float, bits: np.ndarray | None = None):
        self.m, self.k = _params(capacity, fpp)
        self.bits = bits if bits is not None else np.zeros(self.m // 8, dtype=np.uint8)

    def add_array(self, sha1_hex: np.ndarray) -> None:
        if len(sha1_hex) == 0:
            return
        pos = _positions(sha1_hex, self.m, self.k).ravel()
        _scatter_bits(self.bits, pos, self.m)

    def might_contain(self, sha1_hex: pd.Series) -> pd.Series:
        if len(sha1_hex) == 0:
            return pd.Series([], dtype=bool, index=sha1_hex.index)
        pos = _positions(sha1_hex.to_numpy(), self.m, self.k)
        hit = (self.bits[pos >> 3] & (1 << (pos & 7)).astype(np.uint8)) != 0
        return pd.Series(hit.all(axis=1), index=sha1_hex.index)

    def or_bitmap(self, other_bits: bytes) -> None:
        self.bits |= np.frombuffer(other_bits, dtype=np.uint8)

    # --- distributed construction ---
    def add_dataframe(self, df: DataFrame, sha1_col: str = "url_sha1") -> None:
        """Build per-partition bitmaps executor-side, OR them on the driver.
        Each partition ships m/8 bytes — O(partitions), not O(rows)."""
        m, k = self.m, self.k

        def build(it):
            bits = np.zeros(m // 8, dtype=np.uint8)
            any_rows = False
            for pdf in it:
                arr = pdf[sha1_col].dropna().to_numpy()
                if len(arr):
                    any_rows = True
                    pos = _positions(arr, m, k).ravel()
                    _scatter_bits(bits, pos, m)
            if any_rows:
                yield pd.DataFrame({"bitmap": [bits.tobytes()]})

        rows = (
            df.select(sha1_col)
            .mapInPandas(build, schema="bitmap binary")
            .collect()
        )
        for r in rows:
            self.or_bitmap(r["bitmap"])

    # --- persistence (resume support) ---
    def save(self, path: str) -> None:
        """Persist bits WITH their (m, k): the bitmap is only meaningful
        under the hash geometry it was built with, so resume must restore
        the saved parameters even if the config's capacity/fpp changed."""
        tmp = path + f".tmp-{os.getpid()}"
        np.savez(tmp, bits=self.bits, m=np.int64(self.m), k=np.int64(self.k))
        os.replace(tmp + ".npz", path)

    @classmethod
    def load(cls, path: str, capacity: int, fpp: float) -> "Bloom":
        with np.load(path) as z:
            if "bits" not in z.files:
                # the cuckoo-filter backend (removed) saved a "kind" entry
                # and no bits; its stores cannot resume on this version
                raise ValueError(
                    f"{path} is not a bloom snapshot (holds "
                    f"{sorted(z.files)}): a store written with the removed "
                    "cuckoo seen filter cannot resume; open it with "
                    "fresh_seen=True (drops the seen set) or start a new store"
                )
            bits = z["bits"]
            m, k = int(z["m"]), int(z["k"])
        b = cls(capacity, fpp, bits=bits)
        b.m, b.k = m, k  # saved geometry wins over the current config
        return b


def filter_unseen(
    candidates: DataFrame,
    seen_df: DataFrame | None,
    bloom: Bloom | None,
    sha1_col: str = "url_sha1",
    cand_key: str = "url",
    seen_key: str = "url",
) -> DataFrame:
    """Drop candidates already in the seen set.

    Bloom-negatives bypass the anti-join entirely (definitely new); only
    bloom-positives shuffle. Falls back to a plain left-anti join when no
    bloom is supplied."""
    if seen_df is None:
        return candidates
    seen_keys = seen_df.select(F.col(seen_key).alias(cand_key))
    if bloom is None:
        return candidates.join(seen_keys, on=cand_key, how="left_anti")
    b = bloom  # closure capture; bits broadcast with the serialized task

    def probe(it):
        for pdf in it:
            pdf = pdf.copy()
            pdf["__bloom_hit"] = b.might_contain(pdf[sha1_col].astype(str))
            yield pdf

    # build a fresh StructType: .add() would mutate candidates' cached schema
    schema = T.StructType(
        list(candidates.schema.fields)
        + [T.StructField("__bloom_hit", T.BooleanType())]
    )
    # persist once (lazy checkpoint): both filter branches below consume
    # `probed`, and without this the whole upstream candidate pipeline
    # (explode, resolve UDF, dedup window) would execute twice per round
    probed = candidates.mapInPandas(probe, schema=schema).localCheckpoint(
        eager=False
    )
    definitely_new = probed.filter(~F.col("__bloom_hit")).drop("__bloom_hit")
    maybe_seen = probed.filter(F.col("__bloom_hit")).drop("__bloom_hit")
    survivors = maybe_seen.join(seen_keys, on=cand_key, how="left_anti")
    return definitely_new.unionByName(survivors)

