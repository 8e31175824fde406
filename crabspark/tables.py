"""Checkpointed table layer: versioned parquet deltas + an atomic JSON
manifest — the sandbox stand-in for Iceberg snapshot tables (SURVEY.md §4.3;
no Iceberg runtime jar in this environment). The interface is the part that
matters: per-round atomic commits, merge-on-read reconstruction, crash
recovery by ignoring uncommitted deltas — exactly the semantics the engine
would get from Iceberg `MERGE INTO` + snapshots on a real cluster
(replaces the reference's SQLite upsert log, src/sqlite.rs:24-59).

Scale notes (10^10-URL design):
- every table write is an *append of a delta* (or an overwrite marker), never
  a read-modify-write of the full table: per-round write cost is O(batch),
  not O(history);
- reconstruction ("merge-on-read") happens lazily in Spark as a union of
  delta scans; key-latest semantics are one window per read, which Iceberg
  would replace with positional deletes — the engine compacts when the
  delta count grows (``compact()``);
- the manifest is a single tiny JSON (table -> committed delta list),
  written tmp+rename: a killed job resumes from the last fully-committed
  round with no partial state visible (Q5 / north-rule checkpoint story).
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import uuid

from pyspark.sql import DataFrame, SparkSession


class Catalog:
    def __init__(self, root: str, spark: SparkSession):
        self.root = os.path.abspath(root)
        self.spark = spark
        os.makedirs(self.root, exist_ok=True)
        self._manifest_path = os.path.join(self.root, "_manifest.json")
        self.state = self._load()
        # deltas written this round but not yet committed; the engine writes
        # independent tables concurrently, so staging is lock-guarded
        self._pending: list[tuple[str, dict]] = []
        self._lock = threading.Lock()
        # File-output committer v2: tasks move their files into the delta
        # directory at TASK commit instead of the driver renaming every
        # file serially at JOB commit — the driver-serial residue in the
        # write phase (measured 2.6x scaling at 1->4 vs 3.7x for the
        # pipeline). Safe for CATALOG writes because atomicity lives in
        # the manifest, not the directory: a failed job leaves partial
        # files in a delta dir no committed manifest ever references
        # (abort() drops the staged entry, GC removes the files).
        #
        # SESSION-WIDE SIDE EFFECT (documented contract): the committer
        # version is a Hadoop conf, so it applies to every parquet write
        # in this SparkSession, including writes outside the manifest's
        # atomicity umbrella — those lose v1's job-commit atomicity (a
        # failed job can leave partial files in the destination instead
        # of in _temporary). Preferred setup is at session build
        # (spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version=2,
        # as bench.py / bin/crawl_job.py / tests do); this fallback only
        # fires when the session builder didn't set it, and never
        # OVERRIDES an explicit session-level choice.
        if spark is not None:  # manifest-only use passes spark=None
            hconf = spark.sparkContext._jsc.hadoopConfiguration()
            if hconf.get("mapreduce.fileoutputcommitter.algorithm.version") is None:
                hconf.set(
                    "mapreduce.fileoutputcommitter.algorithm.version", "2"
                )

    # Manifest format version. Bump when a table schema or required extra
    # changes incompatibly (v2: frontier.added_round, metrics.frontier_size,
    # fetched.ua, extras.queued_seeds / frontier_folded_round; v3: extras
    # frontier_seeded / visited_at_fold, which only the removed
    # host-bucketed frontier read — Engine refuses a v3 store that holds
    # that layout). Resuming a workdir written by an older format fails
    # HERE with a clear message instead of mid-round with a missing-column
    # AnalysisException.
    FORMAT_VERSION = 3

    # --- manifest ---
    def _load(self) -> dict:
        if os.path.exists(self._manifest_path):
            with open(self._manifest_path) as f:
                state = json.load(f)
            found = state.get("format_version", 1)
            if found != self.FORMAT_VERSION:
                raise RuntimeError(
                    f"workdir {self.root} has catalog format v{found}, this "
                    f"build reads v{self.FORMAT_VERSION}; re-crawl into a "
                    f"fresh workdir (no automatic migration)"
                )
            return state
        return {
            "tables": {},
            "committed_round": -1,
            "extras": {},
            "format_version": self.FORMAT_VERSION,
        }

    def _persist(self) -> None:
        tmp = self._manifest_path + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(self.state, f, indent=1)
        os.replace(tmp, self._manifest_path)  # atomic on POSIX

    # --- writes (staged until commit) ---
    def _write_delta(self, name: str, df: DataFrame, mode: str, rnd: int) -> None:
        with self._lock:
            tbl = self.state["tables"].setdefault(name, {"deltas": []})
            seq = len(tbl["deltas"]) + sum(
                1 for n, _ in self._pending if n == name
            )
            rel = f"{name}/delta-{rnd:06d}-{seq:06d}"
            # reserve the slot before the (slow) write so concurrent writers
            # to the same table never collide on a path
            entry = (name, {"path": rel, "mode": mode, "round": rnd})
            self._pending.append(entry)
        try:
            df.write.mode("overwrite").parquet(os.path.join(self.root, rel))
        except Exception:
            with self._lock:
                self._pending.remove(entry)
            raise

    def append(self, name: str, df: DataFrame, rnd: int) -> None:
        self._write_delta(name, df, "append", rnd)

    def append_local(self, name: str, table, rnd: int) -> None:
        """Stage a driver-local pyarrow Table as a delta WITHOUT a Spark
        job. The per-round metrics rows are O(partitions) driver data; a
        full Spark write job for them is pure fixed floor (each job costs
        scheduling + task launch regardless of size). Spark reads the
        resulting file alongside directory deltas transparently."""
        import pyarrow.parquet as pq

        with self._lock:
            tbl = self.state["tables"].setdefault(name, {"deltas": []})
            seq = len(tbl["deltas"]) + sum(
                1 for n, _ in self._pending if n == name
            )
            rel = f"{name}/local-{rnd:06d}-{seq:06d}.parquet"
            entry = (name, {"path": rel, "mode": "append", "round": rnd})
            self._pending.append(entry)
        try:
            path = os.path.join(self.root, rel)
            os.makedirs(os.path.dirname(path), exist_ok=True)
            pq.write_table(table, path)
        except Exception:
            with self._lock:
                self._pending.remove(entry)
            raise

    def overwrite(self, name: str, df: DataFrame, rnd: int) -> None:
        """Logical overwrite: later reads see only deltas from this one on."""
        self._write_delta(name, df, "overwrite", rnd)

    def commit(self, rnd: int, extras: dict | None = None) -> None:
        """Atomically publish every delta staged since the last commit.
        committed_round is monotone: a concurrent producer (e.g. the
        streaming ingest) can never regress the engine's round pointer."""
        with self._lock:
            # Per-table round monotonicity: read_at/snapshots assume each
            # table's delta list is ordered by round, which holds only if
            # every producer appending to a GIVEN table advances one shared
            # counter (engine rounds and streaming batch ids are independent
            # counters, so they must not share a table — and don't; this
            # guard turns a silent non-prefix time-travel reconstruction
            # into a loud error). Every pending delta is checked before any
            # state changes, so a refused commit publishes none of them,
            # now or at a later commit.
            last = {
                name: tbl["deltas"][-1]["round"]
                for name, tbl in self.state["tables"].items()
                if tbl["deltas"]
            }
            for name, delta in self._pending:
                if name in last and delta["round"] < last[name]:
                    raise RuntimeError(
                        f"non-monotone delta round for table {name!r}: "
                        f"staging round {delta['round']} after committed "
                        f"round {last[name]} — each table "
                        "requires a single monotone round counter (did two "
                        "producers with independent counters share it?)"
                    )
                last[name] = delta["round"]
            for name, delta in self._pending:
                tbl = self.state["tables"].setdefault(name, {"deltas": []})
                tbl["deltas"].append(delta)
            self._pending.clear()
            self.state["committed_round"] = max(
                rnd, self.state.get("committed_round", -1)
            )
            if extras:
                self.state["extras"].update(extras)
            self._persist()

    def gc_superseded(self, name: str) -> None:
        """Physically drop deltas made unreachable by a later overwrite
        (the frontier writes one per round; without this, disk grows
        O(rounds x frontier))."""
        with self._lock:
            tbl = self.state["tables"].get(name)
            if not tbl:
                return
            deltas = tbl["deltas"]
            last_ow = 0
            for i, d in enumerate(deltas):
                if d["mode"] == "overwrite":
                    last_ow = i
            dead, live = deltas[:last_ow], deltas[last_ow:]
            if not dead:
                return
            tbl["deltas"] = live
            self._persist()
        for d in dead:
            p = os.path.join(self.root, d["path"])
            shutil.rmtree(p, ignore_errors=True)

    def abort(self) -> None:
        """Drop staged deltas (their files become unreferenced garbage,
        exactly like Iceberg orphan files). Lock-guarded: concurrent
        writers may still be staging when a failing round aborts."""
        with self._lock:
            self._pending.clear()

    # --- reads (committed state only) ---
    def _delta_paths(self, name: str) -> list[str]:
        tbl = self.state["tables"].get(name)
        if not tbl or not tbl["deltas"]:
            return []
        deltas = tbl["deltas"]
        start = 0
        for i, d in enumerate(deltas):
            if d["mode"] == "overwrite":
                start = i
        return [os.path.join(self.root, d["path"]) for d in deltas[start:]]

    def exists(self, name: str) -> bool:
        return bool(self._delta_paths(name))

    def read(self, name: str) -> DataFrame | None:
        """Union of committed deltas (one multi-path parquet scan)."""
        paths = self._delta_paths(name)
        if not paths:
            return None
        return self.spark.read.parquet(*paths)

    def read_at(self, name: str, rnd: int) -> DataFrame | None:
        """Time travel (Iceberg `VERSION AS OF` analogue): the table as of
        committed round ``rnd`` — only deltas written at rounds <= rnd,
        with the overwrite-restarts-the-chain rule applied WITHIN that
        horizon. Because every round commits atomically, this is exactly
        the state a reader at the end of round ``rnd`` saw.

        History retention matches the physical layout: ``compact()`` and
        the frontier fold rewrite the chain stamped at the rewrite round
        (expire_snapshots + rewrite_data_files in one step), so rounds
        older than the last rewrite are no longer reachable — ``None`` is
        returned, never a partial reconstruction."""
        tbl = self.state["tables"].get(name)
        if not tbl:
            return None
        deltas = [d for d in tbl["deltas"] if d["round"] <= rnd]
        if not deltas:
            return None
        start = 0
        for i, d in enumerate(deltas):
            if d["mode"] == "overwrite":
                start = i
        paths = [os.path.join(self.root, d["path"]) for d in deltas[start:]]
        return self.spark.read.parquet(*paths)

    def compact(self, name: str, rnd: int) -> None:
        """Rewrite a table's delta chain as one delta (Iceberg rewrite_data_files
        analogue). Call when delta count is large; read-optimized afterwards."""
        df = self.read(name)
        if df is None:
            return
        tbl = self.state["tables"][name]
        old = list(tbl["deltas"])
        rel = f"{name}/compact-{rnd:06d}-{uuid.uuid4().hex[:8]}"
        df.write.mode("overwrite").parquet(os.path.join(self.root, rel))
        tbl["deltas"] = [{"path": rel, "mode": "overwrite", "round": rnd}]
        self._persist()
        for d in old:
            p = os.path.join(self.root, d["path"])
            if os.path.exists(p):
                shutil.rmtree(p, ignore_errors=True)

    def delta_count(self, name: str) -> int:
        return len(self.state["tables"].get(name, {}).get("deltas", []))

    def snapshots(self, name: str) -> list[int]:
        """Committed rounds reachable by ``read_at`` for this table (the
        Iceberg snapshot-log analogue): distinct delta rounds at or after
        the chain's last overwrite, ascending. Empty when the table does
        not exist."""
        tbl = self.state["tables"].get(name)
        if not tbl or not tbl["deltas"]:
            return []
        deltas = tbl["deltas"]
        start = 0
        for i, d in enumerate(deltas):
            if d["mode"] == "overwrite":
                start = i
        return sorted({d["round"] for d in deltas[start:]})

    @property
    def committed_round(self) -> int:
        return self.state["committed_round"]

    def extra(self, key: str, default=None):
        return self.state["extras"].get(key, default)

