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
  would replace with positional deletes;
- ``commit()`` is the one way a delta is published and ``compact()`` the
  one way a chain is rewritten: past ``COMPACT_DELTAS`` deltas, a chain
  becomes one overwrite delta and the superseded files are removed;
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
from pyspark.sql.types import StructType

# A table whose delta chain holds more than this many deltas is due a
# compact(): merge-on-read cost then stays flat as rounds accumulate.
COMPACT_DELTAS = 16
# footer key under which Spark's parquet writer stores the Spark schema
SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


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
        # table -> (its newest delta's path, that delta's schema): reads
        # pass the schema to the reader and skip parquet schema inference,
        # a 1-task Spark job per read
        self._schemas: dict[str, tuple[str, StructType]] = {}
        # File-output committer v2: tasks move their files into the delta
        # directory at TASK commit instead of the driver renaming every
        # file serially at JOB commit — the driver-serial residue in the
        # write phase (measured 2.6x scaling at 1->4 vs 3.7x for the
        # pipeline). Safe for CATALOG writes because atomicity lives in
        # the manifest, not the directory: a failed job leaves partial
        # files in a delta dir no committed manifest ever references
        # (abort() drops the staged entry; the table's next compact
        # removes the files).
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
    def _stage(self, name: str, mode: str, rnd: int, data) -> None:
        """Reserve the table's next delta slot under the lock, then write
        ``data`` there (a DataFrame as a directory, a pyarrow Table as one
        file): concurrent writers never collide on a path, nor reuse one
        the committed chain names."""
        local = not isinstance(data, DataFrame)
        kind, ext = ("local", ".parquet") if local else ("delta", "")
        with self._lock:
            tbl = self.state["tables"].setdefault(name, {"deltas": []})
            taken = {d["path"] for d in tbl["deltas"]}
            taken |= {d["path"] for n, d in self._pending if n == name}
            seq = len(taken)
            while (rel := f"{name}/{kind}-{rnd:06d}-{seq:06d}{ext}") in taken:
                seq += 1
            entry = (name, {"path": rel, "mode": mode, "round": rnd})
            self._pending.append(entry)
        path = os.path.join(self.root, rel)
        try:
            if local:
                import pyarrow.parquet as pq

                os.makedirs(os.path.dirname(path), exist_ok=True)
                pq.write_table(data, path)
            else:
                data.write.mode("overwrite").parquet(path)
        except Exception:
            with self._lock:
                self._pending.remove(entry)
            raise

    def append(self, name: str, df: DataFrame, rnd: int) -> None:
        self._stage(name, "append", rnd, df)

    def append_local(self, name: str, table, rnd: int) -> None:
        """Stage a driver-local pyarrow Table as a delta WITHOUT a Spark
        job. The per-round metrics rows are O(partitions) driver data; a
        full Spark write job for them is pure fixed floor (each job costs
        scheduling + task launch regardless of size). Spark reads the
        resulting file alongside directory deltas transparently."""
        self._stage(name, "append", rnd, table)

    def overwrite(self, name: str, df: DataFrame, rnd: int) -> None:
        """Logical overwrite: later reads see only deltas from this one on."""
        self._stage(name, "overwrite", rnd, df)

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

    def compact(
        self, name: str, rnd: int, df: DataFrame | None = None,
        extras: dict | None = None,
    ) -> None:
        """Rewrite a table's delta chain as one overwrite delta at round
        ``rnd`` (Iceberg rewrite_data_files + expire_snapshots): ``df``
        (default: the table as read now) is published with ``extras`` by
        ``commit()``; the manifest then drops the superseded deltas, and
        only then are their files removed. A kill at any point reads the
        old chain or the compacted one; files it leaves behind go at the
        table's next compact."""
        if any(n == name for n, _ in self._pending):
            raise RuntimeError(f"compact({name!r}) would drop its staged deltas")
        if df is None:
            df = self.read(name)
            if df is None:
                return
        try:
            self.overwrite(name, df, rnd)
            self.commit(rnd, extras)
        except BaseException:
            self.abort()
            raise
        with self._lock:
            tbl = self.state["tables"][name]
            tbl["deltas"] = self._chain(name)
            self._persist()
            # under the lock, so no writer starts a file here meanwhile
            keep = {d["path"] for d in tbl["deltas"]}
            keep |= {d["path"] for n, d in self._pending if n == name}
            self._remove_unnamed(name, keep)

    def _remove_unnamed(self, name: str, keep: set[str]) -> None:
        """Remove every delta directory or file of the table that ``keep``
        does not name, aborted writes' orphans included."""
        table_dir = os.path.join(self.root, name)
        for entry in sorted(os.listdir(table_dir)):
            if f"{name}/{entry}" in keep:
                continue
            path = os.path.join(table_dir, entry)
            if os.path.isdir(path):
                shutil.rmtree(path)
            else:
                os.remove(path)

    def abort(self) -> None:
        """Drop staged deltas (their files become unreferenced garbage,
        exactly like Iceberg orphan files, until the table's next
        compact). Lock-guarded: concurrent writers may still be staging
        when a failing round aborts."""
        with self._lock:
            self._pending.clear()

    # --- reads (committed state only) ---
    def _chain(self, name: str, rnd: int | None = None) -> list[dict]:
        """The committed deltas a read sees: those written at rounds <=
        ``rnd`` (default: all), from the last overwrite among them on."""
        deltas = [
            d for d in self.state["tables"].get(name, {}).get("deltas", [])
            if rnd is None or d["round"] <= rnd
        ]
        start = max(
            (i for i, d in enumerate(deltas) if d["mode"] == "overwrite"),
            default=0,
        )
        return deltas[start:]

    def _scan(self, name: str, chain: list[dict]) -> DataFrame | None:
        if not chain:
            return None
        # the newest delta holds the writer's current schema: a table that
        # gained columns reads them from every delta, null where an older
        # delta lacks them
        newest = chain[-1]["path"]
        cached = self._schemas.get(name)
        if cached is None or cached[0] != newest:
            cached = self._schemas[name] = (
                newest, self._written_schema(newest)
            )
        reader = self.spark.read.schema(cached[1])
        return reader.parquet(
            *[os.path.join(self.root, d["path"]) for d in chain]
        )

    def _written_schema(self, path: str) -> StructType:
        """The schema a delta was written with, from the footer of its
        first data file, read on the driver (no Spark job). A Spark write
        leaves at least one data file, empty output included. A
        Spark-written file carries its Spark schema; a pyarrow-written
        one's Arrow schema is converted."""
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import from_arrow_schema

        path = os.path.join(self.root, path)
        if os.path.isdir(path):
            first = min(f for f in os.listdir(path) if f.endswith(".parquet"))
            path = os.path.join(path, first)
        schema = pq.read_schema(path)
        spark_json = (schema.metadata or {}).get(SPARK_SCHEMA_KEY)
        if spark_json is not None:
            return StructType.fromJson(json.loads(spark_json))
        return from_arrow_schema(schema)

    def exists(self, name: str) -> bool:
        return bool(self._chain(name))

    def read(self, name: str) -> DataFrame | None:
        """Union of committed deltas (one multi-path parquet scan)."""
        return self._scan(name, self._chain(name))

    def read_at(self, name: str, rnd: int) -> DataFrame | None:
        """Time travel (Iceberg `VERSION AS OF` analogue): the table as of
        committed round ``rnd`` — only deltas written at rounds <= rnd,
        with the overwrite-restarts-the-chain rule applied WITHIN that
        horizon. Because every round commits atomically, this is exactly
        the state a reader at the end of round ``rnd`` saw.

        History retention matches the physical layout: ``compact()`` (the
        frontier fold included) rewrites the chain as one delta stamped at
        its own round and removes the rest, so rounds older than the last
        compaction are no longer reachable — ``None`` is returned, never a
        partial reconstruction."""
        return self._scan(name, self._chain(name, rnd))

    def delta_count(self, name: str) -> int:
        return len(self.state["tables"].get(name, {}).get("deltas", []))

    def long_chains(self, names=None) -> list[str]:
        """The tables (of ``names``, default all) due a ``compact()``."""
        if names is None:
            names = self.state["tables"]
        return [n for n in sorted(names) if self.delta_count(n) > COMPACT_DELTAS]

    def snapshots(self, name: str) -> list[int]:
        """Committed rounds reachable by ``read_at`` for this table (the
        Iceberg snapshot-log analogue): distinct delta rounds at or after
        the chain's last overwrite, ascending. Empty when the table does
        not exist."""
        return sorted({d["round"] for d in self._chain(name)})

    @property
    def committed_round(self) -> int:
        return self.state["committed_round"]

    def extra(self, key: str, default=None):
        return self.state["extras"].get(key, default)
