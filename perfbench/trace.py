"""Spans, commit marks, Spark event-log totals and UDF profiles for one run.

Everything here sits outside ``crabspark/``: spans come from wrappers that
this module installs around the public entry points of each layer
(``Engine.run``/``finalize``, ``Catalog.append``/``commit``/``compact``,
``Bloom.add_dataframe``). Spans stay in memory and are written once, when
the run ends.

``Catalog.commit`` is wrapped in every run, traced or not: a round's wall
is the time from one commit to the next, and reading the clock once per
commit costs nothing measurable. The other wrappers, the event log and the
UDF profiler are installed only for traced runs.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import threading
import time

# The UDF bodies the Python profiler reports, keyed by (file, function).
# Engine UDFs live in crabspark/udfs.py; the seen filter's probe and the
# bloom build are mapInPandas functions in crabspark/seen.py.
UDF_FUNCTIONS = {
    ("udfs.py", "_page"): "udfs.extract_page",
    ("udfs.py", "_resolve"): "udfs.resolve_full",
    ("udfs.py", "_blocked"): "udfs.blocked_join",
    ("udfs.py", "_trim"): "udfs.trim_body",
    ("udfs.py", "_trim_a"): "udfs.trim_body",
    ("udfs.py", "_name"): "udfs.image_name",
    ("seen.py", "probe"): "seen.probe",
    ("seen.py", "build"): "seen.build",
}


class Recorder:
    """In-memory spans and commit marks of one benchmark process."""

    def __init__(self, traced: bool):
        self.traced = traced
        self.spans: list[dict] = []
        # (round, end time, Spark job counter at the end of the commit)
        self.commits: list[tuple[int, float, int]] = []
        self.job_counter = lambda: 0
        self._lock = threading.Lock()

    def add(self, name: str, start: float, end: float, **attrs) -> None:
        with self._lock:
            self.spans.append({"name": name, "start": start, "end": end, **attrs})

    def span_total(self, name: str, start: float, end: float) -> tuple[float, int]:
        """(seconds, calls) of the named spans that lie inside [start, end]."""
        hits = [
            s for s in self.spans
            if s["name"] == name and s["start"] >= start and s["end"] <= end
        ]
        return sum(s["end"] - s["start"] for s in hits), len(hits)

    def commits_between(self, start: float, end: float) -> dict[int, tuple]:
        """Last commit mark per round inside [start, end]."""
        out: dict[int, tuple] = {}
        for rnd, t, jobs in self.commits:
            if start <= t <= end:
                out[rnd] = (t, jobs)
        return out

    def write(self, path: str, wall_offset: float) -> None:
        """Write every span with its parent (the innermost span that
        encloses it) and epoch-second times."""
        spans = sorted(self.spans, key=lambda s: (s["start"], -s["end"]))
        for i, s in enumerate(spans):
            s["id"] = i
        for s in spans:
            enclosing = [
                p for p in spans
                if p is not s and p["start"] <= s["start"]
                and s["end"] <= p["end"]
                and (p["end"] - p["start"]) > (s["end"] - s["start"])
            ]
            s["parent"] = (
                min(enclosing, key=lambda p: p["end"] - p["start"])["id"]
                if enclosing else None
            )
        out = [
            {**s, "start": s["start"] + wall_offset, "end": s["end"] + wall_offset}
            for s in spans
        ]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(out, f)


def _span(rec: Recorder, cls, attr: str, name: str) -> None:
    """Replace cls.attr with a wrapper that records a span per call."""
    orig = getattr(cls, attr)

    @functools.wraps(orig)
    def call(*args, **kwargs):
        t0 = time.monotonic()
        try:
            return orig(*args, **kwargs)
        finally:
            rec.add(name, t0, time.monotonic())

    setattr(cls, attr, call)


def install(rec: Recorder) -> None:
    """Wrap the layers' entry points so that calls land in ``rec``."""
    from crabspark.engine import Engine
    from crabspark.seen import Bloom
    from crabspark.tables import Catalog

    orig_commit = Catalog.commit

    @functools.wraps(orig_commit)
    def commit(self, rnd, extras=None):
        t0 = time.monotonic()
        out = orig_commit(self, rnd, extras)
        t1 = time.monotonic()
        rec.commits.append((rnd, t1, rec.job_counter() if rec.traced else 0))
        if rec.traced:
            rec.add("tables.commit", t0, t1, round=rnd)
        return out

    Catalog.commit = commit
    if not rec.traced:
        return
    _span(rec, Engine, "run", "engine.run")
    _span(rec, Engine, "finalize", "engine.finalize")
    _span(rec, Catalog, "append", "tables.append")
    _span(rec, Catalog, "compact", "tables.compact")
    _span(rec, Bloom, "add_dataframe", "seen.bloom_add")


def add_round_spans(rec: Recorder, run_start: float, run_end: float,
                    rounds: int) -> list[float]:
    """Turn commit marks into round spans and return the round walls.

    Engine.run commits round -1 (the seeded frontier) first, then one
    commit per round. Round r runs from the end of commit r-1 to the end of
    commit r, so it includes the previous round's post-commit compaction."""
    marks = rec.commits_between(run_start, run_end)
    walls = []
    for r in range(rounds):
        if r in marks and r - 1 in marks:
            start, end = marks[r - 1][0], marks[r][0]
            walls.append(end - start)
            if rec.traced:
                jobs = marks[r][1] - marks[r - 1][1]
                rec.add("engine.round", start, end, round=r, jobs=jobs)
    return walls


# --- Spark event log -----------------------------------------------------

def event_log_settings(log_dir: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
        "spark.sql.pyspark.udf.profiler": "perf",
    }


def read_event_log(log_dir: str, app_id: str) -> tuple[dict, dict]:
    """(jobs, tasks by stage) from an application's event log.

    jobs: job id -> {"submit": epoch seconds, "stages": [...]};
    tasks: stage id -> list of per-task metric dicts."""
    paths = sorted(glob.glob(os.path.join(log_dir, app_id + "*")))
    jobs: dict[int, dict] = {}
    tasks: dict[int, list] = {}
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = {
                        "submit": ev["Submission Time"] / 1000.0,
                        "stages": ev.get("Stage IDs", []),
                    }
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    tasks.setdefault(ev["Stage ID"], []).append({
                        "run_s": m.get("Executor Run Time", 0) / 1000.0,
                        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                        "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                        "shuffle_b": sw.get("Shuffle Bytes Written", 0),
                    })
    return jobs, tasks


def spark_totals(jobs: dict, tasks: dict, start: float, end: float) -> dict:
    """Totals over the jobs submitted inside [start, end] (epoch seconds)."""
    tot = {"jobs": 0, "tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
           "shuffle_b": 0}
    for job in jobs.values():
        if not start <= job["submit"] <= end:
            continue
        tot["jobs"] += 1
        for sid in job["stages"]:
            for t in tasks.get(sid, []):
                tot["tasks"] += 1
                for k in ("run_s", "cpu_s", "gc_s", "shuffle_b"):
                    tot[k] += t[k]
    return tot


def attribute_jobs(rec: Recorder, jobs: dict, tasks: dict,
                   wall_offset: float) -> None:
    """Attach each job's executor time, GC and shuffle bytes to the
    innermost span that was open when the job was submitted."""
    by_len = sorted(rec.spans, key=lambda s: s["end"] - s["start"])
    for job in jobs.values():
        t = job["submit"] - wall_offset
        for s in by_len:
            if s["start"] <= t <= s["end"]:
                one = spark_totals({0: job}, tasks, job["submit"], job["submit"])
                for k, v in one.items():
                    s["spark." + k] = s.get("spark." + k, 0) + v
                break


# --- Python UDF profiler -------------------------------------------------

def udf_python_seconds(spark) -> dict[str, float]:
    """Cumulative Python seconds per UDF body since the last clear, summed
    over every UDF instance (each round plans fresh UDF ids)."""
    out: dict[str, float] = {}
    results = spark.profile.profiler_collector._perf_profile_results
    for stats in results.values():
        for (fname, _line, func), row in stats.stats.items():
            name = UDF_FUNCTIONS.get((os.path.basename(fname), func))
            if name is not None:
                out[name] = out.get(name, 0.0) + row[3]
    return out
