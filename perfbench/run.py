"""crabspark benchmark: one workload per process, or every workload.

    python3 perfbench/run.py --workload crawl_bulk --seed 3 --seconds 25 --trace 0
    python3 perfbench/run.py --seed 3            # every workload, untraced + traced

With --workload, the last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"}; the metrics are the
``end_to_end`` list of BENCHMARK.json with --trace 0 and its ``per_layer``
list with --trace 1. The line before it carries host-health readings
(CPU pressure stall, steal, a fixed numpy probe) bracketing the run; they
explain a slow run and are never used to retry one.

Without --workload, each workload of BENCHMARK.json runs in a fresh
process, untraced and then traced, and every metric is printed by name and
unit, with the tracing overhead (traced minus untraced unit wall).

Everything the run writes goes under .bench_data/ in the checkout.
"""

from __future__ import annotations

import time

T_START = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DATA = os.path.join(ROOT, ".bench_data")
TMP = os.path.join(DATA, "tmp")
sys.path.insert(0, ROOT)

# Session settings, fixed so that both commits of a comparison run alike:
# one task slot per CPU and a driver heap that fits a 15 GB box.
SLOTS = len(os.sched_getaffinity(0))
HEAP = "6g"


def build_session(traced: bool):
    from pyspark.sql import SparkSession

    from perfbench import trace

    conf = {
        "spark.driver.memory": HEAP,
        # ParallelGC: see bench.get_spark; GC flags bind on the first session
        "spark.driver.extraJavaOptions": f"-XX:+UseParallelGC -Djava.io.tmpdir={TMP}",
        "spark.local.dir": os.path.join(DATA, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(DATA, "warehouse"),
        "spark.sql.shuffle.partitions": str(max(SLOTS, 8)),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.files.maxPartitionBytes": "16m",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version": "2",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        log_dir = os.path.join(DATA, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update(trace.event_log_settings(log_dir))
    builder = SparkSession.builder.master(f"local[{SLOTS}]").appName("perfbench")
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop the gateway JVM that PySpark launched and wait for it to exit
    (it exits when its stdin closes)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _tree_rss(pid: int) -> int:
    """RSS bytes of pid and all its descendants (JVM, Python workers)."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(d))
    total, todo = 0, [pid]
    page = os.sysconf("SC_PAGE_SIZE")
    while todo:
        p = todo.pop()
        todo.extend(children.get(p, []))
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, ValueError, IndexError):
            pass
    return total


class RssSampler(threading.Thread):
    def __init__(self, interval: float = 0.25):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self._done = threading.Event()

    def run(self) -> None:
        while not self._done.wait(self.interval):
            self.peak = max(self.peak, _tree_rss(os.getpid()))

    def stop(self) -> int:
        self._done.set()
        self.join()
        return max(self.peak, _tree_rss(os.getpid()))


def measure(args, spec: dict) -> dict:
    import bench
    from crabspark.shipping import ship_package
    from perfbench import trace, workloads

    wl = workloads.make(args.workload, args.seed, args.scale, DATA,
                        workloads.load_expected(args.expected),
                        fixture_seed=args.fixture_seed)
    rec = trace.Recorder(bool(args.trace))
    trace.install(rec)
    t = time.monotonic()
    wl.prepare()
    health0 = bench._env_snapshot()
    layer = wl.kernel_rates() if args.trace else {}
    excluded = time.monotonic() - t  # input generation is not set-up

    setups, spark = [], None
    for i in range(wl.setups):
        t0 = time.monotonic()
        if spark is not None:
            spark.stop()
        spark = build_session(bool(args.trace))
        jvm_sc = spark.sparkContext._jsc.sc()
        rec.job_counter = lambda sc=jvm_sc: int(sc.dagScheduler().nextJobId())
        ship_package(spark)
        wl.warm(spark)
        start = T_START + excluded if i == 0 else t0
        setups.append(time.monotonic() - start)

    phases = {"prepare": excluded, "setup": time.monotonic() - T_START - excluded}
    t = time.monotonic()
    failures = wl.prime(spark)
    phases["prime"] = time.monotonic() - t
    if args.trace:
        spark.profile.clear(type="perf")
    rss = RssSampler()
    rss.start()
    # as many whole units as fit into --seconds on an idle host; the count
    # does not depend on how busy the host is (see unit_s in workloads.py)
    n_units = max(1, int(args.seconds // wl.unit_s))
    t_meas = time.monotonic()
    units = [wl.run_unit(spark, rec) for _ in range(n_units)]
    peak_rss = rss.stop()
    phases["measure"] = time.monotonic() - t_meas
    t = time.monotonic()
    for u in units:
        failures += wl.check(u)
    phases["check"] = time.monotonic() - t
    if args.record:
        wl.record(args.expected, units[0])

    if args.trace:
        layer.update(wl.layer_metrics(spark, units[0], rec))
        py = trace.udf_python_seconds(spark)
    app_id = spark.sparkContext.applicationId
    for u in units:
        wl.cleanup(u)
    spark.stop()
    stop_jvm()
    health1 = bench._env_snapshot()
    phases["total"] = time.monotonic() - T_START
    health = bench._leg_env(health0, health1, phases["total"])
    print("health " + json.dumps({**health, "phases_s": phases, "setups_s": setups,
                                  "op_walls_s": [u.op_walls for u in units]}))

    ops = sum(len(u.op_walls) for u in units)
    for f in failures:
        print("FAIL " + f, file=sys.stderr)
    if args.trace:
        names = spec["per_layer"]
        metrics = {m["name"]: 0 for m in names}
        metrics.update(_layer_values(layer, py, units[0], rec, app_id, args))
        metrics["spark.peak_rss_mb"] = peak_rss / 1e6
        metrics["trace.op_p50_s"] = statistics.median(units[0].op_walls)
    else:
        metrics = {"setup_s": statistics.median(setups), **wl.end_to_end(units)}
        names = spec["end_to_end"]
    return {
        "correct": not failures,
        "attempted": ops,
        "failed": ops if failures else 0,
        "metrics": {
            m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
            for m in names
        },
    }


def _layer_values(layer: dict, py: dict, unit, rec, app_id: str, args) -> dict:
    """Fill every per-layer metric; layers a workload does not run read 0."""
    from perfbench import trace

    offset = time.time() - time.monotonic()
    log_dir = os.path.join(DATA, "eventlog")
    jobs, tasks = trace.read_event_log(log_dir, app_id)
    t0, t1 = unit.window
    tot = trace.spark_totals(jobs, tasks, t0 + offset, t1 + offset)
    trace.attribute_jobs(rec, jobs, tasks, offset)
    rec.write(os.path.join(DATA, "traces", f"{args.workload}-s{args.seed}.json"),
              offset)
    out = dict(layer)
    udf_names = ("extract_page", "resolve_full", "blocked_join", "trim_body",
                 "image_name")
    for n in udf_names:
        out[f"udfs.{n}.py_s"] = py.get(f"udfs.{n}", 0.0)
    out["seen.probe.py_s"] = py.get("seen.probe", 0.0)
    out["seen.build.py_s"] = py.get("seen.build", 0.0)
    out.update({
        "spark.jobs": tot["jobs"],
        "spark.tasks": tot["tasks"],
        "spark.executor_run_s": tot["run_s"],
        "spark.executor_cpu_s": tot["cpu_s"],
        "spark.gc_s": tot["gc_s"],
        "spark.shuffle_write_mb": tot["shuffle_b"] / 1e6,
        "spark.slot_busy_share": tot["run_s"] / (SLOTS * (t1 - t0)),
        "udfs.python_share": sum(py.values()) / tot["run_s"] if tot["run_s"] else 0.0,
    })
    return out


def suite(args, spec: dict) -> int:
    """Every workload in a fresh process, untraced then traced."""
    status = 0
    for w in spec["workloads"]:
        runs = {}
        for traced in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__),
                   "--workload", w["name"], "--seed", str(args.seed),
                   "--seconds", str(args.seconds), "--trace", str(traced),
                   "--scale", args.scale]
            proc = subprocess.run(cmd, capture_output=True, text=True,
                                  timeout=900)
            if proc.returncode != 0:
                print(f"{w['name']} trace={traced}: exit {proc.returncode}\n"
                      f"{proc.stderr[-2000:]}", file=sys.stderr)
                status = 1
                continue
            runs[traced] = json.loads(proc.stdout.strip().splitlines()[-1])
        for traced, res in sorted(runs.items()):
            print(f"{w['name']} trace={traced} correct={res['correct']} "
                  f"attempted={res['attempted']} failed={res['failed']}")
            for name, m in res["metrics"].items():
                print(f"  {name:<34} {m['value']:>14.4f} {m['unit']}")
            status |= 0 if res["correct"] else 1
        if len(runs) == 2:
            over = (runs[1]["metrics"]["trace.run_s"]["value"]
                    - runs[0]["metrics"]["run_s"]["value"])
            print(f"{w['name']} tracing overhead: {over:.4f} s per unit")
    return status


def main() -> int:
    from perfbench import workloads

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=25.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="tiny: a few pages and queries, for the smoke test")
    ap.add_argument("--fixture-seed", type=int,
                    help="generator seed to use instead of seed mod 10 "
                         "(a held-out fixture)")
    ap.add_argument("--expected", default=workloads.EXPECTED_PATH,
                    help="reference digests to check against")
    ap.add_argument("--record", action="store_true",
                    help="store this run's reference digests in --expected")
    args = ap.parse_args()
    os.makedirs(TMP, exist_ok=True)
    os.environ["TMPDIR"] = TMP  # temp files of this process, Spark and its workers
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload is None:
        return suite(args, spec)
    print(json.dumps(measure(args, spec)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
