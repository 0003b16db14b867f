#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, closed loop.

    python3 perfbench/run.py --workload {ecs_sim,curation} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. One client runs operations one after
another on `local[<cores> - 1]`, in a single driver process. The last
stdout line is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones, measured with
tracing off. With `--trace 1` the same untraced measurement runs
first, then one traced unit of work in a fresh Spark session with the
event log on; the metrics are then the per-layer ones, including
`trace.overhead_ratio` (traced over untraced unit wall time). The line
before the result is a JSON `context` object: host canary, load
average, sample counts and any failing operation by name.

See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import fcntl
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, "perfbench", ".state")
WORKLOADS = ("ecs_sim", "curation")
PREP_VERSION = 1

#: Tail percentile. A run has 10 or 11 values of each kind, too few for
#: any percentile with ten samples beyond it (README.md).
TAIL_PCT = 75

END_TO_END = ("setup_s", "wall_s", "query_p50_s", "query_tail_s", "step_p50_s", "step_tail_s")

sys.path.insert(0, ROOT)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float, help="length of the timed window")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full", help="tiny: the self-test's inputs")
    p.add_argument("--prepare", action="store_true", help=argparse.SUPPRESS)
    return p.parse_args(argv)


# --------------------------------------------------------------- helpers
def percentile(values, pct: float) -> float:
    """Linear-interpolated percentile of `values` (0 < pct < 100)."""
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    pos = (len(xs) - 1) * pct / 100
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def vmhwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def steal_s() -> float:
    """CPU time the hypervisor has taken from this machine since boot,
    summed over CPUs (the `steal` column of /proc/stat)."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def isolate() -> None:
    """Keep every file the run writes under STATE: ANN indexes and lake
    fixtures, temp files, Spark local dirs."""
    import tempfile

    for sub in ("index", "tmp", "spark-local", "prep", "eventlog", "traces"):
        os.makedirs(os.path.join(STATE, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_INDEX_DIR"] = os.path.join(STATE, "index")
    os.environ["TMPDIR"] = os.path.join(STATE, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(STATE, "spark-local")
    # One core stays free for the Spark driver, the Python workers and the JIT.
    # On 4 cores, local[3] ran `curation` faster than local[4] and its
    # run-to-run spread fell from 19-38% to 6-14% (README.md).
    os.environ["SPARK_GRAFT_CPUS"] = str(max(1, len(os.sched_getaffinity(0)) - 1))
    tempfile.tempdir = None


def spark_conf(event_log: str | None = None) -> dict:
    tmp = os.path.join(STATE, "tmp")
    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(STATE, "warehouse"),
    }
    if event_log:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def start_session(event_log: str | None = None):
    from archetype_spark.session import get_spark

    spark = get_spark(app_name="perfbench", extra_conf=spark_conf(event_log))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop Spark and the py4j JVM this process launched, and wait for it."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


# ------------------------------------------------------------- workloads
class Workload:
    """One workload's set-up, correctness pass and unit of timed work."""

    def __init__(self, args):
        from archetype_spark.queries.northstar import CORRECTNESS_SF_DIR

        self.args = args
        self.name = args.workload
        tiny = args.size == "tiny"
        # the smallest corpus tier sits beside the correctness scale
        self.data_dir = os.path.join(os.path.dirname(CORRECTNESS_SF_DIR), "sf0.001") if tiny else CORRECTNESS_SF_DIR
        self.scratch = os.path.join(STATE, "tmp")
        self.rng = random.Random(args.seed)
        self.problems: dict = {}
        if self.name != "ecs_sim":
            from perfbench import corpus

            ids = corpus.TINY_IDS if tiny else corpus.QUERY_IDS
            self.names = corpus.query_names(ids[self.name])

    # Shared by every workload: one prepared state per corpus and query set.
    def prep_names(self) -> list[str]:
        from perfbench import corpus

        ids = corpus.TINY_IDS if self.args.size == "tiny" else corpus.QUERY_IDS
        return corpus.query_names(ids["curation"])

    def prep_file(self) -> str:
        key = json.dumps([PREP_VERSION, os.path.abspath(self.data_dir), self.prep_names()])
        return os.path.join(STATE, "prep", hashlib.sha256(key.encode()).hexdigest()[:16] + ".json")

    def ensure_prepared(self) -> None:
        """Build fixtures, indexes and oracle rows once per checkout, in a
        child process, so this run's JVM starts in the same state as
        every other run's."""
        with open(os.path.join(STATE, "prep", "lock"), "w") as lock:
            fcntl.flock(lock, fcntl.LOCK_EX)
            if os.path.isfile(self.prep_file()):
                return
            argv = [sys.executable, os.path.abspath(__file__), "--prepare"] + [
                a for a in sys.argv[1:] if a != "--prepare"
            ]
            subprocess.run(argv, check=True, stdout=sys.stderr)

    def prepare(self) -> None:
        from perfbench import corpus

        spark = start_session()
        try:
            corpus.prepare(spark, self.data_dir, self.prep_names(), self.prep_file())
        finally:
            stop_jvm()

    def setup(self, event_log: str | None = None) -> tuple[object, dict]:
        """Session start (with the JVM launch when none is running yet),
        index and fixture readiness, and the session's first job."""
        from perfbench import corpus

        t0 = time.perf_counter()
        spark = start_session(event_log)
        t1 = time.perf_counter()
        if self.name == "curation":
            corpus.ensure_index(spark, self.data_dir)
        t2 = time.perf_counter()
        if self.name != "ecs_sim":
            self.expected = corpus.load_expected(self.prep_file(), self.names)
        t3 = time.perf_counter()
        corpus.noop(spark.range(1000).selectExpr("sum(id)"))
        t4 = time.perf_counter()
        return spark, {
            "setup.session_s": t1 - t0,
            "setup.index_s": t2 - t1,
            "setup.fixtures_s": t3 - t2,
            "setup.warm_s": t4 - t3,
        }

    def warm_up(self, spark) -> None:
        """Untimed work over the workload's code paths before the timed
        window: a small `ecs_sim` episode with the full op schedule, or
        the `curation` correctness pass, which executes every query
        once, then one pass into the noop sink. The first noop pass
        after the correctness pass still ran about 18% slower than the
        median of the seven after it."""
        from perfbench import corpus, ecs_sim, tracing

        null = tracing.NullTracer()
        if self.name == "ecs_sim":
            seed = self.rng.randrange(2**31)
            ecs_sim.run_episode(spark, seed, ecs_sim.SIZES["warm"], self.scratch, null, [], check=False)
            return
        order = list(self.names)
        self.rng.shuffle(order)
        self.problems = corpus.check_all(spark, self.data_dir, order, self.expected)
        self.rng.shuffle(order)
        corpus.run_pass(spark, self.data_dir, order, null, [])

    def unit(self, spark, tracer, ops: list) -> dict:
        """One unit of timed work: an episode or a pass."""
        from perfbench import corpus, ecs_sim

        if self.name == "ecs_sim":
            size = ecs_sim.SIZES[self.args.size]
            return ecs_sim.run_episode(spark, self.rng.randrange(2**31), size, self.scratch, tracer, ops)
        order = list(self.names)
        self.rng.shuffle(order)
        start = len(ops)
        wall = corpus.run_pass(spark, self.data_dir, order, tracer, ops)
        for rec in ops[start:]:
            if self.problems.get(rec["name"]):
                rec["ok"] = False
                rec["error"] = self.problems[rec["name"]]
        return {"wall_s": wall, "problem": None}


def mark_episode(unit: dict, ops: list, start: int) -> None:
    """A wrong final state fails every step of its episode."""
    if unit.get("problem"):
        for rec in ops[start:]:
            if rec["kind"] == "step":
                rec["ok"] = False
                rec["error"] = unit["problem"]


def run_units(wl: Workload, spark, tracer, seconds: float, ops: list) -> list[dict]:
    """Closed loop: units back to back while less than `seconds` have passed."""
    units = []
    t0 = time.perf_counter()
    while not units or time.perf_counter() - t0 < seconds:
        start = len(ops)
        units.append(wl.unit(spark, tracer, ops))
        mark_episode(units[-1], ops, start)
    return units


def end_to_end(wl: Workload, setup: dict, units: list[dict], ops: list) -> dict:
    if wl.name == "ecs_sim":
        reads = [r["seconds"] for r in ops if r["kind"] == "read"]
        steps = [r["seconds"] for r in ops if r["kind"] == "step"]
    else:
        # One value per query: its median over the run's passes. A pooled
        # median of a few distinct queries lands on the slowest sample of
        # one query or the fastest of another wherever two queries'
        # times leave a gap, so it jumps between runs.
        by_name = defaultdict(list)
        for r in ops:
            by_name[r["name"]].append(r)
        reads = [statistics.median(r["seconds"] for r in rs) for rs in by_name.values()]
        steps = [statistics.median(r["execute_s"] for r in rs) for rs in by_name.values()]
    return {
        "setup_s": sum(setup.values()),
        "wall_s": statistics.median(u["wall_s"] for u in units),
        "query_p50_s": statistics.median(reads),
        "query_tail_s": percentile(reads, TAIL_PCT),
        "step_p50_s": statistics.median(steps),
        "step_tail_s": percentile(steps, TAIL_PCT),
    }


def traced(wl: Workload, spark, setup: dict, untraced_wall: float, ops: list) -> dict:
    """One traced unit in a fresh session with the event log on. The
    `setup.*` split is the untraced run's, the one `setup_s` sums."""
    from perfbench import tracing

    spark.stop()
    log_dir = os.path.join(STATE, "eventlog", f"{os.getpid()}-{time.time_ns()}")
    os.makedirs(log_dir)
    spark, _ = wl.setup(log_dir)
    tracer = tracing.Tracer(spark.sparkContext)
    tracer.install()
    start = len(ops)
    try:
        unit = wl.unit(spark, tracer, ops)
    finally:
        tracer.uninstall()
    mark_episode(unit, ops, start)
    jobs = tracer.collect_jobs()
    spark.stop()
    tasks = tracing.fold_event_log(log_dir)
    shutil.rmtree(log_dir, ignore_errors=True)
    metrics = dict(setup)
    metrics.update(tracing.layer_metrics(tracer.spans, jobs, tasks, ops[start:], unit))
    metrics["trace.overhead_ratio"] = unit["wall_s"] / untraced_wall
    tracing.write_spans(
        os.path.join(STATE, "traces", f"{wl.name}-seed{wl.args.seed}-{os.getpid()}.json"), tracer.spans, jobs, tasks
    )
    return metrics


def measure(args) -> dict:
    wl = Workload(args)
    if os.path.isdir(wl.data_dir):
        wl.ensure_prepared()
    elif wl.name != "ecs_sim":
        raise FileNotFoundError(f"corpus directory {wl.data_dir} is missing")
    from perfbench import tracing

    null = tracing.NullTracer()
    # One cold set-up per run, JVM launch included: what a user waits
    # for. Repeating it would launch a JVM each time (about 8 s), and
    # restarts inside one JVM spread 20-50% between runs (README.md).
    spark, setup = wl.setup()
    wl.warm_up(spark)
    ops: list = []
    units = run_units(wl, spark, null, args.seconds, ops)
    untraced_ops = len(ops)
    rss = vmhwm_mb(os.getpid()) + vmhwm_mb(jvm_pid() or os.getpid())
    values = end_to_end(wl, setup, units, ops)
    if args.trace:
        values = traced(wl, spark, setup, values["wall_s"], ops)
        values["peak_rss_mb"] = rss
    failed = [r for r in ops if not r["ok"]]
    error_rate = len(failed) / len(ops)
    if args.trace:
        values["error_rate"] = error_rate
    units_of = tracing.PER_LAYER_UNITS if args.trace else dict.fromkeys(END_TO_END, "s")
    metrics = {k: {"value": v, "unit": units_of[k]} for k, v in values.items()}
    return {
        "result": {"correct": not failed, "attempted": len(ops), "failed": len(failed), "metrics": metrics},
        "context": {
            "workload": wl.name,
            "seed": args.seed,
            "size": args.size,
            "data_dir": wl.data_dir,
            "units": len(units),
            "timed_ops": untraced_ops,
            "tail_percentile": TAIL_PCT,
            "peak_rss_mb": rss,
            "setup": setup,
            "op_seconds": [[r.get("name", r["kind"]), round(r["seconds"], 4)] for r in ops[:untraced_ops]],
            "error_rate": error_rate,
            "failures": sorted({f"{r.get('name', r['kind'])}: {r['error']}" for r in failed})[:20],
        },
    }


def main(argv=None) -> int:
    args = parse_args(sys.argv[1:] if argv is None else argv)
    try:
        import archetype_spark  # noqa: F401
        import tests.oracle_diff  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the program is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    isolate()
    if args.prepare:
        Workload(args).prepare()
        return 0
    steal0 = steal_s()
    try:
        out = measure(args)
    finally:
        stop_jvm()
    out["context"]["cpu_steal_s"] = steal_s() - steal0
    from bench import _cpu_score_parallel

    out["context"]["cpu_score_parallel_sec"] = _cpu_score_parallel()
    out["context"]["loadavg"] = list(os.getloadavg())
    print(json.dumps({"context": out["context"]}))
    print(json.dumps(out["result"]), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
