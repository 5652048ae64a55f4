#!/usr/bin/env python3
"""Layered benchmark of archetype_spark: one workload per run.

    python3 perfbench/run.py --workload corpus --seed 1 --seconds 10 --trace 0

Run it from the repository root. The last line of standard output is one
JSON object: `correct`, `attempted`, `failed` and `metrics` (the
end-to-end metrics of BENCHMARK.json with `--trace 0`, the per-layer ones
with `--trace 1`). The line before it holds the run's details (seed,
corpus fingerprint, tail percentile and sample count, host canary,
failures). Workloads and metrics are described in perfbench/README.md.

All state lives under `.perfbench_state/` in the repository root: the
generated sf0.1 corpus, ANN indexes and lake fixtures (built once by a
prepare step in its own process, outside every timed region and outside
`setup_s`), cached oracle digests and per-run ECS warehouses. Files are
written through the OS page cache with no fsync.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, ".perfbench_state")
SF_DIR = os.path.join(STATE, "corpus", "sf0.1")
INDEX_DIR = os.path.join(STATE, "index")
PREPARE_FILE = os.path.join(STATE, "prepare.json")
ORACLE_FILE = os.path.join(STATE, "oracles.json")
CORPUS_SEED = 42
SETUP_REPEATS = 3
WORKLOADS = ("corpus", "ecs")


def _environment() -> None:
    """Point every location the program writes to into the state dir
    and pin local parallelism to the host's CPU count."""
    tmp = os.path.join(STATE, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)  # what earlier runs left behind
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_INDEX_DIR"] = INDEX_DIR
    os.environ["SPARK_GRAFT_SF_DIR"] = SF_DIR
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    sys.path.insert(0, ROOT)


def _start_spark():
    from archetype_spark.session import get_spark

    tmp = os.environ["TMPDIR"]
    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(STATE, "spark-warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM. The
    JVM exits when its stdin closes; it is killed if it does not."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _file_digest(paths) -> str:
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def corpus_fingerprint() -> str:
    from archetype_spark.tables import TABLES

    return _file_digest(os.path.join(SF_DIR, f"{t}.parquet") for t in TABLES)


def _prepare_key() -> str:
    """Identity of what prepare builds: the corpus generator, the query
    lists and the package (a changed engine may build other indexes)."""
    from perfbench.workloads import CURATION, LAKE

    files = [os.path.join(ROOT, "perfbench", "datagen.py")]
    for d, _, names in os.walk(os.path.join(ROOT, "archetype_spark")):
        files += [os.path.join(d, n) for n in names if n.endswith(".py")]
    return _file_digest(files) + hashlib.sha256(json.dumps([CURATION, LAKE]).encode()).hexdigest()[:8]


# --------------------------------------------------------------- prepare
def prepare() -> None:
    """One-off build, in its own process: corpus, ANN indexes, lake
    fixtures and oracle digests. Times the index and fixture builds."""
    from perfbench import datagen
    from perfbench.trace import Tracer
    from perfbench.workloads import CURATION, LAKE, _noop, resolve

    for d in (os.path.join(STATE, "corpus"), INDEX_DIR, ORACLE_FILE, PREPARE_FILE):
        if os.path.isdir(d):
            shutil.rmtree(d)
        elif os.path.exists(d):
            os.remove(d)
    t0 = time.perf_counter()
    datagen.write_corpus(SF_DIR, seed=CORPUS_SEED)
    corpus_s = time.perf_counter() - t0
    spark = _start_spark()
    try:
        from archetype_spark.queries import all_queries

        q = all_queries()
        tracer = Tracer(spark)
        tracer.install()
        tracer.enabled = True
        for name in resolve(CURATION) + resolve(LAKE):
            _noop(q[name](spark, SF_DIR))
        totals = tracer.layer_totals()
        index_s = totals.get("index", (0.0,))[0]
        fixture_s = totals.get("fixture", (0.0,))[0]
        tracer.uninstall()
        t0 = time.perf_counter()
        ctx = Context(spark, "prepare", 0, 0, False)
        for name in resolve(CURATION) + resolve(LAKE):
            if ctx.oracle_digest(name) is None:
                raise RuntimeError(f"{name} has no oracle")
        oracle_s = time.perf_counter() - t0
    finally:
        _stop_spark(spark)
    record = {
        "key": _prepare_key(),
        "corpus_fingerprint": corpus_fingerprint(),
        "corpus_seed": CORPUS_SEED,
        "corpus_s": corpus_s,
        "index_build_s": index_s,
        "fixture_build_s": fixture_s,
        "oracle_s": oracle_s,
    }
    with open(PREPARE_FILE, "w") as fh:
        json.dump(record, fh, indent=1)


def ensure_prepared() -> dict:
    try:
        with open(PREPARE_FILE) as fh:
            record = json.load(fh)
        if record.get("key") == _prepare_key():
            return record
    except (OSError, ValueError):
        pass
    subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--prepare"],
        cwd=ROOT, check=True, stdout=sys.stderr, timeout=800,
    )
    with open(PREPARE_FILE) as fh:
        return json.load(fh)


# --------------------------------------------------------------- context
class Context:
    """What a workload needs from the harness."""

    def __init__(self, spark, workload: str, seed: int, seconds: int, trace: bool):
        self.spark = spark
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.sf_dir = SF_DIR
        self._oracles = None
        self._state_fp = None

    def run_dir(self, name: str) -> str:
        path = os.path.join(STATE, "runs", name)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        return path

    def oracle_digest(self, name: str):
        """(digest, rows) of the DuckDB oracle of query `name`, cached per
        oracle text, corpus fingerprint and index state."""
        from archetype_spark.queries import all_oracles
        from tests.oracle_diff import run_oracle

        from perfbench.workloads import canonical_digest

        if self._oracles is None:
            self._oracles = all_oracles(SF_DIR)
            idx = []
            for d, _, names in os.walk(INDEX_DIR):
                idx += [(os.path.relpath(os.path.join(d, n), INDEX_DIR),
                         os.path.getsize(os.path.join(d, n))) for n in names]
            self._state_fp = corpus_fingerprint() + hashlib.sha256(
                json.dumps(sorted(idx)).encode()).hexdigest()
        sql = self._oracles.get(name)
        if sql is None:
            return None
        key = hashlib.sha256((sql + "\0" + self._state_fp).encode()).hexdigest()
        try:
            with open(ORACLE_FILE) as fh:
                cache = json.load(fh)
        except (OSError, ValueError):
            cache = {}
        hit = cache.get(name)
        if hit and hit["key"] == key:
            return tuple(hit["digest"])
        digest = canonical_digest(*run_oracle(sql, SF_DIR))
        cache[name] = {"key": key, "digest": list(digest)}
        with open(ORACLE_FILE + ".tmp", "w") as fh:
            json.dump(cache, fh)
        os.replace(ORACLE_FILE + ".tmp", ORACLE_FILE)
        return digest


# ---------------------------------------------------------------- metrics
def tail(samples: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples beyond it) for the highest percentile
    with at least ten samples beyond it. Below twenty samples that
    percentile would sit at or below the median, so the 90th percentile,
    interpolated between the two samples around it, stands in: unlike
    the maximum it does not rest on one sample."""
    xs = sorted(samples)
    n = len(xs)
    if n < 20:
        if n == 1:
            return xs[0], 100.0, 0
        v = statistics.quantiles(xs, n=10, method="inclusive")[-1]
        return v, 90.0, sum(x > v for x in xs)
    return xs[n - 11], 100.0 * (n - 10) / n, 10


def geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(max(x, 1e-9)) for x in xs) / len(xs))


def op_latencies(res) -> list[float]:
    """One latency per op of the mix: each query's median over the
    timed passes (corpus), or each micro-batch as it ran (ecs)."""
    if not res.op_names:
        return res.op_s
    by_name: dict[str, list[float]] = {}
    for name, t in zip(res.op_names, res.op_s):
        by_name.setdefault(name, []).append(t)
    return [statistics.median(ts) for ts in by_name.values()]


def end_to_end(setup_s: float, res) -> dict:
    ops = op_latencies(res)
    t, _, _ = tail(ops)
    return {
        "setup_s": (setup_s, "s"),
        "wall_s": (statistics.median(res.wall_s), "s"),
        "op_p50_s": (statistics.median(ops), "s"),
        "op_tail_s": (t, "s"),
        "op_geomean_s": (geomean(ops), "s"),
    }


def per_layer(ctx, tracer, res, record: dict, host: dict, session_s: float) -> dict:
    from perfbench.workloads import parquet_files

    per_op, per_group = tracer.harvest()
    ops = list(tracer.ops)
    n = max(len(ops), 1)
    lt = tracer.layer_totals(ops)

    def span(name, i=0, table=lt):
        return table.get(name, (0.0, 0, 0))[i]

    def mean_op(key):
        return sum(per_op[o].get(key, 0.0) for o in ops) / n

    op_wall = statistics.mean(res.traced_op_s) if res.traced_op_s else 0.0
    construct = span("queries.construct")
    lake_files = len(parquet_files(INDEX_DIR))
    extra = res.extra
    if ctx.workload == "corpus":
        overhead = statistics.median(res.traced_wall_s) / statistics.median(res.wall_s)
    else:
        overhead = extra["trace_overhead_ratio"]
    cores = os.cpu_count() or 1
    ecs = ctx.workload == "ecs"
    return {
        "queries.construct_s": (construct / n, "s"),
        "queries.construct_jobs": (
            sum(per_group.get(o + "/construct", {}).get("jobs", 0) for o in ops) / n, "count"),
        "queries.py4j_calls": (span("queries.construct", 2) / n, "count"),
        "queries.construct_share": (construct / max(span("op"), 1e-9) if construct else 0.0, "ratio"),
        "operators.python_bytes_sent": (mean_op("python_bytes_sent"), "B"),
        "operators.python_stage_run_s": (mean_op("python_stage_run_s"), "s"),
        "operators.index_check_s": (span("index") / n, "s"),
        "operators.index_build_s": (record["index_build_s"], "s"),
        "sources.read_s": (span("sources") / n, "s"),
        "sources.read_calls": (span("sources", 1) / n, "count"),
        "sources.py4j_calls": (span("sources", 2) / n, "count"),
        "sources.files_read": (mean_op("files_read"), "count"),
        "sources.files_read_ratio": (
            0.0 if ecs else mean_op("files_read") / max(lake_files, 1), "ratio"),
        "sources.fixture_build_s": (record["fixture_build_s"], "s"),
        "ecs.execute_s": (span("ecs.execute") / n, "s"),
        "ecs.commit_s": (span("ecs.commit") / n, "s"),
        "ecs.jobs_per_step": (mean_op("jobs") if ecs else 0.0, "count"),
        "ecs.rows_read_per_live_row": (
            sum(per_op[o].get("input_records", 0.0) / extra["live_at"][o] for o in ops) / n
            if ecs else 0.0, "ratio"),
        "ecs.step_slope_s": (extra.get("step_slope_s", 0.0), "s"),
        "ecs.bytes_written_per_step": (
            mean_op("output_bytes") if ecs else 0.0, "B"),
        "ecs.despawn_s": (span("ecs.despawn") / max(span("ecs.despawn", 1), 1), "s"),
        "ecs.spawn_many_s": (span("ecs.spawn_many") / max(span("ecs.spawn_many", 1), 1), "s"),
        "ecs.files_per_table": (extra.get("files_per_table", 0.0), "count"),
        "ecs.spawn_s": (extra.get("spawn_s", 0.0), "s"),
        "ecs.history_scan_s": (extra.get("history_scan_s", 0.0), "s"),
        "ecs.store_bytes_per_row": (extra.get("store_bytes_per_row", 0.0), "B"),
        "streaming.add_batch_s": (extra.get("add_batch_s", 0.0), "s"),
        "streaming.wal_commit_s": (extra.get("wal_commit_s", 0.0), "s"),
        "streaming.latest_offset_s": (extra.get("latest_offset_s", 0.0), "s"),
        "streaming.query_planning_s": (extra.get("query_planning_s", 0.0), "s"),
        "streaming.overhead_s": (extra.get("overhead_s", 0.0), "s"),
        "exec.jobs": (mean_op("jobs"), "count"),
        "exec.stages": (mean_op("stages"), "count"),
        "exec.tasks": (mean_op("tasks"), "count"),
        "exec.failed_tasks": (mean_op("failed_tasks"), "count"),
        "exec.plan_s": (span("exec.plan") / n, "s"),
        "exec.executor_run_s": (mean_op("executor_run_s"), "s"),
        "exec.executor_cpu_s": (mean_op("executor_cpu_s"), "s"),
        "exec.gc_s": (mean_op("gc_s"), "s"),
        "exec.input_bytes": (mean_op("input_bytes"), "B"),
        "exec.shuffle_read_bytes": (mean_op("shuffle_read_bytes"), "B"),
        "exec.shuffle_write_bytes": (mean_op("shuffle_write_bytes"), "B"),
        "exec.spill_bytes": (mean_op("spill_bytes"), "B"),
        "exec.busy_ratio": (mean_op("executor_run_s") / max(op_wall * cores, 1e-9), "ratio"),
        "exec.job_floor_s": (job_floor(ctx.spark), "s"),
        "session.start_s": (session_s, "s"),
        "host.canary_parallel_s": (host["canary_parallel_s"], "s"),
        "host.loadavg_1m": (host["loadavg"][0], "load"),
        "trace.overhead_ratio": (overhead, "ratio"),
    }


def job_floor(spark, reps: int = 7) -> float:
    """Median wall time of a one-row, one-task job into the noop sink:
    the fixed cost every Spark job pays on this JVM."""
    ts = []
    for _ in range(reps):
        t0 = time.perf_counter()
        spark.range(1).write.format("noop").mode("overwrite").save()
        ts.append(time.perf_counter() - t0)
    return statistics.median(ts)


def host_canary() -> dict:
    """bench.py's fixed-work parallel CPU score and the load average,
    taken before the JVM starts so a host wave shows in the result."""
    import bench

    return {"canary_parallel_s": bench._cpu_score_parallel(), "loadavg": list(os.getloadavg())}


# ------------------------------------------------------------------- main
def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--prepare", action="store_true", help="build the cached state only")
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "archetype_spark", "__init__.py")):
        print(f"perfbench: no archetype_spark package under {ROOT}", file=sys.stderr)
        return 2
    _environment()
    if args.prepare:
        prepare()
        return 0
    if args.workload is None:
        ap.error("--workload is required")

    phases = {}
    t_phase = time.perf_counter()

    def phase(name):
        nonlocal t_phase
        now = time.perf_counter()
        phases[name] = now - t_phase
        t_phase = now

    host = host_canary()
    phase("canary")
    record = ensure_prepared()
    phase("prepare")

    from perfbench import workloads as w
    from perfbench.trace import Tracer

    t0 = time.perf_counter()
    spark = _start_spark()
    session_s = time.perf_counter() - t0
    phase("session")
    try:
        ctx = Context(spark, args.workload, args.seed, args.seconds, bool(args.trace))
        wl = w.Corpus(ctx) if args.workload == "corpus" else w.Ecs(ctx)
        setups = []
        for _ in range(SETUP_REPEATS):
            spark.stop()
            t0 = time.perf_counter()
            spark = ctx.spark = _start_spark()
            wl.setup()
            setups.append(time.perf_counter() - t0)
        phase("setup")
        tracer = None
        if args.trace:
            tracer = Tracer(spark)
            tracer.install()
        res = wl.run(tracer)
        phase("run")
        if args.trace:
            metrics = per_layer(ctx, tracer, res, record, host, session_s)
            tracer.uninstall()
        else:
            metrics = end_to_end(statistics.median(setups), res)
    finally:
        _stop_spark(spark)
    phase("teardown")

    _, pct, beyond = tail(op_latencies(res))
    details = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "corpus_fingerprint": record["corpus_fingerprint"],
        "corpus_seed": record["corpus_seed"],
        "ops": len(res.op_s),
        "op_tail_percentile": pct,
        "op_tail_samples_beyond": beyond,
        "fail_ratio": res.failed / max(res.attempted, 1),
        "failures": res.failures[:20],
        "setup_samples_s": setups,
        "session_start_s": session_s,
        "phase_s": phases,
        "host": host,
        "flush": "OS page cache, no fsync",
        "extra": res.extra,
        "op_s": list(zip(res.op_names, res.op_s)) if res.op_names else res.op_s,
        "wall_samples_s": res.wall_s,
    }
    print(json.dumps({"details": details}))
    out = {
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    try:
        code = main()
    except SystemExit as e:
        code = e.code if isinstance(e.code, int) else 1
    except Exception:
        traceback.print_exc()
        code = 1
    sys.stdout.flush()
    sys.stderr.flush()
    # Spark is stopped and its JVM has exited; end now rather than wait
    # on py4j's helper threads, which can outlive the gateway
    os._exit(code)
