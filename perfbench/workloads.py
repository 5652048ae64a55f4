"""The benchmark's two workloads, `corpus` and `ecs`.

Each workload has `setup()` (repeatable program-side set-up), and
`run(tracer)` which does the warm-up, the timed ops and the output
check, and returns a `Result`. An op is one query, or one streaming
micro-batch that is one simulation step. The amount of work is fixed by
the `--seconds` budget alone, so every seed measures the same op mix.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from archetype_spark.ecs import Component, Processor, make_world, processor
from archetype_spark.queries import all_queries
from archetype_spark.streaming.world_stream import run_stream_steps
from archetype_spark.tables import TABLES, load
from tests.oracle_diff import canon_rows

#: Query prefixes of the corpus workload (see README.md for why each):
#: LLM-curation, dedup and ANN retrieval queries, then lake-format scans.
CURATION = ["q64", "q114"]
LAKE = ["q104", "q105", "q109", "q139", "q152"]

#: Nominal warm cost of one corpus pass or one micro-batch on local[4],
#: used only to turn the `--seconds` budget into a fixed amount of work.
NOMINAL_S = {"corpus": 6.0, "ecs": 3.2}
#: Fewest timed passes (corpus) or micro-batches (ecs) in a run; eight
#: micro-batches hold three churn batches, the slowest kind, so the tail
#: of a run rests on more than one or two of them.
MIN_UNITS = {"corpus": 3, "ecs": 8}
#: Untimed passes after the checking pass: the first pass after it is still
#: markedly slower than the ones that follow.
WARMUP_PASSES = 1

ENTITIES_PER_ARCHETYPE = 5_000
CHURN_EVERY = 3  # micro-batches between despawn rounds
WARMUP_BATCHES = 2  # untimed: the stream's cold start and one more
CHURN = 100  # entities despawned per archetype per round
STREAM_FILE_ROWS = 500
DT = 0.1


@dataclass
class Result:
    """What one workload run measured."""

    wall_s: list[float]  # one entry per pass (the timed region per pass)
    op_s: list[float]  # untraced op latencies
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    extra: dict = field(default_factory=dict)  # workload-specific figures
    traced_op_s: list[float] = field(default_factory=list)
    traced_wall_s: list[float] = field(default_factory=list)
    op_names: list[str] = field(default_factory=list)  # parallel to op_s


def work_units(workload: str, seconds: int) -> int:
    return max(MIN_UNITS[workload], round(seconds / NOMINAL_S[workload]))


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# ---------------------------------------------------------------- corpus
def resolve(prefixes: list[str]) -> list[str]:
    names = sorted(all_queries())
    out = []
    for p in prefixes:
        hit = [n for n in names if n.split("_", 1)[0] == p]
        if len(hit) != 1:
            raise KeyError(f"query {p} not found in the corpus")
        out.append(hit[0])
    return out


def canonical_digest(cols, rows) -> tuple[str, int]:
    """Order-insensitive digest of a result, canonicalized exactly as
    the repository's oracle tests do (tests/oracle_diff.py)."""
    body = json.dumps([sorted(cols), canon_rows(cols, rows)])
    return hashlib.sha256(body.encode()).hexdigest(), len(rows)


class Corpus:
    """Queries of the sf0.1 corpus written to the JVM `noop` sink."""

    name = "corpus"

    def __init__(self, ctx):
        self.ctx = ctx
        self.queries = resolve(CURATION + LAKE)

    def setup(self) -> None:
        for t in TABLES:
            load(self.ctx.spark, self.ctx.sf_dir, t)

    def check(self, seconds: dict) -> list[str]:
        """Run every query once (the cold warm-up) and compare its rows
        with the DuckDB oracle; return the names that differ or fail,
        and put each query's check time into `seconds`."""
        spark, sf = self.ctx.spark, self.ctx.sf_dir
        q = all_queries()
        bad = []
        for name in self.queries:
            want = self.ctx.oracle_digest(name)
            t0 = time.perf_counter()
            try:
                df = q[name](spark, sf)
                got = canonical_digest(df.columns, [tuple(r) for r in df.collect()])
            except Exception as e:  # a failing query is a failed op
                bad.append(f"{name}: {type(e).__name__}: {e}"[:300])
                got = None
            seconds[name] = time.perf_counter() - t0
            if got is not None and (want is None or got != want):
                bad.append(f"{name}: rows differ from the oracle ({got[1]} vs {want and want[1]})")
        return bad

    def run(self, tracer=None) -> Result:
        spark, sf = self.ctx.spark, self.ctx.sf_dir
        q = all_queries()
        check_s: dict[str, float] = {}
        bad = self.check(check_s)
        res = Result(wall_s=[], op_s=[], failures=bad, extra={"check_s": check_s})
        for _ in range(WARMUP_PASSES):
            for name in self.queries:
                try:
                    _noop(q[name](spark, sf))
                except Exception:  # the timed passes count it as failed
                    pass
        rng = np.random.default_rng(self.ctx.seed)
        passes = work_units(self.name, self.ctx.seconds)
        # a traced run interleaves untraced and traced passes ABBA, so
        # JIT warm-up during the run favours neither side
        plan = [False] * passes if tracer is None else [False, True, True, False]
        for pass_no, traced in enumerate(plan):
            order = [self.queries[i] for i in rng.permutation(len(self.queries))]
            walls, ops = (res.traced_wall_s, res.traced_op_s) if traced else (res.wall_s, res.op_s)
            t_pass = time.perf_counter()
            for name in order:
                res.attempted += 1
                op = f"{name}#{pass_no}"
                t0 = time.perf_counter()
                try:
                    if traced:
                        self._traced_op(tracer, q[name], op)
                    else:
                        _noop(q[name](spark, sf))
                except Exception as e:  # count and go on with the next op
                    res.failed += 1
                    res.failures.append(f"{op}: {type(e).__name__}: {e}"[:300])
                ops.append(time.perf_counter() - t0)
                if not traced:
                    res.op_names.append(name)
            walls.append(time.perf_counter() - t_pass)
        res.failed += len(bad)
        res.attempted += len(self.queries)
        return res

    def _traced_op(self, tracer, query, op: str) -> None:
        spark, sf = self.ctx.spark, self.ctx.sf_dir
        tracer.enabled = True
        tracer.begin_op(op)
        try:
            with tracer.span("op"):
                tracer.group(op + "/construct")
                with tracer.span("queries.construct"):
                    df = query(spark, sf)
                tracer.group(op)
                with tracer.span("exec.plan"):
                    df._jdf.queryExecution().executedPlan()
                _noop(df)
        finally:
            tracer.end_op()
            tracer.enabled = False


# ------------------------------------------------------------------- ECS
@dataclass
class Position(Component):
    x: float
    y: float


@dataclass
class Velocity(Component):
    vx: float
    vy: float


@dataclass
class Health(Component):
    hp: float
    decay: float


@processor(Position, Velocity, priority=1)
class Movement(Processor):
    def process(self, df, dt):
        return df.withColumns({
            "position__x": F.col("position__x") + F.col("velocity__vx") * dt,
            "position__y": F.col("position__y") + F.col("velocity__vy") * dt,
        })


@processor(Health, priority=2)
class Decay(Processor):
    """Chained after Movement: on the {Position, Velocity, Health}
    archetype it reads Movement's in-flight frame of the same step."""

    def process(self, df, dt):
        return df.withColumn("health__hp", F.col("health__hp") - F.col("health__decay") * dt)


def _population(rng, n: int, health: bool) -> dict:
    cols = {
        "position__x": rng.uniform(-100, 100, n),
        "position__y": rng.uniform(-100, 100, n),
        "velocity__vx": rng.uniform(-1, 1, n),
        "velocity__vy": rng.uniform(-1, 1, n),
    }
    if health:
        cols["health__hp"] = rng.uniform(50, 100, n)
        cols["health__decay"] = rng.uniform(0, 1, n)
    return cols


def _write_parquet(path: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), path)


def parquet_files(path: str) -> list[str]:
    return glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)


def check_kinematics(world, step: int, live: int) -> list[str]:
    """Compare every live entity with the closed form: position moved by
    velocity * dt and health lost decay * dt once per step since its
    spawn row. Also checks that exactly `live` entities are alive."""
    bad = []
    n_live = 0
    latest_all = world.latest(Position)
    for h, hist in world.get_history(Position).items():
        latest = latest_all[h]
        fields = [c for c in hist.columns if "__" in c]
        spawn = (
            hist.groupBy("entity_id")
            .agg(F.min_by(F.struct("step", *fields), "step").alias("s"))
            .select("entity_id", F.col("s.step").alias("s0"),
                    *[F.col("s." + c).alias("i_" + c) for c in fields])
        )
        k = F.lit(step) - F.col("s0")
        errs = [
            F.abs(F.col(f"position__{a}") - (F.col(f"i_position__{a}") + k * F.col(f"i_velocity__v{a}") * DT))
            for a in "xy"
        ]
        if "health__hp" in fields:
            errs.append(F.abs(
                F.col("health__hp") - (F.col("i_health__hp") - k * F.col("i_health__decay") * DT)
            ))
        row = (
            latest.join(spawn, "entity_id", "left")
            .agg(F.count(F.lit(1)).alias("n"), F.count("s0").alias("matched"),
                 F.max(F.greatest(*errs)).alias("err"))
            .first()
        )
        n_live += row["n"]
        if row["matched"] != row["n"]:
            bad.append(f"{h}: {row['n'] - row['matched']} live entities without a spawn row")
        if row["err"] is not None and row["err"] > 1e-6:
            bad.append(f"{h}: state off the closed form by {row['err']:.3g}")
    if n_live != live:
        bad.append(f"{n_live} live entities, expected spawned - despawned = {live}")
    return bad


class Ecs:
    """The ECS step loop driven by a stream, over a bulk-spawned world.

    Two archetypes, {Position, Velocity} and {Position, Velocity,
    Health}, are spawned from seeded parquet with `spawn_from_df`. Then a
    closed loop reads seeded 500-row parquet files, one per micro-batch
    (`maxFilesPerTrigger=1`); each micro-batch spawns its rows with
    `spawn_many` (half into each archetype), every CHURN_EVERY-th one
    from batch 0 on first despawns 2 * CHURN seeded live entities, and
    then the world takes one step through two chained processors. The
    first WARMUP_BATCHES micro-batches are untimed. An op is one timed
    micro-batch, that is one simulation step.
    """

    name = "ecs"

    def __init__(self, ctx):
        self.ctx = ctx
        self.base = ctx.run_dir("ecs")
        self.src = os.path.join(self.base, "stream")
        os.makedirs(self.src)
        self.rng = np.random.default_rng(ctx.seed)
        # all inputs are generated and written before any timing
        self.inputs = {
            False: os.path.join(self.base, "pv.parquet"),
            True: os.path.join(self.base, "pvh.parquet"),
        }
        for health, path in self.inputs.items():
            _write_parquet(path, _population(self.rng, ENTITIES_PER_ARCHETYPE, health))
        # the warm-up batches are untimed; a traced run traces every
        # other one of the rest
        self.batches = WARMUP_BATCHES + work_units(self.name, ctx.seconds)
        t_base = 1_700_000_000
        for i in range(self.batches):
            path = os.path.join(self.src, f"b{i:04d}.parquet")
            cols = _population(self.rng, STREAM_FILE_ROWS, True)
            _write_parquet(path, {k.split("__")[1]: v for k, v in cols.items()})
            os.utime(path, (t_base + 10 * i, t_base + 10 * i))
        self.n_setup = 0

    def setup(self) -> None:
        self.n_setup += 1
        self.world = make_world(
            self.ctx.spark, os.path.join(self.base, f"wh{self.n_setup}"),
            simulation="bench", run=f"seed{self.ctx.seed}",
        )
        self.world.add_processor(Movement())
        self.world.add_processor(Decay())
        self.stream = (
            self.ctx.spark.readStream
            .schema("x double, y double, vx double, vy double, hp double, decay double")
            .option("maxFilesPerTrigger", 1)
            .parquet(self.src)
        )

    def run(self, tracer=None) -> Result:
        spark, world = self.ctx.spark, self.world
        t0 = time.perf_counter()
        lo_a, hi_a = world.spawn_from_df([Position, Velocity], spark.read.parquet(self.inputs[False]))
        lo_b, hi_b = world.spawn_from_df([Position, Velocity, Health], spark.read.parquet(self.inputs[True]))
        spawn_s = time.perf_counter() - t0
        # despawns sample the bulk-spawned entities still alive
        bulk = set(range(lo_a, hi_a + 1)) | set(range(lo_b, hi_b + 1))
        spawned = len(bulk)
        despawn_s: list[float] = []  # of the timed batches
        seen = {"n": 0, "rows": 0, "gone": 0}
        live_at: dict[str, int] = {}  # traced op -> live entities in its step

        def traced(n: int) -> bool:
            return tracer is not None and n >= WARMUP_BATCHES and n % 2 == 0

        def to_entities(batch_df):
            """The closed-loop client: churn, then this batch's spawns.
            Runs on the stream's callback thread, before spawn_many."""
            n = seen["n"]
            seen["n"] += 1
            if tracer is not None:
                tracer.end_op()
                tracer.enabled = traced(n)
                if tracer.enabled:
                    tracer.begin_op(f"batch#{n}")
            # batch 0 churns too, so the timed churn batches find the
            # despawn path warm
            if n % CHURN_EVERY == 0:
                gone = sorted(int(i) for i in self.rng.choice(sorted(bulk), 2 * CHURN, replace=False))
                t = time.perf_counter()
                world.despawn_many(gone)
                if n >= WARMUP_BATCHES:
                    despawn_s.append(time.perf_counter() - t)
                bulk.difference_update(gone)
                seen["gone"] += len(gone)
            ents = []
            for i, (x, y, vx, vy, hp, decay) in enumerate(sorted(tuple(r) for r in batch_df.collect())):
                e = [Position(x, y), Velocity(vx, vy)]
                if i % 2:
                    e.append(Health(hp, decay))
                ents.append(e)
            seen["rows"] += len(ents)
            if tracer is not None and tracer.enabled:
                live_at[tracer.op] = spawned + seen["rows"] - seen["gone"]
            return ents

        res = Result(wall_s=[], op_s=[])
        q = run_stream_steps(
            self.stream, world, to_entities, dt=DT,
            checkpoint_dir=os.path.join(self.base, f"ckpt{self.n_setup}"),
        )
        finished = q.awaitTermination(150)
        if tracer is not None:
            tracer.end_op()
            tracer.enabled = False
        if not finished:
            q.stop()
            res.failures.append("stream did not finish within 150 s")
        if q.exception() is not None:
            res.failures.append(f"stream failed: {q.exception()}"[:300])
        progress = [p for p in q.recentProgress if p.get("numInputRows", 0) > 0]
        # the warm-up batches are untimed; batch 0, the query's cold
        # start, is reported apart
        plain: dict[bool, list[float]] = {False: [], True: []}  # by traced
        for p in progress[WARMUP_BATCHES:]:
            lat = p["durationMs"]["triggerExecution"] / 1000.0
            (res.traced_op_s if traced(p["batchId"]) else res.op_s).append(lat)
            if p["batchId"] % CHURN_EVERY:
                plain[traced(p["batchId"])].append(lat)
        # the closed loop runs batches back to back: the timed region is
        # the sum of their latencies
        res.wall_s.append(sum(res.op_s))

        t0 = time.perf_counter()
        for df in world.get_history(Position).values():
            _noop(df)
        history_s = time.perf_counter() - t0
        files = parquet_files(world.store.warehouse)
        nbytes = sum(os.path.getsize(f) for f in files)
        versions = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
        checks = res.failures
        if world.current_step != self.batches:
            checks.append(f"{world.current_step} steps for {self.batches} micro-batches")
        live = spawned + seen["rows"] - seen["gone"]
        checks += check_kinematics(world, world.current_step, live)
        res.attempted = self.batches + 1  # the micro-batches and the final-state check
        res.failed = min(res.attempted, self.batches - len(progress) + len(checks))
        dur = [p["durationMs"] for p in progress[WARMUP_BATCHES:]]
        res.extra = {
            "spawn_s": spawn_s,
            "history_scan_s": history_s,
            "store_bytes_per_row": nbytes / max(versions, 1),
            "files_per_table": len(files) / max(len(world.store.table_names()), 1),
            "despawn_s": _mean(despawn_s),
            "step_slope_s": _slope(res.op_s),
            "live_rows": live,
            "live_at": live_at,
            "first_batch_s": progress[0]["durationMs"]["triggerExecution"] / 1000.0 if progress else 0.0,
            "add_batch_s": _mean([d.get("addBatch", 0) / 1000.0 for d in dur]),
            "wal_commit_s": _mean([(d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1000.0 for d in dur]),
            "latest_offset_s": _mean([d.get("latestOffset", 0) / 1000.0 for d in dur]),
            "query_planning_s": _mean([d.get("queryPlanning", 0) / 1000.0 for d in dur]),
            "overhead_s": _mean([(d["triggerExecution"] - d.get("addBatch", 0)) / 1000.0 for d in dur]),
            # the churn batches cannot split evenly between traced and
            # untraced, so the tracing overhead compares the others
            "trace_overhead_ratio": _mean(plain[True]) / _mean(plain[False]) if plain[True] else 0.0,
        }
        return res


def _mean(xs) -> float:
    return float(np.mean(xs)) if len(xs) else 0.0


def _slope(ys) -> float:
    """Least-squares growth of op time per op over the run."""
    if len(ys) < 2:
        return 0.0
    return float(np.polyfit(np.arange(len(ys)), ys, 1)[0])
