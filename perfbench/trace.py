"""Tracing for the benchmark's traced run, measured from outside the package.

Nothing in `archetype_spark` is edited. The tracer

- counts py4j commands by wrapping the gateway client's `send_command`;
- records a span around each layer entry point it wraps (lake readers,
  ANN index maintenance, lake fixture writers, the ECS system and
  updater, spawn/despawn); nested calls into the same layer count once,
  at the outermost call;
- tags every op with a Spark job group and, after the timed region,
  reads job, stage and SQL metrics from Spark's own status stores.

Spans and counters stay in memory; `harvest` and `layer_totals` turn
them into totals.
"""

from __future__ import annotations

import functools
import re
import sys
import threading
import time
from collections import defaultdict

from py4j.protocol import Py4JJavaError

#: Layer entry points wrapped in traced runs: (module, attribute, layer).
#: Every module of the package that bound the same function object by
#: name is patched too, so `from m import f` call sites are covered.
ENTRY_POINTS = [
    ("archetype_spark.sources.delta", "read_delta", "sources"),
    ("archetype_spark.sources.delta", "read_delta_changes", "sources"),
    ("archetype_spark.sources.delta", "read_delta_cdf", "sources"),
    ("archetype_spark.sources.iceberg", "read_iceberg", "sources"),
    ("archetype_spark.sources.iceberg", "read_iceberg_changes", "sources"),
    ("archetype_spark.sources.hudi", "read_hudi", "sources"),
    ("archetype_spark.sources.hudi", "read_hudi_changes", "sources"),
    ("archetype_spark.operators.ann_index", "ensure_ivf", "index"),
    ("archetype_spark.operators.ann_index", "ensure_lsh", "index"),
    ("archetype_spark.operators.ann_index", "ensure_minhash", "index"),
    ("archetype_spark.operators.ann_index", "ensure_simhash", "index"),
    ("archetype_spark.operators.ann_index", "ensure_pq", "index"),
    ("archetype_spark.operators.ann_index", "ensure_ivf_pq", "index"),
    ("archetype_spark.operators.bpe", "ensure_bpe", "index"),
]

#: The lake fixture writers, wrapped as layer `fixture`: every
#: `_ensure_*` helper of this module whose name names a lake format.
FIXTURE_MODULE = "archetype_spark.queries.northstar"
_FIXTURE_RE = re.compile(r"_ensure_\w*(delta|iceberg|hudi|lake)")

#: Methods wrapped on their class: (module, class, method, span name).
#: `SimpleSystem.execute` is wrapped apart, by `_wrap_execute`.
METHODS = [
    ("archetype_spark.ecs.updater", "UpdateManager", "__call__", "ecs.commit"),
    ("archetype_spark.ecs.world", "World", "spawn_many", "ecs.spawn_many"),
    ("archetype_spark.ecs.world", "World", "despawn_many", "ecs.despawn"),
]

_PY_METRIC = "data sent to Python workers"
_FILES_METRIC = "number of files read"
_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def parse_metric(text: str) -> float:
    """Value of a Spark SQL metric as rendered by the status store: a
    plain number, a size such as `3.2 KiB`, or a `total (min, med, max)`
    header followed by those figures, of which the total is taken."""
    lines = text.strip().splitlines()
    if lines and lines[0].startswith("total") and len(lines) > 1:
        lines = lines[1:]
    m = re.match(r"\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([KMGT]?i?B)?", lines[0] if lines else "")
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "B", 1)


def _seq(jseq) -> list:
    return [jseq.apply(i) for i in range(jseq.length())]


def _scala_map(jmap) -> dict:
    out = {}
    it = jmap.iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2()
    return out


class Tracer:
    """Spans and counters for one traced region of one run."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.enabled = False
        self.py4j_calls = 0
        # (name, op, start, end, py4j calls inside)
        self.spans: list[tuple[str, str | None, float, float, int]] = []
        self.ops: dict[str, tuple[float, float]] = {}  # op -> epoch window
        self.op: str | None = None
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []
        self.groups: dict[str, str] = {}  # job group -> op

    # ------------------------------------------------------------ wrapping
    def install(self) -> None:
        client = self.sc._gateway._gateway_client
        send = client.send_command

        def counted(*args, **kwargs):
            self.py4j_calls += 1
            return send(*args, **kwargs)

        self._patch(client, "send_command", counted)
        for mod_name, attr, layer in ENTRY_POINTS:
            self._patch_function(mod_name, attr, layer)
        fixtures = __import__(FIXTURE_MODULE, fromlist=["_"])
        for attr in sorted(vars(fixtures)):
            if _FIXTURE_RE.match(attr):
                self._patch_function(FIXTURE_MODULE, attr, "fixture")
        for mod_name, cls_name, meth, span in METHODS:
            cls = getattr(__import__(mod_name, fromlist=[cls_name]), cls_name)
            self._patch(cls, meth, self._wrap(getattr(cls, meth), span))
        self._wrap_execute()

    def _patch_function(self, mod_name: str, attr: str, layer: str) -> None:
        mod = sys.modules.get(mod_name) or __import__(mod_name, fromlist=[attr])
        orig = getattr(mod, attr)
        wrapped = self._wrap(orig, layer)
        for other in list(sys.modules.values()):
            name = getattr(other, "__name__", "") or ""
            if name.startswith("archetype_spark") and getattr(other, attr, None) is orig:
                self._patch(other, attr, wrapped)

    def _wrap_execute(self) -> None:
        """Span `ecs.execute` around `SimpleSystem.execute`; then, apart
        from it, build the physical plan of every updated frame once
        more, timed as `exec.plan`."""
        from archetype_spark.ecs.system import SimpleSystem

        execute = SimpleSystem.execute
        tracer = self

        @functools.wraps(execute)
        def planned(system, *args, **kwargs):
            with tracer.span("ecs.execute"):
                frames = execute(system, *args, **kwargs)
            if tracer.enabled:
                with tracer.span("exec.plan"):
                    for df in frames.values():
                        df._jdf.queryExecution().executedPlan()
            return frames

        self._patch(SimpleSystem, "execute", planned)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            if orig is None:
                delattr(owner, attr)
            else:
                setattr(owner, attr, orig)
        self._patches.clear()

    def _patch(self, owner, attr, value) -> None:
        # None marks an attribute the owner only inherited or got from
        # its class: uninstall deletes the override instead
        self._patches.append((owner, attr, vars(owner).get(attr)))
        setattr(owner, attr, value)

    def _wrap(self, fn, layer: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(layer):
                return fn(*args, **kwargs)

        return wrapper

    # --------------------------------------------------------------- spans
    def span(self, name: str):
        return _Span(self, name)

    def begin_op(self, op: str) -> None:
        """Start op `op`: spans recorded until `end_op` belong to it, and
        Spark jobs from this thread go to job group `op`."""
        self.op = op
        self.ops[op] = (time.time(), float("inf"))
        self.group(op)

    def group(self, name: str) -> None:
        """Send this thread's next Spark jobs to job group `name`, a
        part of the current op (construction vs execution, say)."""
        self.groups[name] = self.op
        self.sc.setJobGroup(name, name)

    def end_op(self) -> None:
        if self.op is not None:
            self.ops[self.op] = (self.ops[self.op][0], time.time())
        self.op = None

    # ------------------------------------------------------------- harvest
    def harvest(self) -> tuple[dict, dict]:
        """Job, stage and SQL metrics of every traced op, summed per op
        and per job group, read from the status stores after the timed
        region ended."""
        jsc = self.sc._jsc.sc()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        per_group: dict[str, dict] = {}
        job_stages: dict[int, list] = {}
        stage_run: dict[int, float] = {}
        for grp in self.groups:
            agg = per_group[grp] = defaultdict(float)
            seen_stages = set()
            jobs = tracker.getJobIdsForGroup(grp)
            agg["jobs"] = len(jobs)
            for jid in jobs:
                try:
                    jd = store.job(jid)
                except Py4JJavaError:  # evicted from the store: count the job only
                    continue
                sids = [int(s) for s in _seq(jd.stageIds())]
                job_stages[jid] = sids
                for sid in sids:
                    if sid in seen_stages:
                        continue
                    seen_stages.add(sid)
                    try:
                        sd = store.lastStageAttempt(sid)
                    except Py4JJavaError:  # skipped stage: never attempted
                        continue
                    if sd.numTasks() == 0 or str(sd.status()) == "SKIPPED":
                        continue
                    agg["stages"] += 1
                    agg["tasks"] += sd.numCompleteTasks()
                    agg["failed_tasks"] += sd.numFailedTasks()
                    run_s = sd.executorRunTime() / 1000.0
                    stage_run[sid] = run_s
                    agg["executor_run_s"] += run_s
                    agg["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                    agg["gc_s"] += sd.jvmGcTime() / 1000.0
                    agg["input_bytes"] += sd.inputBytes()
                    agg["input_records"] += sd.inputRecords()
                    agg["output_bytes"] += sd.outputBytes()
                    agg["shuffle_read_bytes"] += sd.shuffleReadBytes()
                    agg["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                    agg["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        per_op: dict[str, dict] = {op: defaultdict(float) for op in self.ops}
        for grp, agg in per_group.items():
            for k, v in agg.items():
                per_op[self.groups[grp]][k] += v
        self._harvest_sql(per_op, job_stages, stage_run)
        return per_op, per_group

    def _harvest_sql(self, per_op, job_stages, stage_run) -> None:
        """Python-worker bytes, Python stage run time and files read, from
        the SQL status store; executions go to the op whose wall-clock
        window holds their submission time."""
        sql = self.spark._jsparkSession.sharedState().statusStore()
        windows = sorted((s, e, op) for op, (s, e) in self.ops.items())
        for ex in _seq(sql.executionsList()):
            t = ex.submissionTime() / 1000.0
            op = next((o for s, e, o in windows if s <= t <= e), None)
            if op is None:
                continue
            names = {m.accumulatorId(): m.name() for m in _seq(ex.metrics())}
            if not any(n in (_PY_METRIC, _FILES_METRIC) for n in names.values()):
                continue
            values = _scala_map(sql.executionMetrics(ex.executionId()))
            py_bytes = files = 0.0
            for acc, name in names.items():
                if name == _PY_METRIC and acc in values:
                    py_bytes += parse_metric(values[acc])
                elif name == _FILES_METRIC and acc in values:
                    files += parse_metric(values[acc])
            agg = per_op[op]
            agg["files_read"] += files
            if py_bytes:
                agg["python_bytes_sent"] += py_bytes
                for jid in _scala_map(ex.jobs()):
                    for sid in job_stages.get(int(jid), []):
                        agg["python_stage_run_s"] += stage_run.get(sid, 0.0)

    def layer_totals(self, ops=None) -> dict[str, tuple[float, int, int]]:
        """(seconds, calls, py4j commands) per span name, over `ops`."""
        out: dict[str, list] = defaultdict(lambda: [0.0, 0, 0])
        for name, op, s, e, calls in self.spans:
            if ops is None or op in ops:
                t = out[name]
                t[0] += e - s
                t[1] += 1
                t[2] += calls
        return {k: tuple(v) for k, v in out.items()}


class _Span:
    __slots__ = ("tracer", "name", "t0", "calls0", "outer")

    def __init__(self, tracer: Tracer, name: str):
        self.tracer = tracer
        self.name = name

    def __enter__(self):
        local = self.tracer._local
        stack = getattr(local, "stack", None)
        if stack is None:
            stack = local.stack = []
        self.outer = self.tracer.enabled and self.name not in stack
        stack.append(self.name)
        self.calls0 = self.tracer.py4j_calls
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        t1 = time.perf_counter()
        self.tracer._local.stack.pop()
        if self.outer:
            self.tracer.spans.append(
                (self.name, self.tracer.op, self.t0, t1, self.tracer.py4j_calls - self.calls0)
            )
        return False
