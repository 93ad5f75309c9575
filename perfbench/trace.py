"""The traced pass: per-layer time from wrapped public functions, and
per-request job, stage, SQL-operator and planning numbers from Spark's
own status store (read with ``spark.ui.enabled`` left off).

Nothing here edits the program: ``Tracer.install`` swaps each layer
module's public functions for timing wrappers in the loaded module
namespaces and ``uninstall`` puts the originals back.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import statistics
import sys
import time
from collections import defaultdict

from py4j.protocol import Py4JJavaError

#: operator modules whose public functions run in the client process.
#: ``codecs`` is left out: the registry imports its functions only inside
#: pandas-UDF bodies, so they run in the Python workers, where no wrapper
#: in the client sees them; their time is part of ``python.stage_run_s``.
OPERATOR_MODULES = (
    "availability", "dedup", "evaluation", "event_tree", "gaps",
    "geo_search", "graph", "joins", "multimodal", "sessions", "similarity",
    "sketches", "stations", "surgery", "text", "validate", "waveforms",
)

#: names and units of the per-layer metrics a traced run prints, in the
#: order ``BENCHMARK.json`` lists them (the end-to-end list is
#: ``run.END_TO_END``)
PER_LAYER = (
    ("session.start_s", "s"),
    ("cache.fill_s", "s"),
    ("cache.storage_mb", "MB"),
    ("cache.live_rdds", "count"),
    ("registry.build_s", "s"),
    ("registry.build_p50_s", "s"),
    *(
        pair
        for m in OPERATOR_MODULES
        for pair in (
            (f"operators.{m}.build_s", "s"), (f"operators.{m}.calls", "count"),
        )
    ),
    ("plans.build_s", "s"),
    ("functions.build_s", "s"),
    ("structures.build_s", "s"),
    ("catalyst.analysis_s", "s"),
    ("catalyst.optimization_s", "s"),
    ("catalyst.planning_s", "s"),
    ("scheduler.jobs", "count"),
    ("scheduler.stages", "count"),
    ("scheduler.tasks", "count"),
    ("scheduler.idle_s", "s"),
    ("executor.run_s", "s"),
    ("executor.cpu_s", "s"),
    ("executor.gc_s", "s"),
    ("shuffle.read_mb", "MB"),
    ("shuffle.write_mb", "MB"),
    ("shuffle.spill_mb", "MB"),
    ("python.rows", "count"),
    ("python.sent_mb", "MB"),
    ("python.returned_mb", "MB"),
    ("python.stage_run_s", "s"),
    ("bank.read_build_s", "s"),
    ("bank.put_s", "s"),
    ("bank.rows_written_per_row_upserted", "ratio"),
    ("bank.disk_mb", "MB"),
    ("index_cache.hit_ratio", "ratio"),
    ("index_cache.invalidations", "count"),
    ("index_cache.evictions", "count"),
    ("read_p90_s", "s"),
    ("write_p50_s", "s"),
    ("peak_rss_mb", "MB"),
    ("trace.overhead_frac", "ratio"),
)

#: layer name -> modules whose public functions (and public methods of
#: the classes they define) are timed
LAYER_MODULES = {
    **{f"operators.{m}": [f"obsplus_spark.operators.{m}"] for m in OPERATOR_MODULES},
    "plans": ["obsplus_spark.plans.layout", "obsplus_spark.plans.predicates"],
    "functions": [
        "obsplus_spark.functions.geo", "obsplus_spark.functions.strings",
        "obsplus_spark.functions.timeutils",
    ],
    "structures": [
        "obsplus_spark.structures.fetcher", "obsplus_spark.structures.datasets",
    ],
    "cache": ["obsplus_spark.cache"],
    "sources.bank": ["obsplus_spark.sources.bank"],
    "sources.index_cache": ["obsplus_spark.sources.index_cache"],
}

#: SQL plan nodes that run Python workers (Arrow / pandas UDF exec nodes)
_PY_NODE_MARKERS = ("Python", "Pandas", "InArrow")

_MB = 1024.0 * 1024.0


class _Timer:
    """Self and inclusive time per layer, with a call stack so a wrapped
    function that calls another wrapped function is charged only for its
    own part."""

    def __init__(self):
        self.self_s: dict[str, float] = defaultdict(float)
        self.incl_s: dict[str, float] = defaultdict(float)
        self.calls: dict[str, int] = defaultdict(int)
        self._stack: list[float] = []

    def wrap(self, layer: str, key: str, fn):
        timer = self

        @functools.wraps(fn)
        def timed(*args, **kwargs):
            timer._stack.append(0.0)
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                elapsed = time.perf_counter() - t0
                child = timer._stack.pop()
                timer.self_s[layer] += elapsed - child
                timer.calls[layer] += 1
                timer.incl_s[key] += elapsed
                if timer._stack:
                    timer._stack[-1] += elapsed

        return timed


class _CacheStats:
    """Hit / invalidation / eviction counts of ``IndexCache.get``."""

    def __init__(self):
        self.reads = self.hits = self.invalidations = self.evictions = 0

    def wrap(self, get):
        stats = self

        @functools.wraps(get)
        def counted(cache, t1, t2, kwargs_key, generation, build, trim):
            built = []

            def counting_build(a, b):
                built.append(1)
                return build(a, b)

            live = [e for e in cache.entries if e.generation == generation]
            stats.invalidations += len(cache.entries) - len(live)
            out = get(cache, t1, t2, kwargs_key, generation, counting_build, trim)
            stats.reads += 1
            if built:
                stats.evictions += max(0, len(live) + 1 - cache.cache_size)
            else:
                stats.hits += 1
            return out

        return counted


class _PhaseListener:
    """py4j ``QueryExecutionListener``: the planning-tracker phases of
    every query that runs (analysis, optimization, planning)."""

    def __init__(self):
        self.phases: dict[str, float] = defaultdict(float)

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java API)
        it = qe.tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            self.phases[kv._1()] += kv._2().durationMs() / 1000.0

    def onFailure(self, func_name, qe, exc):  # noqa: N802 (Java API)
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def _parse_metric(value: str) -> float:
    """A formatted SQL metric value ("1,234", "12.5 MiB", "483 ms",
    or the multi-task "total (min, med, max ...)\\n<total> (...)")
    as a plain number: rows, bytes or seconds."""
    if "\n" in value:
        value = value.split("\n", 1)[1]
    value = value.split(" (", 1)[0].strip().replace(",", "")
    num, _, unit = value.partition(" ")
    scale = {
        "": 1.0, "B": 1.0, "KiB": 1024.0, "MiB": _MB, "GiB": _MB * 1024.0,
        "TiB": _MB * _MB, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    }.get(unit, 1.0)
    try:
        return float(num) * scale
    except ValueError:
        return 0.0


class Tracer:
    """Install wrappers and a planning listener, tag every request's jobs
    with a job group, and read the status store after each request."""

    def __init__(self, spark):
        self.spark = spark
        self.timer = _Timer()
        self.cache_stats = _CacheStats()
        self.listener = _PhaseListener()
        self.requests: list[dict] = []
        self._undo: list[tuple] = []
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()

    # -- wrappers -----------------------------------------------------------
    def _replace_everywhere(self, original, wrapper) -> None:
        for mod in list(sys.modules.values()):
            name = getattr(mod, "__name__", "") or ""
            if not (name.startswith("obsplus_spark") or name == "__spark_entry__"):
                continue
            for attr, val in list(vars(mod).items()):
                if val is original:
                    setattr(mod, attr, wrapper)
                    self._undo.append((mod, attr, original))

    def install(self) -> "Tracer":
        from pyspark.java_gateway import ensure_callback_server_started

        for layer, modnames in LAYER_MODULES.items():
            for modname in modnames:
                mod = importlib.import_module(modname)
                for name, obj in list(vars(mod).items()):
                    if name.startswith("_"):
                        continue
                    if inspect.isfunction(obj) and obj.__module__ == modname:
                        self._replace_everywhere(
                            obj, self.timer.wrap(layer, f"{modname}.{name}", obj)
                        )
                    elif inspect.isclass(obj) and obj.__module__ == modname:
                        self._wrap_class(layer, modname, obj)
        from obsplus_spark.sources.index_cache import IndexCache

        get = IndexCache.get
        IndexCache.get = self.cache_stats.wrap(get)
        self._undo.append((IndexCache, "get", get))

        ensure_callback_server_started(self._sc._gateway)
        self.spark._jsparkSession.listenerManager().register(self.listener)
        return self

    def _wrap_class(self, layer: str, modname: str, cls) -> None:
        for name, fn in list(vars(cls).items()):
            if name.startswith("_") or not inspect.isfunction(fn):
                continue
            setattr(
                cls, name,
                self.timer.wrap(layer, f"{modname}.{cls.__name__}.{name}", fn),
            )
            self._undo.append((cls, name, fn))

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._undo):
            setattr(owner, attr, original)
        self._undo.clear()
        self.spark._jsparkSession.listenerManager().unregister(self.listener)

    # -- per-request status-store reads --------------------------------------
    def begin(self, index: int, label: str) -> None:
        self._sc.setJobGroup(f"perfbench-{index}", label)
        self._phase_mark = dict(self.listener.phases)
        self._exec_mark = self._sql_store().executionsCount()
        newest = self._jsc.statusStore().jobsList(None).iterator()
        self._job_mark = newest.next().jobId() if newest.hasNext() else -1

    def end(self, index: int, label: str, wall_s: float, t_start: float,
            build_s: float) -> dict:
        """Drain the listener bus, then record request ``index``'s jobs,
        stages and SQL-operator metrics."""
        self._jsc.listenerBus().waitUntilEmpty()
        group = f"perfbench-{index}"
        app = self._jsc.statusStore()
        jobs = []
        it = app.jobsList(None).iterator()  # newest job first
        while it.hasNext():
            j = it.next()
            if j.jobId() <= self._job_mark:
                break
            if j.jobGroup().isDefined() and j.jobGroup().get() == group:
                jobs.append(j)
        stages = []
        for j in jobs:
            for sid in _seq(j.stageIds()):
                try:
                    stages.append(app.lastStageAttempt(sid))
                except Py4JJavaError:
                    pass  # skipped stage: never submitted, nothing to read
        ran = [s for s in stages if s.numCompleteTasks() > 0]
        intervals = []
        for s in ran:
            sub, done = s.submissionTime(), s.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime() / 1000.0,
                                  done.get().getTime() / 1000.0))
        busy = _union_length(intervals)
        py = self._python_nodes(jobs, ran)
        rec = {
            "index": index,
            "request": label,
            "wall_s": wall_s,
            "build_s": build_s,
            "start_epoch_s": t_start,
            "jobs": len(jobs),
            "stages": len(ran),
            "tasks": sum(s.numCompleteTasks() for s in ran),
            "stage_busy_s": busy,
            "stage_span": [min((a for a, _ in intervals), default=None),
                           max((b for _, b in intervals), default=None)],
            "idle_s": max(0.0, wall_s - build_s - busy),
            "executor_run_s": sum(s.executorRunTime() for s in ran) / 1000.0,
            "executor_cpu_s": sum(s.executorCpuTime() for s in ran) / 1e9,
            "executor_gc_s": sum(s.jvmGcTime() for s in ran) / 1000.0,
            "shuffle_read_mb": sum(s.shuffleReadBytes() for s in ran) / _MB,
            "shuffle_write_mb": sum(s.shuffleWriteBytes() for s in ran) / _MB,
            "shuffle_spill_mb": sum(s.diskBytesSpilled() for s in ran) / _MB,
            "output_records": sum(s.outputRecords() for s in ran),
            "phases_s": {
                k: v - self._phase_mark.get(k, 0.0)
                for k, v in self.listener.phases.items()
            },
            **py,
        }
        self.requests.append(rec)
        self._sc.setJobGroup("", "")
        return rec

    def _sql_store(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    def _python_nodes(self, jobs: list, ran: list) -> dict:
        """Rows and bytes through Python-worker plan nodes, and the run
        time of the stages of the SQL executions that hold one."""
        sql = self._sql_store()
        job_ids = {j.jobId() for j in jobs}
        rows = sent = returned = 0.0
        py_jobs: set = set()
        # executions are listed in id order: only those since begin()
        for e in _seq(sql.executionsList(self._exec_mark, 1 << 30)):
            ejobs = set(_seq(e.jobs().keys().toSeq()))
            if not ejobs & job_ids:
                continue
            values = sql.executionMetrics(e.executionId())
            has_py = False
            nodes = sql.planGraph(e.executionId()).allNodes()
            for node in _seq(nodes):
                if not any(m in node.name() for m in _PY_NODE_MARKERS):
                    continue
                has_py = True
                for m in _seq(node.metrics()):
                    v = values.get(m.accumulatorId())
                    if not v.isDefined():
                        continue
                    name = m.name()
                    if name == "number of output rows":
                        rows += _parse_metric(v.get())
                    elif name == "data sent to Python workers":
                        sent += _parse_metric(v.get())
                    elif name == "data returned from Python workers":
                        returned += _parse_metric(v.get())
            if has_py:
                py_jobs |= ejobs
        py_stage_ids = set()
        for j in jobs:
            if j.jobId() in py_jobs:
                py_stage_ids |= set(_seq(j.stageIds()))
        return {
            "python_rows": rows,
            "python_sent_mb": sent / _MB,
            "python_returned_mb": returned / _MB,
            "python_stage_run_s": sum(
                s.executorRunTime() for s in ran if s.stageId() in py_stage_ids
            ) / 1000.0,
        }

    # -- summary -------------------------------------------------------------
    def storage(self) -> dict:
        infos = _seq(self._jsc.getRDDStorageInfo())
        return {
            "cache.storage_mb": sum(i.memSize() + i.diskSize() for i in infos) / _MB,
            "cache.live_rdds": float(self._sc._jsc.getPersistentRDDs().size()),
        }

    def layer_metrics(self, passes: int) -> dict:
        """Per-pass sums of every per-layer number the traced pass read."""
        t, r = self.timer, self.requests
        per = 1.0 / max(1, passes)

        def total(key: str) -> float:
            return sum(x[key] for x in r) * per

        out = {}
        for m in OPERATOR_MODULES:
            out[f"operators.{m}.build_s"] = t.self_s.get(f"operators.{m}", 0.0) * per
            out[f"operators.{m}.calls"] = t.calls.get(f"operators.{m}", 0) * per
        for layer in ("plans", "functions", "structures"):
            out[f"{layer}.build_s"] = t.self_s.get(layer, 0.0) * per
        phases = defaultdict(float)
        for x in r:
            for k, v in x["phases_s"].items():
                phases[k] += v
        for k in ("analysis", "optimization", "planning"):
            out[f"catalyst.{k}_s"] = phases.get(k, 0.0) * per
        out.update({
            "scheduler.jobs": total("jobs"),
            "scheduler.stages": total("stages"),
            "scheduler.tasks": total("tasks"),
            "scheduler.idle_s": total("idle_s"),
            "executor.run_s": total("executor_run_s"),
            "executor.cpu_s": total("executor_cpu_s"),
            "executor.gc_s": total("executor_gc_s"),
            "shuffle.read_mb": total("shuffle_read_mb"),
            "shuffle.write_mb": total("shuffle_write_mb"),
            "shuffle.spill_mb": total("shuffle_spill_mb"),
            "python.rows": total("python_rows"),
            "python.sent_mb": total("python_sent_mb"),
            "python.returned_mb": total("python_returned_mb"),
            "python.stage_run_s": total("python_stage_run_s"),
        })
        registry = [x["build_s"] for x in r if not x["request"].startswith("bank.")]
        out["registry.build_s"] = sum(registry) * per
        out["registry.build_p50_s"] = statistics.median(registry) if registry else 0.0
        bank_reads = sum(
            v for k, v in t.incl_s.items()
            if k.endswith(("EventBank.read_index", "WaveBank.read_index"))
        )
        puts = sum(
            v for k, v in t.incl_s.items()
            if k.endswith(("EventBank.put_events", "WaveBank.update_index"))
        )
        out["bank.read_build_s"] = bank_reads * per
        out["bank.put_s"] = puts * per
        cs = self.cache_stats
        out["index_cache.hit_ratio"] = cs.hits / cs.reads if cs.reads else 0.0
        out["index_cache.invalidations"] = cs.invalidations * per
        out["index_cache.evictions"] = cs.evictions * per
        return out


def _seq(obj) -> list:
    """A py4j Scala ``Seq`` / Java array / Java collection as a list."""
    from py4j.java_collections import JavaArray, JavaList, JavaSet

    if obj is None:
        return []
    if isinstance(obj, (list, tuple, JavaArray, JavaList, JavaSet)):
        return list(obj)
    it = obj.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total = 0.0
    end = None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total
