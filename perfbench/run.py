"""Repository benchmark: one closed-loop client against the engine in its
default session (``get_spark()`` defaults, ``SPARK_GRAFT_CPUS`` = usable
cores, no other engine knob set).

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Builds its inputs under ``.perfbench/``,
sets up (session start, the base-table cache fill, the bank load, one
warmup pass that on the registry workload is also the output check), then
times ``ceil(--seconds / 15)`` whole passes over the workload's
fixed multiset of requests, in the order ``--seed`` gives. ``--trace 1``
runs each of those passes untraced and then traced instead, and reports
per-layer metrics instead of end-to-end ones. The last stdout line is the
result JSON; the full run record goes to ``.perfbench/runs/``. See
``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import statistics
import sys
import time
from typing import NoReturn

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: engine env knobs the benchmark must not inherit: it measures defaults
ENGINE_KNOBS = (
    "SPARK_GRAFT_SHUFFLE", "SPARK_GRAFT_CACHE", "SPARK_GRAFT_EDGE_TABLE",
    "SPARK_GRAFT_SF_DIR", "SPARK_DRIVER_MEMORY",
)
#: share of CPU time stolen by the hypervisor above which a run's
#: figures are flagged as taken on a shared host
STEAL_FLAG = 0.02
END_TO_END = (("setup_s", "s"), ("read_p50_s", "s"), ("ops_per_s", "ops/s"))


def _die(msg: str) -> NoReturn:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _prepare_env(work: str) -> None:
    for k in ENGINE_KNOBS:
        os.environ.pop(k, None)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # Python workers import the engine's UDF modules from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # keep Spark's, the JVM's and Python's scratch files inside the checkout
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM, the spark-submit launcher included
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    )


def _quantile(values: list[float], q: float) -> float:
    if len(values) < 2:
        return values[0] if values else 0.0
    return statistics.quantiles(values, n=100, method="inclusive")[int(q * 100) - 1]


class Run:
    """One benchmark process: set-up, the timed passes, the optional
    traced passes, and the result."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 work: str):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.attempted = 0
        self.failed = 0
        #: seconds of the benchmark's own work inside set-up
        self.own_s = 0.0
        self.findings: list[str] = []
        self.layer: dict[str, float] = {}
        #: one entry per request run: pass, label, latency or error
        self.log: list[dict] = []

    # -- set-up ---------------------------------------------------------------
    def setup(self, bench_dir: str) -> None:
        """Everything before the first timed op. ``setup_s`` is its wall
        time less ``self.own_s``, the benchmark's own work in it: the
        DuckDB oracle answers, the row comparisons and the bank's shadow
        model."""
        t_start = time.perf_counter()
        from obsplus_spark import get_spark

        import __spark_entry__ as entry

        from perfbench import workloads as W

        self.entry = entry
        self.bench_dir = bench_dir
        if self.workload != "bank":
            from perfbench.oracle import RegistryOracle

            # before the session starts, so DuckDB and the JVM never
            # share the CPUs
            t0 = time.perf_counter()
            self.oracle = RegistryOracle(
                ROOT, bench_dir, entry.oracle_sql(), list(W.INTERACTIVE),
                os.path.join(self.work, "oracle"),
            )
            self.own_s += time.perf_counter() - t0
        t0 = time.perf_counter()
        self.spark = get_spark()
        self.layer["session.start_s"] = time.perf_counter() - t0

        if self.workload == "bank":
            self._fill(["events"])
            from perfbench.bank import BankWorkload

            self.bank = BankWorkload(
                self.spark, entry, bench_dir, os.path.join(self.work, "bank")
            )
            t0 = time.perf_counter()
            shadow_s = self.bank.load()
            self.own_s += shadow_s
            self.layer["bank.load_s"] = time.perf_counter() - t0 - shadow_s
            # untimed, so the timed passes run warm
            warmup = [(f"bank.{op.kind}.{op.bank}", op) for op in W.bank_warmup()]
            _r, _w, own = self._run(warmup, "warmup")
            self.own_s += own
        else:
            self._check_pass()
        self.setup_s = time.perf_counter() - t_start - self.own_s
        self.layer["setup.own_s"] = self.own_s

    def _fill(self, tables) -> None:
        """Materialize the registry's base-table cache (``_t``) for the
        tables the workload reads."""
        t0 = time.perf_counter()
        for t in tables:
            self.entry._t(self.spark, self.bench_dir, t).count()
        self.layer["cache.fill_s"] = time.perf_counter() - t0

    def _check_pass(self) -> None:
        """The warmup pass of a registry workload, which is also its output
        check: every distinct request once, built, then collected and
        compared with its DuckDB oracle twin. All builds run first, with
        ``_t`` recording the base tables they read, so the cache fill
        sits between the builds and the executes."""
        from perfbench import workloads as W

        self.queries = self.entry.queries()
        read_tables = []
        base_table = self.entry._t

        def recording_t(spark, sf_dir, name):
            if name not in read_tables:
                read_tables.append(name)
            return base_table(spark, sf_dir, name)

        built = {}
        self.entry._t = recording_t
        try:
            for name in W.INTERACTIVE:
                try:
                    built[name] = self.queries[name](self.spark, self.bench_dir)
                except Exception as e:  # reported with the check below
                    built[name] = e
        finally:
            self.entry._t = base_table
        self._fill(read_tables)
        for name in W.INTERACTIVE:
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                if isinstance(built[name], Exception):
                    raise built[name]
                df = built[name]
                rows = df.collect()
                t1 = time.perf_counter()
                err = self.oracle.compare(name, df.columns, [tuple(r) for r in rows])
                self.own_s += time.perf_counter() - t1
            except Exception as e:  # a raising query is a failed check
                err = f"raised {type(e).__name__}: {str(e)[:200]}"
            self.log.append({
                "pass": "check", "request": name,
                "latency_s": time.perf_counter() - t0, "error": err,
            })
            if err:
                self.failed += 1
                self.findings.append(f"oracle mismatch {name}: {err}")

    # -- requests -------------------------------------------------------------
    def _registry_request(self, name: str) -> tuple[float, float]:
        """(latency, build time) of one registry request: a fresh build,
        then its rows collected into the client, as a user's query returns
        them."""
        t0 = time.perf_counter()
        df = self.queries[name](self.spark, self.bench_dir)
        build = time.perf_counter() - t0
        df.collect()
        return time.perf_counter() - t0, build

    def _bank_op(self, op) -> tuple[float, float, float]:
        """(latency, build time, seconds of the benchmark's own work) of
        one bank op."""
        rows, dt, own = self.bank.run(op)
        t0 = time.perf_counter()
        if rows is not None:
            err = self.bank.check(op, rows)
            if err:
                self.failed += 1
                self.findings.append(f"bank {op.kind} {op.bank} {op.args()}: {err}")
        return dt, 0.0, own + time.perf_counter() - t0

    def _ops(self, seed: int, pass_no: int) -> list[tuple[str, object]]:
        """(label, request) pairs of one pass."""
        from perfbench import workloads as W

        if self.workload == "bank":
            return [(f"bank.{op.kind}.{op.bank}", op) for op in W.bank_pass(seed, pass_no)]
        return [(n, n) for n in W.interactive_pass(seed, pass_no)]

    def _run(self, ops, tag, tracer=None) -> tuple[list, list, float]:
        """Run ``ops`` in order; returns read latencies, write latencies and
        the seconds of the benchmark's own work among them (output checks,
        the bank's batches and shadow model, trace reads)."""
        reads, writes, own_s = [], [], 0.0
        for label, op in ops:
            self.attempted += 1
            index = len(self.log)
            entry = {"pass": tag, "request": label}
            self.log.append(entry)
            if tracer is not None:
                tracer.begin(index, label)
            t_epoch = time.time()
            try:
                if self.workload == "bank":
                    dt, build, own = self._bank_op(op)
                    own_s += own
                else:
                    dt, build = self._registry_request(op)
            except Exception as e:
                self.failed += 1
                entry["error"] = f"{type(e).__name__}: {str(e)[:200]}"
                self.findings.append(f"{label} raised {entry['error']}")
                continue
            entry.update(latency_s=dt, build_s=build)
            (writes if label.startswith("bank.upsert") else reads).append(dt)
            if tracer is not None:
                t0 = time.perf_counter()
                tracer.end(index, label, dt, t_epoch, build)
                own_s += time.perf_counter() - t0
        return reads, writes, own_s

    def timed(self) -> None:
        """The timed passes."""
        from perfbench import workloads as W

        reads, writes, own_s = [], [], 0.0
        self.passes = W.passes_for(self.seconds)
        t0 = time.perf_counter()
        for p in range(self.passes):
            r, w, own = self._run(self._ops(self.seed, p), p)
            reads += r
            writes += w
            own_s += own
        self.wall_s = time.perf_counter() - t0 - own_s
        self.reads, self.writes = reads, writes

    def traced(self) -> None:
        """Instead of the timed passes: each pass untraced, traced, and
        untraced again. The overhead compares the traced run with the mean
        of the two untraced runs around it, so the warming of the
        session over a run cancels out; the first untraced runs give
        ``write_p50_s``."""
        from perfbench import workloads as W
        from perfbench.trace import Tracer

        tracer = Tracer(self.spark)
        reference_s = traced_s = 0.0
        self.reads, self.writes = [], []
        self.passes = W.passes_for(self.seconds)

        def untraced(p: int, tag: str) -> float:
            t0 = time.perf_counter()
            r, w, own = self._run(self._ops(self.seed, p), f"{tag}-{p}")
            if tag == "before":
                self.reads += r
                self.writes += w
            return time.perf_counter() - t0 - own

        for p in range(self.passes):
            before = untraced(p, "before")
            tracer.install()
            try:
                t0 = time.perf_counter()
                _r, _w, own = self._run(self._ops(self.seed, p), f"traced-{p}", tracer)
                traced_s += time.perf_counter() - t0 - own
            finally:
                tracer.uninstall()
            reference_s += (before + untraced(p, "after")) / 2.0
        self.layer.update(tracer.layer_metrics(self.passes))
        self.layer.update(tracer.storage())
        self.layer["trace.overhead_frac"] = traced_s / reference_s - 1.0
        self.wall_s = reference_s
        puts = [r for r in tracer.requests if r["request"].startswith("bank.upsert")]
        upserted = len(puts) * W.UPSERT_ROWS
        self.layer["bank.rows_written_per_row_upserted"] = (
            sum(r["output_records"] for r in puts) / upserted if upserted else 0.0
        )
        self.layer["bank.disk_mb"] = _du_mb(os.path.join(self.work, "bank"))
        self.trace_records = tracer.requests

    # -- result ---------------------------------------------------------------
    def end_to_end(self) -> dict[str, float]:
        n_ops = len(self.reads) + len(self.writes)
        return {
            "setup_s": self.setup_s,
            "read_p50_s": statistics.median(self.reads) if self.reads else 0.0,
            "read_p90_s": _quantile(self.reads, 0.9),
            "ops_per_s": n_ops / self.wall_s if self.wall_s > 0 else 0.0,
        }

    def close(self) -> None:
        if getattr(self, "bank", None) is not None:
            self.bank.close()
        spark = getattr(self, "spark", None)
        if spark is None:
            return
        gateway = spark.sparkContext._gateway
        proc = getattr(gateway, "proc", None)
        spark.stop()
        try:
            gateway.shutdown()
        except Exception:
            pass
        if proc is not None:
            try:
                proc.stdin.close()
            except Exception:
                pass
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()


def _du_mb(path: str) -> float:
    total = 0
    for base, _dirs, names in os.walk(path):
        for n in names:
            try:
                total += os.path.getsize(os.path.join(base, n))
            except OSError:
                pass
    return total / (1024.0 * 1024.0)


def _wait_for_children(timeout_s: float = 30.0) -> None:
    """Block until every process this run started (JVM, Python workers)
    has exited, reaping any that are ours."""
    from perfbench.host import descendants

    deadline = time.time() + timeout_s
    while descendants(os.getpid()) and time.time() < deadline:
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            pass
        time.sleep(0.2)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_process = time.perf_counter()

    sys.path.insert(0, ROOT)
    from perfbench import workloads as W

    if args.workload not in W.WORKLOADS:
        _die(f"unknown workload {args.workload!r}; one of {W.WORKLOADS}")
    for need in ("__spark_entry__.py", "obsplus_spark/__init__.py", "tools/check.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            _die(f"{need} not found under {ROOT}: run from a full checkout")

    from perfbench import datagen
    from perfbench.host import TreeRss, cpu_ticks, host_record, source_id, spin_s

    work = os.path.join(ROOT, ".perfbench")
    _prepare_env(work)
    os.chdir(work)
    bench_dir = datagen.ensure(
        os.path.join(work, "data", f"sf{W.BENCH_SF}"), W.BENCH_SF
    )
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, **host_record(), **source_id(ROOT),
        "spin_before_s": spin_s(),
    }
    steal0, total0 = cpu_ticks()
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    # the RSS sampler reads /proc for every process four times a second;
    # it runs only in the traced run, so the timed runs do not pay for it
    rss = TreeRss() if run.trace else contextlib.nullcontext()
    try:
        with rss:
            run.setup(bench_dir)
            if run.trace:
                run.traced()
            else:
                run.timed()
        record["java"] = run.spark.sparkContext._jvm.System.getProperty("java.version")
    finally:
        run.close()
    _wait_for_children()
    record["spin_after_s"] = spin_s()
    record["process_wall_s"] = time.perf_counter() - t_process
    steal1, total1 = cpu_ticks()
    record["steal_frac"] = (steal1 - steal0) / max(1, total1 - total0)
    if record["steal_frac"] > STEAL_FLAG:
        # the hypervisor took CPU from this guest during the run: its
        # times are not comparable with a run on a quiet host
        record["steal_flagged"] = True
        run.findings.append(
            f"steal {record['steal_frac']:.1%} > {STEAL_FLAG:.0%} of CPU "
            "time: compare these figures only with runs of similar steal"
        )

    e2e = run.end_to_end()
    if run.trace:
        # the JVM grows its heap as it pleases: peak RSS moved >10 %
        # between runs of the same code, so it is per-layer, not end-to-end
        run.layer["peak_rss_mb"] = rss.peak_mb
    metrics = (
        {k: {"value": v, "unit": u} for k, v, u in _layer_units(run)}
        if run.trace
        else {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}
    )
    error_rate = run.failed / max(1, run.attempted)
    record.update({
        "passes": run.passes, "reads": len(run.reads), "writes": len(run.writes),
        "attempted": run.attempted, "failed": run.failed,
        "error_rate": error_rate, "findings": run.findings,
        "end_to_end": e2e, "per_layer": run.layer,
        "requests": run.log,
        "trace": getattr(run, "trace_records", []),
    })
    os.makedirs(os.path.join(work, "runs"), exist_ok=True)
    with open(os.path.join(
        work, "runs", f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    ), "w") as f:
        json.dump(record, f, indent=1, default=str)

    print(
        f"perfbench {args.workload} seed={args.seed} passes={run.passes} "
        f"reads={len(run.reads)} writes={len(run.writes)} "
        f"error_rate={error_rate:.4f} output_check="
        f"{'pass' if run.failed == 0 else 'FAIL'} "
        f"spin={record['spin_before_s']:.3f}/{record['spin_after_s']:.3f}s "
        f"steal={record['steal_frac']:.3f} "
        f"host={record['host']} nproc={record['nproc']}"
    )
    for line in run.findings:
        print(f"perfbench finding: {line}")
    if not run.trace:
        for k, u in END_TO_END:
            print(f"perfbench {k} = {e2e[k]:.6g} {u}")
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


def _layer_units(run: Run):
    """Every per-layer metric of a traced run, with its unit."""
    from perfbench.trace import PER_LAYER

    values = dict(run.layer)
    values["write_p50_s"] = statistics.median(run.writes) if run.writes else 0.0
    values["read_p90_s"] = _quantile(run.reads, 0.9)
    for name, unit in PER_LAYER:
        yield name, float(values.get(name, 0.0)), unit


if __name__ == "__main__":
    sys.exit(main())
