"""Closed-loop benchmark of the engine's public query entry points.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 8 --trace 0

One client runs one workload's ops in cycles against one
``local[nproc]`` SparkSession, each op being a registered query's
``fn(spark, sf_dir)`` followed by a timed action: the row count plus an
order-independent hash of every column, floats rounded. The input is
the engine's reference test data (``gen.py``); the seed fixes the op
order of every cycle.

Set-up: copy the input and run each query's DuckDB oracle, start the
session, run every op once and compare its rows with its oracle
result, then repeat whole cycles until two consecutive cycles agree.
``setup_s`` counts the engine's part of that: the session start, the
first execution of every op and the warm-up cycles. The timed window
is a whole number of cycles lasting about ``--seconds``; every op in
it must reproduce its set-up result.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs the
window untraced and then traced (spans around the engine's layer
functions, per-op Spark job groups, a streaming progress listener and
the Spark event log) and prints the per-layer metrics.

The last stdout line is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``; the line before it records
the run's configuration and samples.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass
from typing import NamedTuple

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import gen, host, stats  # noqa: E402

# Importing tools.check puts a fixed checkout path ahead on sys.path;
# the engine must still come from this checkout.
sys.path.insert(0, ROOT)


@dataclass(frozen=True)
class Workload:
    ops: tuple[str, ...]
    tiles: int  # copies of the corpus tables in the input
    events_scale: str  # the reference scale the events table comes from
    warm_cycles: tuple[int, int]  # least and most warm-up cycles


WORKLOADS = {
    # Reads: the analysts' interactive queries (a scan with hash
    # aggregation, broadcast-dimension joins, the funnel, sliding
    # windows) and exact cosine k-NN over the embeddings tiled x8
    # (4,000 vectors).
    # The queries are bound by per-job cost and driver-side planning,
    # the k-NN by similarity scoring; none touches the streaming state
    # store or the materializer.
    "serve": Workload(
        ops=(
            "pricing_summary",
            "revenue_by_region",
            "funnel_conversion_daily",
            "sliding_window_metrics",
            "knn_bruteforce_cosine",
        ),
        tiles=8, events_scale="sf0.01", warm_cycles=(3, 5),
    ),
    # Writes: a streaming replay into the MERGE upsert sink (stateful,
    # so the state store commits every batch) and the incremental
    # materializer with its atomic overlay swaps. No similarity
    # scoring. Its ops read only the events table, here at sf0.1
    # (100,000 rows).
    "ingest": Workload(
        ops=("streaming_upsert_hourly", "materialize_incremental_clean_events"),
        tiles=1, events_scale="sf0.1", warm_cycles=(3, 4),
    ),
}

# Warm-up: whole cycles after the oracle pass, at least the workload's
# least number, until the op CPU seconds (JIT compilation excluded) of
# two consecutive cycles differ by at most WARM_AGREE of the later one,
# and at most its greatest number. The bounds count cycles, not
# seconds, so warm-up time follows the engine's cost.
WARM_AGREE = 0.15
# Grace for streaming progress events, which arrive asynchronously.
LISTENER_GRACE_S = 1.0


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def driver_mem() -> str:
    """An eighth of physical memory, between 1 and 4 GiB: the inputs
    are small, and the host's memory is shared with the run's scratch."""
    with open("/proc/meminfo") as fh:
        total_mb = int(fh.readline().split()[1]) // 1024
    return f"{min(4096, max(1024, total_mb // 8))}m"


def isolate(run_dir: str, trace: bool) -> dict[str, str]:
    """Point every scratch, cache and temp location of the engine, the
    JVM and Python at fresh directories under ``run_dir``, and pin the
    session size. Returns the settings, for the run record."""
    dirs = {k: os.path.join(run_dir, k) for k in ("tmp", "artifacts", "scratch", "local", "eventlog", "data")}
    for d in dirs.values():
        os.makedirs(d)
    # A fixed set of JIT compiler threads, started with the JVM, so their
    # CPU can be told apart from the ops' for the whole run.
    java_opts = f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UseDynamicNumberOfCompilerThreads"
    extra = [f"spark.driver.extraJavaOptions={java_opts}"]
    if trace:
        extra += [
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir=file://{dirs['eventlog']}",
            "spark.eventLog.rolling.enabled=false",
            "spark.eventLog.compress=false",
        ]
    env = {
        "TZ": "UTC",
        "TMPDIR": dirs["tmp"],
        "SPARK_GRAFT_ARTIFACTS": dirs["artifacts"],
        "SPARK_GRAFT_STREAM_SCRATCH": dirs["scratch"],
        "SPARK_LOCAL_DIRS": dirs["local"],
        "SPARK_GRAFT_CPUS": str(cpus()),
        "SPARK_GRAFT_DRIVER_MEM": driver_mem(),
        "SPARK_GRAFT_EXTRA_CONF": ";".join(extra),
    }
    os.environ.update(env)
    time.tzset()
    return {**env, "data": dirs["data"], "eventlog": dirs["eventlog"]}


def _hashable(field):
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    col = F.col(f"`{field.name}`")
    fmt = f"%.{stats.FLOAT_DIGITS - 1}e"
    dt = field.dataType
    if isinstance(dt, (T.DoubleType, T.FloatType)):
        return F.format_string(fmt, col)
    if isinstance(dt, T.ArrayType) and isinstance(dt.elementType, (T.DoubleType, T.FloatType)):
        return F.transform(col, lambda x: F.format_string(fmt, x))
    if isinstance(dt, (T.MapType, T.StructType, T.ArrayType)):
        return F.to_json(col)
    return col


def content_digest(df) -> tuple[int, int]:
    """The timed action: row count and the sum of a 32-bit hash of
    every row over all columns (floats rounded), one Spark job."""
    from pyspark.sql import functions as F

    cols = [_hashable(f) for f in df.schema.fields]
    h = F.xxhash64(*cols).bitwiseAND(F.lit(0xFFFFFFFF)) if cols else F.lit(0)
    row = df.select(F.count(F.lit(1)).alias("n"), F.sum(h).alias("h")).collect()[0]
    return int(row["n"]), int(row["h"] or 0)


def oracle_results(sf_dir: str, oracles: dict[str, str]) -> dict:
    """Each query's DuckDB oracle result as ``(columns, rows)``, or the
    error text when the oracle fails."""
    import duckdb

    from streaming_data_lake_spark.catalog import TABLES, table_path

    out: dict = {}
    with duckdb.connect() as con:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{table_path(sf_dir, t)}'")
        for name, sql in oracles.items():
            try:
                cur = con.execute(sql)
                out[name] = ([d[0] for d in cur.description], cur.fetchall())
            except duckdb.Error as exc:
                out[name] = f"oracle error: {exc}"[:300]
    return out


class Op(NamedTuple):
    name: str
    seconds: float
    ok: bool
    cpu_s: float  # CPU seconds of this process and its descendants during the op, JIT excluded
    jit_s: float  # CPU seconds of the JVM's JIT compiler threads during the op
    steal: float  # share of all CPU time the hypervisor stole during the op


def load_declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def reported(metrics: dict[str, tuple[float, str]], declared: dict) -> dict:
    """One declared metric as printed; its unit must match."""
    value, unit = metrics[declared["name"]]
    if unit != declared["unit"]:
        raise ValueError(f"{declared['name']}: measured in {unit}, declared in {declared['unit']}")
    return {"value": value, "unit": unit}


class Bench:
    def __init__(self, args, settings: dict[str, str]):
        from streaming_data_lake_spark.plans import artifacts
        from streaming_data_lake_spark.queries import all_queries

        self.args = args
        self.workload = WORKLOADS[args.workload]
        self.sf_dir = settings["data"]
        self.queries = all_queries()
        self.artifact_stats = artifacts.STATS
        self.baseline: dict[str, tuple[int, int]] = {}
        self.oracle_mismatch: dict[str, str] = {}
        self.failures: dict[str, str] = {}
        self.metrics: dict[str, tuple[float, str]] = {}
        self.record: dict = {}
        self.spark = None
        self.jit: list[tuple[int, int]] = []
        self.tracer = None
        self.groups: set[str] = set()
        self.stage_ids: set[int] = set()

    def metric(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = (float(value), unit)

    # -- set-up ---------------------------------------------------------

    def generate(self) -> None:
        t0 = time.perf_counter()
        gen.write_input(self.sf_dir, self.workload.tiles, self.workload.events_scale)
        self.metric("gen.input_s", time.perf_counter() - t0, "s")

    def start_session(self) -> None:
        from streaming_data_lake_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", cpus=str(cpus()))
        self.metric("session.start_s", time.perf_counter() - t0, "s")
        self.jit = host.jit_threads(host.process_tree())
        self.record["jit_threads"] = len(self.jit)

    def cpu_s(self) -> tuple[float, float]:
        """CPU seconds so far of this process and its descendants, and
        of the JVM's JIT compiler threads among them."""
        return host.tree_cpu_s(host.process_tree()), host.threads_cpu_s(self.jit)

    def oracle_pass(self, oracles: dict) -> float:
        """Run every op once and keep its digest as the reference;
        compare its rows with its DuckDB oracle result (from
        ``oracle_results``) where the query has one. Returns the seconds
        spent building and running the ops; collecting and comparing
        their rows is not counted."""
        misses0 = self.artifact_stats["misses"]
        spent = self.record.setdefault("oracle_pass_s", {})
        for name in stats.op_order(list(self.workload.ops), self.args.seed, 0):
            t0, t1 = time.perf_counter(), None
            try:
                want = oracles.get(name)
                df = self.queries[name].fn(self.spark, self.sf_dir)
                if want is not None:
                    # Cached, so the rows are collected below without
                    # running the op a second time.
                    df = df.persist()
                self.baseline[name] = content_digest(df)
                t1 = time.perf_counter()
                if isinstance(want, str):
                    self.oracle_mismatch[name] = want
                elif want is not None:
                    diff = stats.first_difference(df.columns, [tuple(r) for r in df.collect()], *want)
                    df.unpersist()
                    if diff is not None:
                        self.oracle_mismatch[name] = diff
            except Exception as exc:  # noqa: BLE001 - an op failure is a result
                self.failures[name] = f"set-up: {type(exc).__name__}: {exc}"[:300]
            spent[name] = (t1 or time.perf_counter()) - t0
        self.metric("artifacts.setup_misses", self.artifact_stats["misses"] - misses0, "count")
        self.record["oracle_checked"] = sorted(n for n in oracles if n in self.baseline)
        return sum(spent.values())

    # -- cycles ---------------------------------------------------------

    def run_op(self, name: str, traced: bool) -> Op:
        q = self.queries[name]
        cpu0, (tree0, jit0) = host.cpu_times(), self.cpu_s()
        t0 = time.perf_counter()
        ok = False
        try:
            if traced:
                with self.tracer.span("op"):
                    with self.tracer.span("queries.build"):
                        df = q.fn(self.spark, self.sf_dir)
                    with self.tracer.span("queries.exec"):
                        digest = content_digest(df)
            else:
                digest = content_digest(q.fn(self.spark, self.sf_dir))
            ok = digest == self.baseline.get(name)
            if not ok:
                self.failures.setdefault(name, f"result {digest} differs from set-up {self.baseline.get(name)}")
        except Exception as exc:  # noqa: BLE001 - an op failure is a result
            self.failures.setdefault(name, f"{type(exc).__name__}: {exc}"[:300])
        elapsed = time.perf_counter() - t0
        tree1, jit1 = self.cpu_s()
        jit = jit1 - jit0
        return Op(name, elapsed, ok, tree1 - tree0 - jit, jit, host.shares(cpu0, host.cpu_times())["steal"])

    def cycle(self, index: int, traced: bool = False) -> list[Op]:
        out = []
        sc = self.spark.sparkContext
        for i, name in enumerate(stats.op_order(list(self.workload.ops), self.args.seed, index)):
            if traced:
                group = f"perfbench-{index}-{i}"
                self.groups.add(group)
                sc.setJobGroup(group, name)
            out.append(self.run_op(name, traced))
        return out

    def timed_cycles(self, first_cycle: int, n_cycles: int, traced: bool = False, until_steady: bool = False):
        """Run whole cycles; returns the ops, and the wall and CPU
        seconds of each cycle. ``until_steady`` stops early once the
        warm-up rule above is met."""
        ops, wall, cpu = [], [], []
        for c in range(n_cycles):
            t0 = time.perf_counter()
            cycle = self.cycle(first_cycle + c, traced)
            wall.append(time.perf_counter() - t0)
            cpu.append(sum(op.cpu_s for op in cycle))
            ops += cycle
            if until_steady and stats.steady(cpu, self.workload.warm_cycles[0], WARM_AGREE):
                break
        return ops, wall, cpu

    def warm_up(self) -> tuple[int, float]:
        """Cycles until the warm-up rule above is met; returns their
        number and wall seconds."""
        _ops, wall, cpu = self.timed_cycles(1, self.workload.warm_cycles[1], until_steady=True)
        self.record["warmup_cycle_s"] = [round(t, 3) for t in wall]
        self.record["warmup_cycle_cpu_s"] = [round(t, 3) for t in cpu]
        self.cycle_s = wall[-1]
        return len(wall), sum(wall)

    def window(self, first_cycle: int, n_cycles: int, traced: bool = False):
        # Start every window with an empty Python heap, so garbage left
        # by set-up does not fall due inside it. (A JVM System.gc() here
        # made the next cycle cost 20-40 % more CPU than the one before.)
        gc.collect()
        return self.timed_cycles(first_cycle, n_cycles, traced)

    # -- runs -----------------------------------------------------------

    def latency(self, ops: list[Op], elapsed: float) -> None:
        """Latency and throughput of an untraced window. Host CPU steal
        moves these by tens of percent from run to run, so they are
        recorded ungated (per layer) rather than as end-to-end metrics."""
        lat = [op.seconds for op in ops if op.ok] or [op.seconds for op in ops]
        per_name: dict[str, list[float]] = {}
        for op in ops:
            if op.ok:
                per_name.setdefault(op.name, []).append(op.seconds)
        medians = [statistics.median(v) for v in per_name.values()] or [statistics.median(lat)]
        self.metric("latency.ops_per_s", sum(op.ok for op in ops) / elapsed, "1/s")
        self.metric("latency.op_p50_s", statistics.median(lat), "s")
        self.metric("latency.op_geomean_s", statistics.geometric_mean(medians), "s")
        self.record["per_op_median_s"] = {n: round(statistics.median(v), 4) for n, v in sorted(per_name.items())}
        # A percentile is reported only with ten samples beyond it.
        if stats.samples_beyond(len(lat), 0.9) >= 10:
            self.record["op_p90_s"] = stats.percentile(lat, 0.9)
        self.record["op_s"] = [[op.name, round(op.seconds, 4), round(op.cpu_s, 3), round(op.jit_s, 3), round(op.steal, 4)] for op in ops]
        self.metric("jvm.jit_cpu_s_per_op", sum(op.jit_s for op in ops) / len(ops), "s/op")

    def end_to_end(self, setup_s: float, n_cycles: int, first: int):
        ops, wall, cpu = self.window(first, n_cycles)
        self.latency(ops, sum(wall))
        self.record["window_cycle_cpu_s"] = [round(c, 3) for c in cpu]
        self.metric("cpu_s_per_op", stats.typical_cpu_per_op([(op.name, op.cpu_s) for op in ops]), "s")
        self.metric("setup_s", setup_s, "s")
        return ops, sum(wall)

    def traced_run(self, n_cycles: int, first: int):
        from perfbench import trace

        base_ops, base_wall, _cpu = self.window(first, n_cycles)
        self.latency(base_ops, sum(base_wall))
        sc = self.spark.sparkContext
        listener = trace.make_progress_listener()
        self.spark.streams.addListener(listener)
        self.tracer = trace.Tracer()
        self.tracer.install()
        misses0 = self.artifact_stats["misses"]
        try:
            ops, wall, _cpu = self.window(first + n_cycles, n_cycles, traced=True)
        finally:
            self.tracer.uninstall()
        time.sleep(LISTENER_GRACE_S)
        self.spark.streams.removeListener(listener)
        n = len(ops)
        self.metric("artifacts.misses", self.artifact_stats["misses"] - misses0, "count")
        self_s = stats.self_times(self.tracer.spans)
        for layer in ("catalog.load_table", "queries.build", "queries.exec", "operators.build",
                      "upsert.merge", "materialize.run", "overlay.swap"):
            self.metric(f"{layer}_s", self_s.get(layer, 0.0) / n, "s/op")
        jobs, stages, tasks, stage_ids = trace.spark_counts(sc, self.groups | listener.run_ids)
        self.metric("spark.jobs_per_op", jobs / n, "jobs/op")
        self.metric("spark.stages_per_op", stages / n, "stages/op")
        self.metric("spark.tasks_per_op", tasks / n, "tasks/op")
        st = trace.stream_totals(listener.progress)
        self.metric("stream.batches_per_op", st["batches"] / n, "batches/op")
        for phase in ("addBatch", "walCommit", "commitOffsets", "queryPlanning"):
            self.metric(f"stream.{phase}_s", st[f"{phase}_s"] / n, "s/op")
        self.metric("stream.state_commit_s", st["state_commit_s"] / n, "s/op")
        self.metric("stream.state_rows", st["state_rows"] / n, "rows/op")
        self.metric("stream.state_mem_bytes", st["state_mem_bytes"] / n, "B/op")
        base = sum(op.seconds for op in base_ops) / len(base_ops)
        traced = sum(op.seconds for op in ops) / n
        self.metric("trace.overhead_s_per_op", traced - base, "s/op")
        self.metric("trace.overhead_share", traced / base - 1.0, "share")
        self.stage_ids = stage_ids
        return ops, sum(wall)

    def stop(self) -> None:
        """Stop the session, its JVM and every process the JVM started,
        and wait for them to end."""
        if self.spark is None:
            return
        pids = [p for p in host.process_tree() if p != os.getpid()]
        gateway = self.spark.sparkContext._gateway
        self.spark.stop()
        self.spark = None
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.monotonic() + 15
        while pids and time.monotonic() < deadline:
            pids = [p for p in pids if os.path.exists(f"/proc/{p}") and _alive(p)]
            time.sleep(0.1)
        for p in pids:
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass


def _alive(pid: int) -> bool:
    """False for a process that has exited but not yet been reaped."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def run(args, run_dir: str) -> dict:
    t_start = time.perf_counter()
    settings = isolate(run_dir, bool(args.trace))
    bench = Bench(args, settings)
    try:
        bench.generate()
        t0 = time.perf_counter()
        oracles = oracle_results(bench.sf_dir, {
            n: bench.queries[n].oracle for n in bench.workload.ops if bench.queries[n].oracle
        })
        bench.record["oracle_duckdb_s"] = round(time.perf_counter() - t0, 3)
        bench.start_session()
        if args.trace:
            from perfbench import trace

            bench.tracer = trace.Tracer()
            bench.tracer.install()
        try:
            first_s = bench.oracle_pass(oracles)
        finally:
            if args.trace:
                bench.tracer.uninstall()
                ensure = [s for s in bench.tracer.spans if s.layer == "artifacts.ensure"]
                bench.metric("artifacts.build_s", sum(s.end - s.start for s in ensure), "s")
        warm, warm_s = bench.warm_up()
        setup_s = bench.metrics["session.start_s"][0] + first_s + warm_s
        bench.record["setup_wall_s"] = round(time.perf_counter() - t_start, 3)
        bench.metric("warmup.cycles", warm, "count")
        # At least two cycles, so every op has two samples.
        n_cycles = max(2, round(args.seconds / bench.cycle_s))
        first = warm + 1
        cpu0 = host.cpu_times()
        if args.trace:
            ops, elapsed = bench.traced_run(n_cycles, first)
        else:
            ops, elapsed = bench.end_to_end(setup_s, n_cycles, first)
        share = host.shares(cpu0, host.cpu_times())
        bench.metric("host.steal_share", share["steal"], "share")
        bench.metric("host.idle_share", share["idle"], "share")
        bench.metric("host.rss_peak_mb", host.tree_rss_peak_mb(host.process_tree()), "MB")
        bench.metric("scratch.live_bytes", host.dir_bytes(settings["SPARK_GRAFT_STREAM_SCRATCH"]), "B")
    finally:
        bench.stop()
    if args.trace:
        from perfbench import trace

        tm = trace.task_metrics(settings["eventlog"], bench.stage_ids)
        n = len(ops)
        bench.metric("spark.task_cpu_s_per_op", tm["task_cpu_s"] / n, "s/op")
        bench.metric("spark.gc_s_per_op", tm["gc_s"] / n, "s/op")
        bench.metric("spark.shuffle_bytes_per_op", tm["shuffle_bytes"] / n, "B/op")
        bench.metric("spark.spill_bytes_per_op", tm["spill_bytes"] / n, "B/op")
    failed = sum(1 for op in ops if not op.ok)
    bench.record.update(
        workload=args.workload, seed=args.seed, trace=args.trace,
        settings={k: v for k, v in settings.items() if k not in ("data", "eventlog")},
        ops=list(bench.workload.ops), window_cycles=n_cycles, window_s=round(elapsed, 3),
        samples=len(ops), oracle_mismatch=bench.oracle_mismatch, failures=bench.failures,
        measured={k: v for k, (v, _u) in sorted(bench.metrics.items())},
    )
    print(json.dumps({"record": bench.record}, sort_keys=True))
    declared = load_declared()["per_layer" if args.trace else "end_to_end"]
    return {
        "correct": not bench.oracle_mismatch and not bench.failures,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {m["name"]: reported(bench.metrics, m) for m in declared},
    }


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    # The engine must be importable from the checkout before any work.
    import streaming_data_lake_spark.queries  # noqa: F401

    runs = os.path.join(ROOT, ".perfbench_run")
    run_dir = os.path.join(runs, f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        result = run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(runs)
        except OSError:  # another run still uses it
            pass
    print(json.dumps(result, sort_keys=True))
    return 0


if __name__ == "__main__":
    sys.exit(main())
