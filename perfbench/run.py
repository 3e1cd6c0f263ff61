"""Run one workload of the benchmark and print its metrics.

    python3 perfbench/run.py --workload psum_flows --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the project. One run:

1. generates the workload's tables from ``--seed`` under ``.perfbench_run/``;
2. starts the session cold (a new driver JVM) and runs one fixed warm-up
   query on it;
3. collects every workload query once and compares its order-insensitive
   hash with the DuckDB ``oracle_sql()`` twin on the same tables;
4. runs four untimed warm-up passes, then timed passes over the workload's
   queries, each pass in an order drawn from the seed, until ``--seconds``
   have been measured and at least ``CPU_PASSES`` passes made;
5. prints a human-readable table, one ``perfbench-detail`` JSON line with
   every per-pass and per-query figure, and, as the last line, the result
   object ``{"correct", "attempted", "failed", "metrics"}``.

With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
every invocation is traced (``perfbench/tracing.py``) and the metrics are
the per-layer sums per pass. Exit status is 0 only when a result was
printed.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import resource
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# The JIT keeps speeding passes up for six to eight passes after the oracle
# check; untimed passes take the steepest part of that out of the timed
# ones, whose number follows the host's speed.
WARMUP_PASSES = 4
# CPU time per pass falls along that curve too, and a time-boxed window
# fits fewer passes on a slow host; the gated CPU figures read the first
# timed passes only, so that every run reads the same stretch of the curve.
# They take the least of those passes: a neighbour on the shared host only
# ever adds CPU time (through caches and memory bandwidth), in bursts that
# cover one pass and spare the next.
CPU_PASSES = 4
MIN_PASSES = CPU_PASSES

# units of every metric a run can report
END_TO_END_UNITS = {
    "setup_s": "s",
    "pass_cpu_s": "s",
    "live_mem_mb": "MB",
}
# Figures printed and kept in the detail line but not gated. Wall times of
# passes and queries: hypervisor steal on a shared host comes in bursts that
# can slow a whole run by half or more, so the end-to-end metrics gate CPU
# time, which the kernel charges without the stolen time (it still rises in
# such bursts, by up to half, but less than wall time). The per-query CPU
# median: it follows the two middle queries of four, and its spread over
# ten runs of a loaded host reached 0.28.
UNGATED_UNITS = {
    "pass_s": "s",
    "query_p50_s": "s",
    "query_cpu_p50_s": "s",
}
LAYER_UNITS = {
    "session_start_s": "s",
    "warmup_s": "s",
    "construct_s": "s",
    "py4j_calls": "count",
    "py4j_wait_s": "s",
    "driver_py_cpu_s": "s",
    "eager_jobs": "count",
    "eager_job_s": "s",
    "plan_s": "s",
    "exec_s": "s",
    "exec_jobs": "count",
    "stages": "count",
    "tasks": "count",
    "task_run_s": "s",
    "task_cpu_s": "s",
    "gc_s": "s",
    "jit_cpu_s": "s",
    "input_bytes": "bytes",
    "shuffle_read_bytes": "bytes",
    "shuffle_write_bytes": "bytes",
    "spill_bytes": "bytes",
    "python_total_s": "s",
    "python_boot_s": "s",
    "python_bytes_sent": "bytes",
    "python_bytes_received": "bytes",
    "batches": "count",
    "batch_p50_ms": "ms",
    "add_batch_ms": "ms",
    "batch_overhead_ms": "ms",
    "stream_input_rows": "count",
    "state_rows": "count",
    "unattributed_jobs": "count",
    "traced_pass_s": "s",
}
# Times of a layer that only some workloads use (Python eval nodes, stream
# micro-batches) read 0 on every run of the others. They are printed and
# kept in the detail line, but left out of the result object, whose times
# must be measured values on every workload.
DETAIL_ONLY = ("python_total_s", "python_boot_s", "batch_p50_ms", "add_batch_ms", "batch_overhead_ms")


def _steal_ticks() -> int:
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8])


def _ticks(stat: str) -> tuple[str, list[str]]:
    """The command name of a ``/proc/.../stat`` line and the fields after it
    (state, ppid, ...)."""
    return stat[stat.index("(") + 1:stat.rindex(")")], stat[stat.rindex(")") + 2:].split()


def _tree_ticks(root: int) -> int:
    """Clock ticks (user and system) used so far by process ``root`` and its
    live descendants, with the children they have reaped."""
    parent, ticks = {}, {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                _, fields = _ticks(fh.read())
        except OSError:  # the process has exited
            continue
        parent[int(entry)] = int(fields[1])
        ticks[int(entry)] = sum(int(f) for f in fields[11:15])  # utime stime cutime cstime
    children: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total


class CpuClock:
    """CPU time of the driver process and its descendants (the driver JVM,
    the Python workers), with the JVM's JIT compiler threads counted apart.

    How much HotSpot compiles in a pass follows when its tier thresholds
    trip, and it comes in bursts: from 0.2 to 2.6 CPU-s in consecutive
    passes of the same queries. So the program's CPU time leaves the
    compiler threads out, and their time is a figure of its own.

    A process's own ticks keep the time of threads that have exited, a
    thread's ticks go with it. HotSpot ends an extra compiler thread only
    after it has sat idle for seconds, so reads a query apart miss none of
    its work.
    """

    def __init__(self, root: int, jvm_pid: int):
        self.root = root
        self.jvm_pid = jvm_pid
        self.hz = os.sysconf("SC_CLK_TCK")
        self.compiler_ticks: dict[int, int] = {}  # thread id -> ticks at the last read
        self.jit_ticks = 0

    def _read_compilers(self) -> None:
        seen = {}
        for tid in os.listdir(f"/proc/{self.jvm_pid}/task"):
            try:
                with open(f"/proc/{self.jvm_pid}/task/{tid}/stat") as fh:
                    comm, fields = _ticks(fh.read())
            except OSError:  # the thread has exited
                continue
            if "CompilerThre" in comm:  # "C1 CompilerThre", "C2 CompilerThre"
                seen[int(tid)] = int(fields[11]) + int(fields[12])
        for tid, ticks in seen.items():
            self.jit_ticks += ticks - self.compiler_ticks.get(tid, 0)
        self.compiler_ticks = seen

    def read(self) -> tuple[float, float]:
        """CPU seconds used so far without the JIT compiler threads, and the
        compiler threads' seconds since the first read."""
        tree = _tree_ticks(self.root)
        self._read_compilers()
        return (tree - self.jit_ticks) / self.hz, self.jit_ticks / self.hz


def _rss_kib(pid: int) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _isolate(run_dir: str) -> None:
    """Keep every file the run writes inside ``run_dir``: Spark's local and
    temp dirs, the warehouse and Python's temp files. The driver heap is
    left to the session factory, as a caller gets it."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} "
        f"--conf spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')} "
        "pyspark-shell"
    )


def _oracle_hashes(data_dir: str, queries, oracle_sql: dict, table_hash) -> dict:
    import duckdb

    from perfbench.datagen import TABLES

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        out = {}
        for name in queries:
            if name in oracle_sql:
                res = con.sql(oracle_sql[name])
                out[name] = (sorted(res.columns), table_hash(res.columns, res.fetchall()))
        return out
    finally:
        con.close()


class Run:
    def __init__(self, workload, seed: int, seconds: float, trace: bool, data_dir: str):
        import __spark_entry__ as entry
        from tools.check_correctness import table_hash

        self.w = workload
        self.seconds = seconds
        self.trace = trace
        self.data_dir = data_dir
        self.cpus = len(os.sched_getaffinity(0))
        self.qs = entry.queries()
        self.oracle_sql = entry.oracle_sql()
        self.table_hash = table_hash
        self.rng = random.Random(seed)
        self.attempted = 0
        self.failures: list[dict] = []
        self.rows_only: list[str] = []
        self.spark = None
        self.clock = None

    # -- session ------------------------------------------------------------
    def _execute(self, df) -> None:
        if self.w.collect:
            df.collect()
        else:
            df.write.format("noop").mode("overwrite").save()

    def setup(self) -> dict:
        """Start the session cold, as a caller's first query meets it: a new
        driver JVM, timed from ``get_spark`` until the warm-up query
        completes. A restart inside the same JVM would skip the JVM launch,
        class loading and first-query compilation, so it is not measured."""
        from elasticsearch_drift_plugin_spark import clear_result_memos
        from elasticsearch_drift_plugin_spark.session import get_spark

        from perfbench.workloads import WARMUP_QUERY

        t0 = time.perf_counter()
        self.spark = get_spark(f"perfbench-{self.w.name}", cpus=self.cpus)
        t1 = time.perf_counter()
        self.spark.sparkContext.setLogLevel("ERROR")
        clear_result_memos()
        self.qs[WARMUP_QUERY](self.spark, self.data_dir).write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        # the driver process; the JVM and Python workers are its descendants
        self.clock = CpuClock(os.getpid(), self.jvm_pid())
        self.clock.read()
        return {"session_start_s": t1 - t0, "warmup_s": t2 - t1, "setup_s": t2 - t0}

    def jvm_pid(self) -> int:
        return int(self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())

    def dispatch_floor(self, n: int = 5) -> float:
        """Best-of-``n`` wall time of a trivial one-row job: a high floor marks
        a window where the host was short of CPU."""
        best = None
        for _ in range(n):
            t0 = time.perf_counter()
            self.spark.range(1).write.format("noop").mode("overwrite").save()
            el = time.perf_counter() - t0
            best = el if best is None else min(best, el)
        return best

    def check_correctness(self) -> None:
        """Collect every workload query once, outside the timed passes, and
        compare it with its DuckDB oracle twin."""
        from elasticsearch_drift_plugin_spark import clear_result_memos

        expected = _oracle_hashes(self.data_dir, self.w.queries, self.oracle_sql, self.table_hash)
        for name in self.w.queries:
            self.attempted += 1
            clear_result_memos()
            try:
                df = self.qs[name](self.spark, self.data_dir)
                cols = df.columns
                rows = [tuple(r) for r in df.collect()]
            except Exception as ex:  # a failing query is a counted failure
                self.failures.append({"query": name, "phase": "check", "error": _first_line(ex)})
                continue
            if name not in expected:
                self.rows_only.append(name)
                continue
            ocols, ohash = expected[name]
            got = (sorted(cols), self.table_hash(cols, rows))
            if got != (ocols, ohash):
                self.failures.append(
                    {"query": name, "phase": "check", "error": f"oracle mismatch {got} != {(ocols, ohash)}"}
                )

    # -- timed passes -----------------------------------------------------------
    def _invoke(self, name: str, tracer) -> tuple[float, dict | None]:
        from elasticsearch_drift_plugin_spark import clear_result_memos

        from perfbench import tracing

        clear_result_memos()
        if tracer is None:
            cpu0, jit0 = self.clock.read()
            t0 = time.perf_counter()
            self._execute(self.qs[name](self.spark, self.data_dir))
            t1 = time.perf_counter()
            cpu1, jit1 = self.clock.read()
            return t1 - t0, {"cpu_s": cpu1 - cpu0, "jit_cpu_s": jit1 - jit0}
        sc = self.spark.sparkContext
        sc.setJobGroup(tracing.job_group(name, tracing.CONSTRUCT), name)
        tracer.py4j.enabled = True
        cpu0 = time.thread_time()
        t0 = time.perf_counter()
        df = self.qs[name](self.spark, self.data_dir)
        t1 = time.perf_counter()
        cpu1 = time.thread_time()
        tracer.py4j.enabled = False
        calls, wait = tracer.py4j.take()
        sc.setJobGroup(tracing.job_group(name, tracing.EXECUTE), name)
        # planning is forced on the query's own QueryExecution so that its
        # tracker holds the analysis, optimization and planning phases
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        plan_s = sum(
            phases.apply(p).durationMs() / 1e3
            for p in ("analysis", "optimization", "planning")
            if phases.contains(p)
        )
        t2 = time.perf_counter()
        self._execute(df)
        t3 = time.perf_counter()
        self.clock.read()  # a read per query keeps every compiler thread's work
        sc.setLocalProperty("spark.jobGroup.id", None)
        rec = tracer.collect(name)
        rec.update(
            construct_s=t1 - t0,
            py4j_calls=calls,
            py4j_wait_s=wait,
            driver_py_cpu_s=cpu1 - cpu0,
            plan_s=plan_s,
            exec_s=t3 - t2,
        )
        return (t1 - t0) + (t3 - t2), rec

    def _pass(self, tracer) -> dict:
        order = list(self.w.queries)
        self.rng.shuffle(order)
        steal0 = _steal_ticks()
        gc0 = tracer.gc_seconds() if tracer else 0.0
        cpu0, jit0 = self.clock.read()
        t0 = time.perf_counter()
        per_query = {}
        for name in order:
            self.attempted += 1
            try:
                lat, rec = self._invoke(name, tracer)
            except Exception as ex:  # counted, and the pass goes on
                self.failures.append({"query": name, "phase": "pass", "error": _first_line(ex)})
                continue
            per_query[name] = {"latency_s": lat, **(rec or {})}
        pass_s = time.perf_counter() - t0
        cpu1, jit1 = self.clock.read()
        return {
            "order": order,
            "pass_s": pass_s,
            "cpu_s": cpu1 - cpu0,
            "jit_cpu_s": jit1 - jit0,
            "steal_ticks": _steal_ticks() - steal0,
            "gc_s": (tracer.gc_seconds() - gc0) if tracer else None,
            "queries": per_query,
        }

    def passes(self) -> list[dict]:
        """``WARMUP_PASSES`` untimed passes, then timed passes until the next
        one would end after ``seconds``."""
        for _ in range(WARMUP_PASSES):
            self._pass(None)
        tracer = None
        if self.trace:
            from perfbench.tracing import Tracer

            tracer = Tracer(self.spark)
        out = []
        t_start = time.perf_counter()
        try:
            while True:
                out.append(self._pass(tracer))
                elapsed = time.perf_counter() - t_start
                if len(out) >= MIN_PASSES and elapsed + elapsed / len(out) > self.seconds:
                    return out
        finally:
            if tracer is not None:
                tracer.close()

    def peak_rss_mb(self) -> dict[str, float]:
        return {
            "jvm": _rss_kib(self.jvm_pid()) / 1024.0,
            "python": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0,
        }

    def live_heap_mb(self) -> float:
        """Heap the driver JVM keeps alive once the workload has run: heap in
        use right after a full collection."""
        jvm = self.spark.sparkContext._jvm
        jvm.java.lang.System.gc()
        usage = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
        return usage.getUsed() / 2**20

    def stop(self) -> None:
        """Stop the session and the JVM it launched, and wait for the JVM."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def _lap(t0: float) -> tuple[float, float]:
    now = time.perf_counter()
    return now - t0, now


def _first_line(ex: Exception) -> str:
    return (str(ex).strip().splitlines() or [type(ex).__name__])[0][:300]


def aggregate(setup: dict, passes: list[dict], trace: bool) -> dict:
    """Metric values of one run: the cold start, the least CPU time of the
    first ``CPU_PASSES`` timed passes, and medians over passes."""
    from perfbench.stats import quartiles

    def med(xs):
        return quartiles(xs)[1]

    if not trace:
        # the median over the workload's queries of each query's own figure
        # (``per_query`` of its invocations): a median pooled over all
        # invocations of a mix of slow and fast queries falls in the gap
        # between two of them and jumps
        def query_p50(key, ps, per_query):
            names = {n for p in ps for n in p["queries"]}
            return med([per_query([p["queries"][n][key] for p in ps if n in p["queries"]]) for n in names])

        first = passes[:CPU_PASSES]
        return {
            "setup_s": setup["setup_s"],
            "pass_cpu_s": min(p["cpu_s"] for p in first),
            "query_cpu_p50_s": query_p50("cpu_s", first, min),
            "pass_s": med([p["pass_s"] for p in passes]),
            "query_p50_s": query_p50("latency_s", passes, med),
        }
    sums = []
    for p in passes:
        recs = list(p["queries"].values())
        s = {k: sum(r.get(k, 0) for r in recs) for k in LAYER_UNITS}
        trig = [t for r in recs for t in r["batch_trigger_ms"]]
        s["batch_p50_ms"] = med(trig) if trig else 0.0
        s["gc_s"] = p["gc_s"]
        s["jit_cpu_s"] = p["jit_cpu_s"]
        s["traced_pass_s"] = p["pass_s"]
        sums.append(s)
    out = {k: med([s[k] for s in sums]) for k in LAYER_UNITS}
    out.update(session_start_s=setup["session_start_s"], warmup_s=setup["warmup_s"])
    return out


def _print_table(workload, passes, metrics, units, detail) -> None:
    from perfbench.stats import quartiles

    print(f"perfbench {workload.name}: sf={workload.sf} queries={len(workload.queries)} "
          f"passes={len(passes)} cpus={detail['cpus']} seed={detail['seed']}")
    for k, v in metrics.items():
        print(f"  {k:<24} {v:>14.6g} {units[k]}")
    q1, _, q3 = quartiles([p["pass_s"] for p in passes])
    print(f"  pass wall time quartiles [{q1:.4f}, {q3:.4f}] s over {len(passes)} passes")
    print(f"  dispatch floor start/end {detail['floor_start_s']:.4f} / {detail['floor_end_s']:.4f} s; "
          f"steal ticks per pass {[p['steal_ticks'] for p in passes]}")
    print("  per query (median over passes):")
    for name, row in detail["per_query"].items():
        cells = " ".join(f"{k}={v:.4g}" for k, v in row.items() if v)
        print(f"    {name:<28} {cells}")
    for f in detail["failures"]:
        print(f"  FAILED {f['query']} ({f['phase']}): {f['error']}")
    if detail["rows_only"]:
        print(f"  checked rows only (no oracle): {', '.join(detail['rows_only'])}")


def _per_query(passes: list[dict]) -> dict:
    from perfbench.stats import quartiles

    names = sorted({n for p in passes for n in p["queries"]})
    out = {}
    for n in names:
        recs = [p["queries"][n] for p in passes if n in p["queries"]]
        keys = [k for k, v in recs[0].items() if isinstance(v, (int, float))]
        out[n] = {k: quartiles([r[k] for r in recs])[1] for k in keys}
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # import the project and this package from the checkout root
    sys.path[0] = ROOT
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; known: {', '.join(WORKLOADS)}", file=sys.stderr)
        return 2
    workload = WORKLOADS[args.workload]
    for needed in ("__spark_entry__.py", "elasticsearch_drift_plugin_spark", "tools/check_correctness.py"):
        if not os.path.exists(os.path.join(ROOT, needed)):
            print(f"{needed} not found under {ROOT}: run from a checkout of the project",
                  file=sys.stderr)
            return 2

    run_dir = os.path.join(ROOT, ".perfbench_run", str(os.getpid()))
    _isolate(run_dir)
    from perfbench.datagen import write_tables

    run = None
    started_at = time.time()
    try:
        phase_s = {}
        t = time.perf_counter()
        data_dir = write_tables(os.path.join(run_dir, "data"), args.seed, workload.sf)
        run = Run(workload, args.seed, args.seconds, bool(args.trace), data_dir)
        phase_s["inputs"], t = _lap(t)
        setup = run.setup()
        phase_s["setup"], t = _lap(t)
        floor_start = run.dispatch_floor()
        run.check_correctness()
        phase_s["check"], t = _lap(t)
        passes = run.passes()
        phase_s["passes"], t = _lap(t)
        floor_end = run.dispatch_floor()
        metrics = aggregate(setup, passes, bool(args.trace))
        rss = run.peak_rss_mb()
        live_heap = run.live_heap_mb()
        if not args.trace:
            # the JVM's resident size follows how far G1 grew the heap, not
            # how much of it the program keeps in use
            metrics["live_mem_mb"] = live_heap + rss["python"]
        units = LAYER_UNITS if args.trace else {**END_TO_END_UNITS, **UNGATED_UNITS}
        shown = {k: v for k, v in metrics.items() if k not in DETAIL_ONLY and k not in UNGATED_UNITS}
        detail = {
            "workload": workload.name,
            "seed": args.seed,
            "trace": args.trace,
            # wall-clock bounds of the run, so that a comparison can check
            # that parent and change runs were interleaved
            "started_at": started_at,
            "ended_at": time.time(),
            "cpus": run.cpus,
            "setup": setup,
            "floor_start_s": floor_start,
            "floor_end_s": floor_end,
            "passes": [{k: v for k, v in p.items() if k != "queries"} for p in passes],
            "per_query": _per_query(passes),
            "phase_s": phase_s,
            "peak_rss_mb": rss,
            "live_heap_mb": live_heap,
            "metrics": metrics,
            "failures": run.failures,
            "rows_only": run.rows_only,
        }
    finally:
        if run is not None:
            run.stop()
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass

    _print_table(workload, passes, metrics, units, detail)
    print("perfbench-detail " + json.dumps(detail, sort_keys=True))
    result = {
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in shown.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
