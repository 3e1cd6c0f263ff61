"""Per-layer tracing for the benchmark's traced run.

Everything here reads the engine from the outside: the py4j client the
query builders talk through, Spark's status store (jobs, stages and SQL
executions, readable with the UI off), the JVM's garbage-collector beans
and a ``StreamingQueryListener`` registered on the session. Nothing in the
package under test is changed.

Spans are per query invocation and per phase: ``construct`` is the
builder call (which, for the ``stream_*`` twins, replays the stream) and
``execute`` is the final action (noop sink or ``collect()``). Every Spark
job is tagged with the job group ``<query>/<phase>``; a structured stream
runs its micro-batches under its own run id as job group, which the
listener maps back to the query that started it.
"""

from __future__ import annotations

import json
import re
import threading
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

CONSTRUCT, EXECUTE = "construct", "execute"


def job_group(query: str, phase: str) -> str:
    return f"{query}/{phase}"


def attribute_jobs(
    jobs: list[dict], query: str, stream_runs: set[str]
) -> tuple[dict[str, list[dict]], list[dict]]:
    """Split status-store job records by phase of ``query``.

    A job belongs to a phase when its job group is ``<query>/<phase>``;
    a job whose group is the run id of a stream that ``query`` started
    belongs to ``construct``, because the bounded replay runs inside the
    builder call. Every other job is returned as unattributed.
    """
    by_phase: dict[str, list[dict]] = {CONSTRUCT: [], EXECUTE: []}
    unattributed = []
    for job in jobs:
        group = job.get("jobGroup")
        if group == job_group(query, CONSTRUCT) or group in stream_runs:
            by_phase[CONSTRUCT].append(job)
        elif group == job_group(query, EXECUTE):
            by_phase[EXECUTE].append(job)
        else:
            unattributed.append(job)
    return by_phase, unattributed


_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_NUMBER = re.compile(r"(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")


def parse_sql_metric(text: str, metric_type: str) -> float:
    """Value of one formatted SQL-store metric string, in bytes, seconds or
    rows. Aggregated values read ``total (min, med, max ...)\\n<total> (...)``;
    the total is the first number after the header line."""
    body = text.split("\n", 1)[1] if text.startswith("total") and "\n" in text else text
    m = _NUMBER.search(body)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if metric_type == "size":
        return value * _SIZE_UNITS.get(unit, 1)
    if metric_type in ("timing", "nsTiming"):
        return value * _TIME_UNITS.get(unit, 1e-3)
    return value


# SQL-store metric name of a Python eval node -> per-layer metric name
PYTHON_SQL_METRICS = {
    "time to run Python workers": "python_total_s",
    "time to start Python workers": "python_boot_s",
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_received",
}


class Py4jCounter:
    """Counts py4j round trips and the time spent waiting in them.

    The gateway client's ``send_command`` is replaced on the instance, so
    every JVM call of the benchmark process goes through it. Only calls
    from the thread that owns the counter are counted: listener callbacks
    arrive on py4j's callback threads and are not query construction.
    """

    def __init__(self, gateway_client):
        self._client = gateway_client
        self._orig = gateway_client.send_command
        self._owner = threading.get_ident()
        self.enabled = False
        self.calls = 0
        self.wait_s = 0.0

        def send_command(*args, **kwargs):
            if not self.enabled or threading.get_ident() != self._owner:
                return self._orig(*args, **kwargs)
            t0 = time.perf_counter()
            try:
                return self._orig(*args, **kwargs)
            finally:
                self.wait_s += time.perf_counter() - t0
                self.calls += 1

        gateway_client.send_command = send_command

    def take(self) -> tuple[int, float]:
        calls, wait = self.calls, self.wait_s
        self.calls, self.wait_s = 0, 0.0
        return calls, wait

    def close(self) -> None:
        self._client.send_command = self._orig


@dataclass
class StreamRecord:
    run_id: str
    batches: list[dict] = field(default_factory=list)


def make_stream_listener(runs: dict[str, StreamRecord], lock: threading.Lock):
    """A ``StreamingQueryListener`` that keeps every progress event of every
    stream, keyed by run id. Progress is read from these events, not by
    polling ``recentProgress`` (a bounded ring that idle triggers
    overwrite)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            with lock:
                runs.setdefault(str(event.runId), StreamRecord(str(event.runId)))

        def onQueryProgress(self, event):
            p = event.progress
            rec = {
                "batch_id": p.batchId,
                "input_rows": p.numInputRows,
                "duration_ms": dict(p.durationMs),
                "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
            }
            with lock:
                runs.setdefault(str(p.runId), StreamRecord(str(p.runId))).batches.append(rec)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Listener()


class Tracer:
    """Collects one query invocation's per-layer record from the JVM."""

    def __init__(self, spark):
        self.spark = spark
        sc = spark.sparkContext
        jvm = sc._jvm
        self._jsc = sc._jsc.sc()
        self._status = self._jsc.statusStore()
        self._sql_status = spark._jsparkSession.sharedState().statusStore()
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        mapper.registerModule(getattr(scala_module, "MODULE$"))
        self._mapper = mapper
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)
        self._gc_beans = list(jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans())
        self.py4j = Py4jCounter(sc._gateway._gateway_client)
        self._streams: dict[str, StreamRecord] = {}
        self._streams_lock = threading.Lock()
        self._listener = make_stream_listener(self._streams, self._streams_lock)
        spark.streams.addListener(self._listener)
        self._drain()
        self._next_job = self._max_job_id() + 1
        self._sql_seen = int(self._sql_status.executionsCount())
        with self._streams_lock:
            self._seen_runs = set(self._streams)

    # -- JVM reads (not counted as the query's py4j calls) -----------------
    def _json(self, scala_obj):
        return json.loads(self._mapper.writeValueAsString(scala_obj))

    def _drain(self) -> None:
        # the status store and the stream listener are fed asynchronously
        # by the listener bus; wait until every event of the query is in
        self._jsc.listenerBus().waitUntilEmpty(60_000)

    def _max_job_id(self) -> int:
        jobs = self._json(self._status.jobsList(None))
        return max((j["jobId"] for j in jobs), default=-1)

    def gc_seconds(self) -> float:
        return sum(b.getCollectionTime() for b in self._gc_beans) / 1000.0

    def _new_jobs(self) -> list[dict]:
        jobs = []
        while True:
            try:
                jobs.append(self._json(self._status.job(self._next_job)))
            except Py4JJavaError:  # no job with that id yet
                return jobs
            self._next_job += 1

    def _stage_records(self, jobs: list[dict], seen: set[int]) -> list[dict]:
        out = []
        for job in jobs:
            for sid in job["stageIds"]:
                if sid in seen:
                    continue
                seen.add(sid)
                attempts = self._json(
                    self._status.stageData(sid, False, None, False, self._no_quantiles)
                )
                out.extend(a for a in attempts if a["status"] != "SKIPPED")
        return out

    def _new_sql_metrics(self) -> dict[str, float]:
        totals = {v: 0.0 for v in PYTHON_SQL_METRICS.values()}
        # execution ids are global to the JVM, so new executions are found
        # by their position in this session's store, not by id
        count = int(self._sql_status.executionsCount())
        new = self._sql_status.executionsList(self._sql_seen, count - self._sql_seen)
        self._sql_seen = count
        for i in range(new.size()):
            ui = new.apply(i)
            wanted = {
                m["accumulatorId"]: (PYTHON_SQL_METRICS[m["name"]], m["metricType"])
                for m in self._json(ui.metrics())
                if m["name"] in PYTHON_SQL_METRICS
            }
            if not wanted:
                continue
            values = self._json(self._sql_status.executionMetrics(ui.executionId()))
            for acc_id, (name, mtype) in wanted.items():
                text = values.get(str(acc_id))
                if text is not None:
                    totals[name] += parse_sql_metric(text, mtype)
        return totals

    # -- one traced invocation ---------------------------------------------
    def collect(self, query: str) -> dict:
        """Everything the status store and listener saw since the previous
        call, attributed to ``query``."""
        self._drain()
        jobs = self._new_jobs()
        with self._streams_lock:
            new_runs = {r: s for r, s in self._streams.items() if r not in self._seen_runs}
            self._seen_runs.update(new_runs)
        by_phase, unattributed = attribute_jobs(jobs, query, set(new_runs))
        seen: set[int] = set()
        # stages of eager jobs are read first, so a stage that an eager job
        # ran and the final plan reuses counts once, under construct
        self._stage_records(by_phase[CONSTRUCT], seen)
        exec_stages = self._stage_records(by_phase[EXECUTE], seen)
        rec = {
            "eager_jobs": len(by_phase[CONSTRUCT]),
            "eager_job_s": sum(_job_seconds(j) for j in by_phase[CONSTRUCT]),
            "exec_jobs": len(by_phase[EXECUTE]),
            "unattributed_jobs": len(unattributed),
            "stages": len(exec_stages),
            "tasks": sum(s["numCompleteTasks"] for s in exec_stages),
            "task_run_s": sum(s["executorRunTime"] for s in exec_stages) / 1e3,
            "task_cpu_s": sum(s["executorCpuTime"] for s in exec_stages) / 1e9,
            "input_bytes": sum(s["inputBytes"] for s in exec_stages),
            "shuffle_read_bytes": sum(s["shuffleReadBytes"] for s in exec_stages),
            "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in exec_stages),
            "spill_bytes": sum(s["diskBytesSpilled"] for s in exec_stages),
        }
        rec.update(self._new_sql_metrics())
        rec.update(_stream_metrics(list(new_runs.values())))
        return rec

    def close(self) -> None:
        self.py4j.close()
        self.spark.streams.removeListener(self._listener)


def _job_seconds(job: dict) -> float:
    start, end = job.get("submissionTime"), job.get("completionTime")
    return (end - start) / 1e3 if start is not None and end is not None else 0.0


def _stream_metrics(runs: list[StreamRecord]) -> dict[str, float]:
    batches = [b for r in runs for b in r.batches]
    trigger = [b["duration_ms"].get("triggerExecution", 0) for b in batches]
    add = [b["duration_ms"].get("addBatch", 0) for b in batches]
    return {
        "batches": len(batches),
        "batch_trigger_ms": trigger,
        "add_batch_ms": float(sum(add)),
        "batch_overhead_ms": float(sum(trigger) - sum(add)),
        "stream_input_rows": sum(b["input_rows"] for b in batches),
        "state_rows": sum(b["state_rows"] for b in batches),
    }
