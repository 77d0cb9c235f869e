"""Shared benchmark plumbing: the host-pinned Spark session, in-memory
spans, per-call Spark execution metrics read from the status store, and
the latency statistics every workload reports."""

from __future__ import annotations

import itertools
import json
import os
import statistics
import time
import uuid
from contextlib import contextmanager


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------

def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def interquartile_mean(xs) -> float:
    """Mean of the middle half of the sample (all of it below four).
    Unlike the median it moves smoothly with the mix of a multi-modal
    sample, such as requests of several routes, and unlike the mean it
    ignores the slowest quarter, such as passes that met a busy host."""
    s = sorted(xs)
    cut = len(s) // 4
    return statistics.fmean(s[cut:len(s) - cut]) if s else 0.0


def percentile(xs, q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty sample."""
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, int(-(-q * len(s) // 100)) - 1))]


TAIL_LEVELS = (99.9, 99.0, 95.0, 90.0, 75.0)


def tail(xs, min_beyond: int = 10) -> dict:
    """The highest percentile with at least ``min_beyond`` samples above
    it, with that percentile's level and the sample count; the maximum
    (level 100) when even p75 has fewer beyond it."""
    for q in TAIL_LEVELS:
        if len(xs) * (100.0 - q) / 100.0 >= min_beyond:
            return {"value": percentile(xs, q), "pct": q, "n": len(xs)}
    return {"value": max(xs) if xs else 0.0, "pct": 100.0, "n": len(xs)}


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------

class Tracer:
    """Spans held in memory and written once at the end. A disabled
    tracer records nothing, so untraced runs pay only a no-op."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._ids = itertools.count(1)

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = next(self._ids)
        rec = {"id": sid, "run": self.run_id, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def record(self, name: str, start: float, end: float, parent: int | None,
               **attrs) -> None:
        """Add a span measured elsewhere (on the same clock)."""
        if self.enabled:
            self.spans.append({"id": next(self._ids), "run": self.run_id, "name": name,
                               "parent": parent, "start": start, "end": end, **attrs})

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


# ---------------------------------------------------------------------------
# Spark session and execution metrics
# ---------------------------------------------------------------------------

def start_spark(cores: int, work_dir: str):
    """A fresh ``local[cores]`` session with ``shuffle.partitions`` =
    cores; its warehouse stays under ``work_dir`` (temporary space comes
    from ``SPARK_LOCAL_DIRS``)."""
    from medallion_data_lake_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.sql.shuffle.partitions": str(cores),
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


EXEC_KEYS = ("run_s", "jobs", "stages", "tasks", "task_s", "shuffle_read_bytes",
             "shuffle_write_bytes", "spill_bytes", "longest_task_s")


class ExecProbe:
    """Attributes Spark jobs to one timed call through ``spark.addTag``
    and reads the call's stages from the JVM status store, which is
    populated with the UI disabled. A disabled probe tags nothing."""

    def __init__(self, spark, cores: int, enabled: bool):
        self.spark = spark
        self.cores = cores
        self.enabled = enabled
        self.acc = dict.fromkeys(EXEC_KEYS, 0)
        if not enabled:
            return
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()
        self._n = itertools.count()
        self._walls: dict[str, float] = {}
        self._prefix = ""
        with self.tagged() as tag:
            spark.range(1).count()
        self._prefix = self._learn_prefix(tag)

    def _learn_prefix(self, tag: str) -> str:
        # spark.addTag scopes the tag to this session and thread; the
        # job carries it as "<session/thread prefix>-<tag>"
        self._sc.listenerBus().waitUntilEmpty()
        jobs = self._store.jobsList(None)
        for i in range(jobs.size()):
            tags = jobs.apply(i).jobTags()
            for k in range(tags.size()):
                t = tags.apply(k)
                if t.endswith("-" + tag):
                    return t[: -len(tag)]
        raise RuntimeError("spark.addTag did not reach the job tags")

    @contextmanager
    def tagged(self):
        if not self.enabled:
            yield None
            return
        tag = f"perfbench-{next(self._n)}"
        self.spark.addTag(tag)
        t0 = time.perf_counter()
        try:
            yield tag
        finally:
            self._walls[tag] = time.perf_counter() - t0
            self.spark.removeTag(tag)

    def collect(self, tag, run_s: float | None = None) -> dict | None:
        """Add the execution metrics of every job run under ``tag`` to
        the running totals; returns that call's own figures. ``run_s``,
        when given, replaces the call's wall as its execution time."""
        if not self.enabled:
            return None
        self._sc.listenerBus().waitUntilEmpty()
        job_ids = self._sc.statusTracker().getJobIdsForTag(self._prefix + tag)
        one = dict.fromkeys(EXEC_KEYS, 0)
        wall = self._walls.pop(tag)
        one["run_s"] = wall if run_s is None else run_s
        gw = self.spark.sparkContext._gateway
        q = gw.new_array(self.spark._jvm.double, 1)
        q[0] = 1.0
        for jid in job_ids:
            one["jobs"] += 1
            sids = self._store.job(jid).stageIds()
            for k in range(sids.size()):
                st = self._store.lastStageAttempt(sids.apply(k))
                if st.numTasks() == 0 or str(st.status()) == "SKIPPED":
                    continue
                one["stages"] += 1
                one["tasks"] += st.numTasks()
                one["task_s"] += st.executorRunTime() / 1000.0
                one["shuffle_read_bytes"] += st.shuffleReadBytes()
                one["shuffle_write_bytes"] += st.shuffleWriteBytes()
                one["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                dist = self._store.taskSummary(st.stageId(), st.attemptId(), q)
                if dist.isDefined():
                    longest = dist.get().executorRunTime().apply(0) / 1000.0
                    one["longest_task_s"] = max(one["longest_task_s"], longest)
        for k in EXEC_KEYS:
            self.acc[k] = max(self.acc[k], one[k]) if k == "longest_task_s" \
                else self.acc[k] + one[k]
        return one

    def metrics(self, per: int = 1) -> dict:
        """``exec.*`` per-layer metrics: totals divided by ``per`` (the
        number of passes); core use and the longest task as measured."""
        out = {f"exec.{k}": v if k == "longest_task_s" else v / per
               for k, v in self.acc.items()}
        run_s = self.acc["run_s"]
        out["exec.core_use"] = self.acc["task_s"] / (run_s * self.cores) if run_s else 0.0
        return out


class ExecutionListener:
    """Each finished query execution's Catalyst planning phases, read
    from its own ``QueryPlanningTracker``, and its duration as Spark
    measures it (planning plus execution). A noop write plans and runs
    inside the write, in a query execution of its own, so the write is
    timed as one call and split with these figures afterwards.
    Registered through the py4j callback server; ``onSuccess`` runs on
    the listener bus."""

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(spark.sparkContext._gateway)
        self._bus = spark.sparkContext._jsc.sc().listenerBus()
        self._done: list[dict] = []
        spark._jsparkSession.listenerManager().register(self)

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java interface)
        phases = []
        it = qe.tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            phases.append((kv._1(), kv._2().startTimeMs(), kv._2().endTimeMs()))
        self._done.append({"phases": phases, "duration_s": duration_ns / 1e9})

    def onFailure(self, func_name, qe, exception):  # noqa: N802 (Java interface)
        pass

    def take(self) -> list[dict]:
        """Every execution finished since the last call: its (phase,
        start ms, end ms) phases on the epoch clock and its duration."""
        self._bus.waitUntilEmpty()
        out, self._done = self._done, []
        return out

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``, data files only."""
    n = size = 0
    for root, _, files in os.walk(path):
        for f in files:
            if f.startswith(".") or f.startswith("_"):
                continue
            size += os.path.getsize(os.path.join(root, f))
            n += 1
    return size, n


class Deadline:
    def __init__(self, seconds: float):
        self.end = time.perf_counter() + seconds

    def left(self) -> float:
        return self.end - time.perf_counter()
