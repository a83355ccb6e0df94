"""Traced crawl runs: spans around the engine's public calls, job groups
set inside each wrapped call, and stage and SQL Python metrics read back
from Spark's status stores after the run.

Every wrapped call tags the jobs it submits with the Spark job group
``<tag>:<wave>``. The waves are ``start`` (seed expansion and the round-0
frontier write), ``wave2a`` (the seen write, which materializes the
fetch-join, the extraction and the winner), ``wave2b`` (the results,
http_log, dns_log and next-frontier writes) and ``round`` (any other job
inside ``run``). Appends made inside ``start`` stay in ``start``.
"""

from __future__ import annotations

import contextlib
import threading
import time

from measure import covered, parse_metric

JOB_GROUP = "spark.jobGroup.id"
WAVES = ("start", "wave2a", "wave2b")
STAGE_FIELDS = ("run_s", "cpu_s", "shuffle_write_mb", "shuffle_read_mb",
                "spill_mb", "tasks", "task_skew")
PYTHON_METRICS = {
    "time to start Python workers": "python.boot_s",
    "time to initialize Python workers": "python.init_s",
    "time to run Python workers": "python.total_s",
    "data sent to Python workers": "python.data_sent_mb",
    "data returned from Python workers": "python.data_received_mb",
}
MB = 2.0 ** 20


class Tracer:
    """Spans and job groups for one traced crawl. ``tag`` must be unique
    within the Spark application."""

    def __init__(self, spark, tag: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.tag = tag
        self.spans: list[tuple[str, float, float]] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    def wrap(self, name, fn, group, claims_children: bool = False):
        """Wrap ``fn`` in a span and a job group. ``name`` and ``group``
        are strings or functions of the call's positional arguments. A
        call made while a ``claims_children`` call is active on the same
        thread keeps that call's group."""
        def wrapped(*args, **kwargs):
            outer = getattr(self._local, "claim", None)
            g = outer or (group(*args) if callable(group) else group)
            prev = self.sc.getLocalProperty(JOB_GROUP)
            self.sc.setLocalProperty(JOB_GROUP, f"{self.tag}:{g}")
            if claims_children:
                self._local.claim = g
            t0 = time.time()
            try:
                return fn(*args, **kwargs)
            finally:
                t1 = time.time()
                self._local.claim = outer
                self.sc.setLocalProperty(JOB_GROUP, prev)
                span = name(*args) if callable(name) else name
                with self._lock:
                    self.spans.append((span, t0, t1))
        return wrapped

    def instrument(self, eng):
        """Wrap the engine's start, table appends and round commits. Returns
        the wrapped ``run``."""
        eng.start = self.wrap("crawl.start", eng.start, "start",
                              claims_children=True)
        eng.io.append = self.wrap(
            lambda table, *_: f"tableio.append_{table}", eng.io.append,
            lambda table, *_: "wave2a" if table == "seen" else "wave2b")
        eng.io.commit_round = self.wrap("tableio.commit",
                                        eng.io.commit_round, "commit")
        return self.wrap("crawl.run", eng.run, "round")

    @contextlib.contextmanager
    def bank_builds(self):
        """Wrap ``operators.seen.build_bank_distributed`` while active."""
        from subdomain_crawler_spark.operators import seen

        orig = seen.build_bank_distributed
        seen.build_bank_distributed = self.wrap("seen.bank_build", orig,
                                                "bank")
        try:
            yield
        finally:
            seen.build_bank_distributed = orig

    def span_total(self, name: str) -> float:
        return sum(t1 - t0 for n, t0, t1 in self.spans if n == name)

    def span_count(self, name: str) -> int:
        return sum(1 for n, *_ in self.spans if n == name)

    # -- read-back -------------------------------------------------------

    def _jobs(self):
        """(job id, wave or None, start s, end s, stage ids) of every
        finished job in the application."""
        store = self.sc._jsc.sc().statusStore()
        jobs = store.jobsList(None)
        out = []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            sub, done = j.submissionTime(), j.completionTime()
            if not (sub.isDefined() and done.isDefined()):
                continue
            g = j.jobGroup()
            g = g.get() if g.isDefined() else ""
            wave = g.split(":", 1)[1] if g.startswith(self.tag + ":") else None
            ids = j.stageIds()
            out.append((j.jobId(), wave, sub.get().getTime() / 1e3,
                        done.get().getTime() / 1e3,
                        [ids.apply(k) for k in range(ids.size())]))
        return out

    def _stage_metrics(self, jobs) -> dict[str, float]:
        store = self.sc._jsc.sc().statusStore()
        jvm = self.sc._jvm
        quantiles = self.sc._gateway.new_array(jvm.double, 2)
        quantiles[0], quantiles[1] = 0.5, 1.0
        out = {f"spark.{w}.{f}": 0.0 for w in WAVES for f in STAGE_FIELDS}
        longest: dict[str, tuple[int, int, int]] = {}
        counted = set()
        for _, wave, _, _, stage_ids in sorted(jobs):
            if wave not in WAVES:
                continue
            for sid in stage_ids:
                if sid in counted:
                    continue
                st = store.lastStageAttempt(sid)
                if st.status().toString() != "COMPLETE":
                    continue
                counted.add(sid)
                p = f"spark.{wave}."
                out[p + "run_s"] += st.executorRunTime() / 1e3
                out[p + "cpu_s"] += st.executorCpuTime() / 1e9
                out[p + "shuffle_write_mb"] += st.shuffleWriteBytes() / MB
                out[p + "shuffle_read_mb"] += st.shuffleReadBytes() / MB
                out[p + "spill_mb"] += st.diskBytesSpilled() / MB
                out[p + "tasks"] += st.numCompleteTasks()
                if st.executorRunTime() > longest.get(wave, (-1,))[0]:
                    longest[wave] = (st.executorRunTime(), sid,
                                     st.attemptId())
        # skew of each wave's longest stage: max over median task run time
        for wave, (_, sid, attempt) in longest.items():
            summary = store.taskSummary(sid, attempt, quantiles)
            if summary.isDefined():
                rt = summary.get().executorRunTime()
                out[f"spark.{wave}.task_skew"] = rt.apply(1) / max(
                    rt.apply(0), 1.0)
        return out

    def _python_metrics(self, job_ids: set[int]) -> dict[str, float]:
        store = self.spark._jsparkSession.sharedState().statusStore()
        out = {v: 0.0 for v in PYTHON_METRICS.values()}
        execs = store.executionsList()
        for i in range(execs.size()):
            e = execs.apply(i)
            ids = {int(x) for x in e.jobs().keySet().mkString(",").split(",")
                   if x}
            if not ids & job_ids:
                continue
            values = store.executionMetrics(e.executionId())
            seen = set()
            metrics = e.metrics()
            for k in range(metrics.size()):
                m = metrics.apply(k)
                key = PYTHON_METRICS.get(m.name())
                # AQE re-plans list one accumulator several times
                if key is None or m.accumulatorId() in seen:
                    continue
                seen.add(m.accumulatorId())
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    out[key] += parse_metric(v.get())
        for key in out:
            if key.endswith("_mb"):
                out[key] /= MB
        return out

    def read_back(self) -> dict[str, float]:
        """Per-wave stage metrics, Python UDF metrics and the driver's
        serial time inside ``crawl.run`` (its wall not covered by any job)."""
        jobs = self._jobs()
        mine = [j for j in jobs if j[1] is not None]
        out = self._stage_metrics(mine)
        out.update(self._python_metrics({j[0] for j in mine}))
        serial = 0.0
        for name, t0, t1 in self.spans:
            if name == "crawl.run":
                serial += (t1 - t0) - covered(
                    [(s, e) for _, _, s, e, _ in jobs], t0, t1)
        out["driver.serial_s"] = serial
        return out
