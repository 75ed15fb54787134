"""Spans around the benchmark's calls into each layer, and the Spark
status-store reads that turn them into per-layer numbers.

A span holds its name, start, end, parent and operation id; spans stay
in memory and are written out when the run ends. A span tags the jobs
it launches from the driver thread with ``sc.setJobGroup``. Jobs
launched from other driver threads (the suite materializes its checks
on an executor-pool thread, which does not inherit the group) carry no
group and are given to the innermost span whose interval holds their
submission time. That is sound because the benchmark is a closed loop
with one client: nothing else submits jobs inside a span.

Everything here reads the JVM's in-memory stores (the application
status store and the SQL status store, both kept with the UI disabled,
reading only jobs, stages and executions added since the previous read):
no read launches a Spark job, and ``Tracer.read`` counts the jobs in
the store before and after to show it.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

# Spark renders SQL metric totals as strings ("2.4 s", "1587.7 KiB",
# "100,000", or "total (min, med, max ...)\n2.3 MiB (...)"); these scale
# them to seconds and bytes.
_UNITS = {
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0 ** 2, "GiB": 1024.0 ** 3,
    "TiB": 1024.0 ** 4, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}


def metric_value(text: str | None) -> float:
    """Total of one SQL metric as the SQL status store renders it."""
    if not text:
        return 0.0
    head = text.strip().split("\n")[-1].split(" (")[0].split()
    if not head:
        return 0.0
    try:
        num = float(head[0].replace(",", ""))
    except ValueError:
        return 0.0
    return num * _UNITS.get(head[1], 1.0) if len(head) > 1 else num


# the plan-node metrics read from the SQL store, by node name
_NODES = {
    "FlatMapGroupsInPandas": {
        "time to start Python workers", "time to initialize Python workers",
        "time to run Python workers", "data sent to Python workers",
        "data returned from Python workers",
    },
    "Exchange": {"shuffle bytes written", "fetch wait time"},
}


@dataclass
class Span:
    sid: int
    name: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0
    group: str = ""
    jobs: list = field(default_factory=list)


def _seq(s) -> list:
    """A Scala Seq from py4j as a Python list."""
    return [s.apply(i) for i in range(s.size())]


def _opt(o, default=None):
    return o.get() if o.isDefined() else default


class Tracer:
    """Records spans for one Spark session and reads the stores."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.store_read_jobs = 0
        self.store_read_s: list[float] = []
        self._jvm = self.sc._jvm
        # reads are incremental: jobs and SQL executions already read
        self._jobs_seen = 0
        self._execs_seen = 0

    @contextmanager
    def span(self, name: str, op: int):
        sid = len(self.spans)
        s = Span(sid, name, op, self._stack[-1] if self._stack else None, time.time())
        s.group = f"perfbench-{op}-{sid}"
        self.spans.append(s)
        self._stack.append(sid)
        self.sc.setJobGroup(s.group, name, False)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if self._stack:
                p = self.spans[self._stack[-1]]
                self.sc.setJobGroup(p.group, p.name, False)
            else:
                self.sc._jsc.clearJobGroup()

    # ---- store reads -----------------------------------------------------
    def _drain(self) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def _store(self):
        return self.sc._jsc.sc().statusStore()

    def _jobs(self, since: int) -> list[dict]:
        """Jobs with id >= ``since`` (the store lists newest first)."""
        out = []
        it = self._store().jobsList(None).iterator()
        while it.hasNext():
            j = it.next()
            if j.jobId() < since:
                break
            sub = _opt(j.submissionTime())
            done = _opt(j.completionTime())
            out.append({
                "id": j.jobId(),
                "group": _opt(j.jobGroup(), ""),
                "t0": sub.getTime() / 1000.0 if sub is not None else 0.0,
                "t1": done.getTime() / 1000.0 if done is not None else 0.0,
                "stages": list(_seq(j.stageIds())),
            })
        return out

    def _stages(self, ids) -> dict[int, dict]:
        """Stage sums over every attempt of each stage in ``ids``."""
        jvm = self._jvm
        out: dict[int, dict] = {}
        for sid in ids:
            d = out[sid] = {
                "attempts": [], "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
                "spill_bytes": 0.0, "peak_mem": 0.0, "shuffle_write": 0.0,
            }
            for s in _seq(self._store().stageData(
                sid, False, jvm.java.util.ArrayList(), False,
                self.sc._gateway.new_array(jvm.double, 0),
            )):
                d["attempts"].append(s.attemptId())
                d["run_s"] += s.executorRunTime() / 1000.0
                d["cpu_s"] += s.executorCpuTime() / 1e9
                d["gc_s"] += s.jvmGcTime() / 1000.0
                d["spill_bytes"] += float(s.memoryBytesSpilled() + s.diskBytesSpilled())
                d["peak_mem"] = max(d["peak_mem"], float(s.peakExecutionMemory()))
                d["shuffle_write"] += float(s.shuffleWriteBytes())
        return out

    def _task_skew(self, stage_id: int, attempt: int) -> float:
        """Max over median task run time of one stage attempt."""
        q = self.sc._gateway.new_array(self._jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        dist = _opt(self._store().taskSummary(stage_id, attempt, q))
        if dist is None:
            return 0.0
        rt = dist.executorRunTime()
        med, mx = rt.apply(0), rt.apply(1)
        return mx / med if med > 0 else 0.0

    def _executions(self, job_ids: set) -> list[dict]:
        """SQL executions added since the last read that ran any of
        ``job_ids``, with the totals of the node metrics read here."""
        sql = self.spark._jsparkSession.sharedState().statusStore()
        n = sql.executionsCount()
        out = []
        for e in _seq(sql.executionsList(self._execs_seen, n - self._execs_seen)):
            jobs = set(int(k) for k in _seq(e.jobs().keys().toSeq()))
            if not jobs & job_ids:
                continue
            eid = e.executionId()
            vals = sql.executionMetrics(eid)
            nodes = []
            for node in _seq(sql.planGraph(eid).allNodes()):
                name = node.name()
                if name not in _NODES:
                    continue
                for m in _seq(node.metrics()):
                    if m.name() in _NODES[name]:
                        v = vals.get(m.accumulatorId())
                        nodes.append((name, m.name(), metric_value(_opt(v))))
            out.append({"id": eid, "jobs": jobs, "nodes": nodes})
        self._execs_seen = n
        return out

    def read(self, op: int) -> dict:
        """Per-span store data for every span of operation ``op``:
        jobs, stage sums, and SQL node metric totals."""
        t = time.perf_counter()
        self._drain()
        n_before = self._store().jobsList(None).size()
        jobs = self._jobs(self._jobs_seen)
        self._jobs_seen = max((j["id"] + 1 for j in jobs), default=self._jobs_seen)
        spans = [s for s in self.spans if s.op == op]
        for j in jobs:
            owner = next((s for s in spans if j["group"] and s.group == j["group"]), None)
            if owner is None and not j["group"]:
                inside = [s for s in spans if s.start <= j["t0"] <= s.end]
                owner = inside[-1] if inside else None  # innermost: opened last
            if owner is not None:
                owner.jobs.append(j)
        op_jobs = [j for s in spans for j in s.jobs]
        stages = self._stages({sid for j in op_jobs for sid in j["stages"]})
        execs = self._executions({j["id"] for j in op_jobs})
        self._drain()
        self.store_read_jobs += self._store().jobsList(None).size() - n_before
        self.store_read_s.append(time.perf_counter() - t)
        return {"spans": spans, "stages": stages, "execs": execs}

    # ---- per-span aggregates ---------------------------------------------
    def span_jobs(self, data: dict, root: Span) -> list[dict]:
        """Jobs of a span and all its descendants."""
        out = []
        for s in data["spans"]:
            i = s.sid
            while i is not None and i != root.sid:
                i = self.spans[i].parent
            if i == root.sid:
                out.extend(s.jobs)
        return out

    def summarize(self, data: dict, s: Span) -> dict:
        """wall, job count, driver gap, stage sums and SQL node totals."""
        jobs = self.span_jobs(data, s)
        wall = s.end - s.start
        # driver gap: span time that no job interval covers
        ivs = sorted((max(j["t0"], s.start), min(j["t1"] or s.end, s.end)) for j in jobs)
        covered, cur0, cur1 = 0.0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur1 is None or a > cur1:
                if cur1 is not None:
                    covered += cur1 - cur0
                cur0, cur1 = a, b
            else:
                cur1 = max(cur1, b)
        if cur1 is not None:
            covered += cur1 - cur0
        stage_ids = {sid for j in jobs for sid in j["stages"]}
        st = [data["stages"][i] for i in stage_ids if i in data["stages"]]
        job_ids = {j["id"] for j in jobs}
        execs = [e for e in data["execs"] if e["jobs"] & job_ids]
        return {
            "wall_s": wall,
            "jobs": len(jobs),
            "driver_gap_s": max(0.0, wall - covered),
            "executor_run_s": sum(x["run_s"] for x in st),
            "executor_cpu_s": sum(x["cpu_s"] for x in st),
            "gc_s": sum(x["gc_s"] for x in st),
            "spill_bytes": sum(x["spill_bytes"] for x in st),
            "peak_exec_mem_bytes": max((x["peak_mem"] for x in st), default=0.0),
            "shuffle_write_bytes": sum(x["shuffle_write"] for x in st),
            "execs": execs,
        }

    def node_total(self, execs: list[dict], node: str, metric: str) -> float:
        return sum(v for e in execs for n, m, v in e["nodes"] if n == node and m == metric)

    def grouped_map(self, data: dict, s: Span) -> dict:
        """Python-boundary metrics of the span's grouped-map executions
        (plans holding a FlatMapGroupsInPandas node): worker start/init/
        run time, Arrow bytes each way, exchange bytes written, and the
        task skew of the costliest stage of those executions."""
        summ = self.summarize(data, s)
        gm = [e for e in summ["execs"] if any(n == "FlatMapGroupsInPandas" for n, _, _ in e["nodes"])]
        node = "FlatMapGroupsInPandas"
        gm_jobs = set().union(*(e["jobs"] for e in gm)) if gm else set()
        stage_ids = {sid for j in self.span_jobs(data, s) if j["id"] in gm_jobs for sid in j["stages"]}
        hot = max(
            (i for i in stage_ids if i in data["stages"]),
            key=lambda i: data["stages"][i]["run_s"], default=None,
        )
        skew = 0.0
        if hot is not None:
            skew = self._task_skew(hot, max(data["stages"][hot]["attempts"], default=0))
        return {
            "py_start_s": self.node_total(gm, node, "time to start Python workers"),
            "py_init_s": self.node_total(gm, node, "time to initialize Python workers"),
            "py_run_s": self.node_total(gm, node, "time to run Python workers"),
            "py_bytes_sent": self.node_total(gm, node, "data sent to Python workers"),
            "py_bytes_returned": self.node_total(gm, node, "data returned from Python workers"),
            "shuffle_write_bytes": self.node_total(gm, "Exchange", "shuffle bytes written"),
            "task_skew": skew,
        }

    def dump(self) -> list[dict]:
        out = []
        for s in self.spans:
            d = asdict(s)
            d["jobs"] = [j["id"] for j in s.jobs]
            out.append(d)
        return out
