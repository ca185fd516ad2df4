"""Per-layer tracing for the benchmark: spans and counters taken around the
engine's public calls, by wrapping them from here (no engine code knows
about the tracer).

Wrapped calls:

- ``sources.tables.load_table`` and the names ``sources``, ``plans.base``
  and ``plans.quality`` bind to it at import (the ``sources`` layer);
- ``SessionMemo.get`` / ``SessionMemo.__setitem__`` (memo hits and builds);
- the harness's own calls to ``QuerySpec.fn`` (plan build),
  ``queryExecution().executedPlan()`` (Catalyst) and the ``noop`` write
  (execution) go through :meth:`Tracer.span`.

Every span runs under its own Spark job group, so the jobs, stages and
task metrics it caused are read back from the status tracker and the
application status store once the run is over. Streaming twins carry
their micro-batches from ``StreamingQuery.recentProgress``.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time

import mapreduce_4sl08_spark.plans.base as plans_base
import mapreduce_4sl08_spark.plans.quality as plans_quality
import mapreduce_4sl08_spark.sources as sources
import mapreduce_4sl08_spark.sources.tables as tables

#: per-layer metric name -> unit; the order of the result JSON
LAYER_METRICS: dict[str, str] = {
    "session.start_s": "s",
    "sources.load_table.calls": "count",
    "sources.load_table.s": "s",
    "sources.load_table.jobs": "count",
    "plans.build.s": "s",
    "plans.build.jobs": "count",
    "plans.memo.builds": "count",
    "plans.memo.hits": "count",
    "catalyst.plan.s": "s",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_run_s": "s",
    "exec.task_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.input_bytes": "bytes",
    "exec.slot_busy_share": "share",
    "storage.cached_bytes_peak": "bytes",
    "storage.cached_bytes_end": "bytes",
    "streaming.drain_s": "s",
    "streaming.batches": "count",
    "streaming.batch_p50_ms": "ms",
    "streaming.batch_max_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.commit_ms": "ms",
    "streaming.input_rows": "count",
    "streaming.state_rows": "count",
    "streaming.state_mem_bytes": "bytes",
    "trace.suite_s": "s",
}
#: what :meth:`Tracer.job_metrics` sums over a span's jobs and stages
JOB_KEYS = ("jobs", "stages", "tasks", "run_s", "cpu_s", "gc_s",
            "shuffle_read", "shuffle_write", "spill", "input")


class Tracer:
    """Collects one run's spans. Spans nest through a stack; each span's
    Spark jobs are those submitted under its job group
    ``<run id>/<span id>``, so nested spans (a ``load_table`` inside a
    build) never double-count jobs."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.t0 = time.time()
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.memo_builds = 0
        self.memo_hits = 0
        self.cached_peak = 0
        self._undo: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ spans
    @contextlib.contextmanager
    def span(self, kind: str, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        sp = {"id": len(self.spans), "parent": parent["id"] if parent else None,
              "kind": kind, "name": name, "start_s": time.time() - self.t0,
              "dur_s": 0.0, "attrs": attrs}
        self.spans.append(sp)
        self._stack.append(sp)
        group = f"{self.run_id}/{sp['id']}"
        sp["group"] = group
        self.sc.setJobGroup(group, f"{kind}:{name}")
        t = time.perf_counter()
        try:
            yield sp
        finally:
            sp["dur_s"] = time.perf_counter() - t
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent["group"],
                                    f"{parent['kind']}:{parent['name']}")
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def add_span(self, kind: str, name: str, start_epoch: float, dur_s: float,
                 parent: dict, **attrs) -> None:
        """Record a span measured elsewhere (a streaming micro-batch)."""
        self.spans.append({"id": len(self.spans), "parent": parent["id"],
                           "kind": kind, "name": name,
                           "start_s": start_epoch - self.t0, "dur_s": dur_s,
                           "attrs": attrs})

    def sample_storage(self) -> int:
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        cached = sum(int(i.memSize()) + int(i.diskSize()) for i in infos)
        self.cached_peak = max(self.cached_peak, cached)
        return cached

    # --------------------------------------------------------- wrapping
    def install(self) -> None:
        real_load = tables.load_table

        def load_table(spark, sf_dir, name, *args, **kwargs):
            with self.span("load_table", name):
                return real_load(spark, sf_dir, name, *args, **kwargs)

        for module in (tables, sources, plans_base, plans_quality):
            self._patch(module, "load_table", load_table)

        memo_cls = plans_base.SessionMemo
        real_get, real_set = memo_cls.get, memo_cls.__setitem__
        tracer = self

        def get(memo, key, default=None):
            value = real_get(memo, key, default)
            if value is not default:
                tracer.memo_hits += 1
            return value

        def setitem(memo, key, value):
            tracer.memo_builds += 1
            real_set(memo, key, value)

        self._patch(memo_cls, "get", get)
        self._patch(memo_cls, "__setitem__", setitem)

    def _patch(self, owner, attr: str, value) -> None:
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def uninstall(self) -> None:
        for owner, attr, value in reversed(self._undo):
            setattr(owner, attr, value)
        self._undo.clear()

    # ------------------------------------------------------ job metrics
    def job_metrics(self, group: str) -> dict[str, float]:
        """Jobs, completed stages and their task metrics for one group."""
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        out = dict.fromkeys(JOB_KEYS, 0)
        for job_id in tracker.getJobIdsForGroup(group):
            out["jobs"] += 1
            info = tracker.getJobInfo(job_id)
            for stage_id in (info.stageIds if info else ()):
                try:
                    st = store.lastStageAttempt(stage_id)
                except Exception:  # noqa: BLE001 — evicted or never run
                    continue
                if st.numCompleteTasks() == 0:
                    continue  # skipped: its shuffle output was reused
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                out["run_s"] += st.executorRunTime() / 1e3
                out["cpu_s"] += st.executorCpuTime() / 1e9
                out["gc_s"] += st.jvmGcTime() / 1e3
                out["shuffle_read"] += st.shuffleReadBytes()
                out["shuffle_write"] += st.shuffleWriteBytes()
                out["spill"] += st.diskBytesSpilled()
                out["input"] += st.inputBytes()
        return out

    def wait_for_listeners(self, timeout_ms: int = 10_000) -> None:
        """Let the status store catch up with every finished stage."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(timeout_ms)

    # ---------------------------------------------------------- summary
    def children(self, sp: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == sp["id"]]

    def finish(self) -> None:
        """Self times and per-span job metrics, once, after the run."""
        self.wait_for_listeners()
        for sp in self.spans:
            sp["self_s"] = sp["dur_s"] - sum(c["dur_s"] for c in self.children(sp))
            if "group" in sp:
                sp["jobs"] = self.job_metrics(sp["group"])

    def pass_metrics(self, pass_span: dict, cores: int) -> dict[str, float]:
        """The per-layer metrics of one traced pass (the memo and storage
        counters were stored on the pass span when it ended)."""
        below = self._descendants(pass_span)
        of = lambda kind: [s for s in below if s["kind"] == kind]  # noqa: E731
        loads, builds = of("load_table"), of("build")
        execs, twins = of("exec"), of("twin")
        batches = of("micro_batch")
        ex = _sum_jobs(execs)
        exec_s = sum(s["dur_s"] for s in execs)
        durations = [b["dur_s"] * 1e3 for b in batches]
        m = {
            "sources.load_table.calls": len(loads),
            "sources.load_table.s": sum(s["dur_s"] for s in loads),
            "sources.load_table.jobs": _sum_jobs(loads)["jobs"],
            "plans.build.s": sum(s["self_s"] for s in builds),
            "plans.build.jobs": _sum_jobs(builds)["jobs"],
            "catalyst.plan.s": sum(s["dur_s"] for s in of("plan")),
            "exec.s": exec_s,
            "exec.jobs": ex["jobs"],
            "exec.stages": ex["stages"],
            "exec.tasks": ex["tasks"],
            "exec.task_run_s": ex["run_s"],
            "exec.task_cpu_s": ex["cpu_s"],
            "exec.gc_s": ex["gc_s"],
            "exec.shuffle_read_bytes": ex["shuffle_read"],
            "exec.shuffle_write_bytes": ex["shuffle_write"],
            "exec.spill_bytes": ex["spill"],
            "exec.input_bytes": ex["input"],
            "exec.slot_busy_share": (ex["run_s"] / (exec_s * cores)
                                     if exec_s else 0.0),
            "streaming.drain_s": sum(s["dur_s"] for s in twins),
            "streaming.batches": len(batches),
            "streaming.batch_p50_ms": (statistics.median(durations)
                                       if durations else 0.0),
            "streaming.batch_max_ms": max(durations, default=0.0),
        }
        for key in ("add_batch_ms", "commit_ms", "input_rows"):
            m[f"streaming.{key}"] = sum(b["attrs"][key] for b in batches)
        for key in ("state_rows", "state_mem_bytes"):
            m[f"streaming.{key}"] = max((b["attrs"][key] for b in batches),
                                        default=0)
        m.update(pass_span["attrs"])
        return m

    def _descendants(self, root: dict) -> list[dict]:
        ids, out = {root["id"]}, []
        for sp in self.spans[root["id"] + 1:]:
            if sp["parent"] in ids:
                ids.add(sp["id"])
                out.append(sp)
        return out

    def write(self, path: str, meta: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        spans = [{k: v for k, v in sp.items() if k != "group"}
                 for sp in self.spans]
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, **meta, "spans": spans}, f)


def _sum_jobs(spans: list[dict]) -> dict[str, float]:
    return {k: sum(sp["jobs"][k] for sp in spans) for k in JOB_KEYS}


def micro_batch_attrs(progress: dict) -> dict[str, float]:
    """The counters of one ``StreamingQuery.recentProgress`` entry."""
    d = progress.get("durationMs", {})
    state = progress.get("stateOperators", [])
    return {
        "batch_id": progress.get("batchId"),
        "add_batch_ms": d.get("addBatch", 0),
        "commit_ms": d.get("walCommit", 0) + d.get("commitOffsets", 0),
        "input_rows": progress.get("numInputRows", 0),
        "state_rows": sum(s.get("numRowsTotal", 0) for s in state),
        "state_mem_bytes": sum(s.get("memoryUsedBytes", 0) for s in state),
    }
