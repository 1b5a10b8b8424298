"""Per-layer tracing for the traced run (``--trace 1``).

Two sources, both driven from the benchmark's own files; no engine code is
changed:

- ``LayerTracer`` wraps the public entry points of ``sources.catalog.Catalog``
  and ``operators.graph.connected_components`` for the life of the traced run
  and records, per layer, the number of calls and the time spent in the
  outermost call of each thread.
- ``SparkJobs`` reads Spark's status store (``sc._jsc.sc().statusStore()``,
  available with the UI disabled) after each operation. Jobs are attributed
  by the job IDs the operation added, then grouped by their job group: the
  pipeline tags every job of a stage with the stage's name, and those names
  repeat across runs, so group alone cannot tell one run from the next.
"""

from __future__ import annotations

import functools
import threading
import time
from collections import defaultdict

CATALOG_COMMITS = ("overwrite", "delete_insert", "merge_upsert", "append", "append_rows",
                   "merge_upsert_rows")
CATALOG_READS = ("read", "read_rows", "read_slice_for", "row_count")

STAGES = ("entity_extraction", "identifier_extraction", "edge_building", "edge_merge",
          "label_propagation", "membership_update", "golden_profile", "output_write")
STAGE_FIELDS = ("jobs", "tasks", "task_s", "cpu_s", "gc_s", "shuffle_read_bytes",
                "shuffle_write_bytes", "spill_bytes")


class LayerTracer:
    """Call counts and busy seconds at the catalog and graph boundaries."""

    def __init__(self):
        self.calls: dict[str, int] = defaultdict(int)
        self.seconds: dict[str, float] = defaultdict(float)
        self.cc_rounds = 0
        self.cc_paths: dict[str, int] = defaultdict(int)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []

    def _wrap(self, layer: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            depth = getattr(tracer._local, "depth", 0)
            tracer._local.depth = depth + 1
            t0 = time.perf_counter()
            try:
                out = fn(*args, **kwargs)
            finally:
                t1 = time.perf_counter()
                tracer._local.depth = depth
                if depth == 0:
                    # nested public calls (overwrite -> _commit_buckets -> ...)
                    # are inside the outer span; count each boundary once
                    with tracer._lock:
                        tracer.calls[layer] += 1
                        tracer.seconds[layer] += t1 - t0
            if layer == "graph.cc" and depth == 0:
                with tracer._lock:
                    tracer.cc_rounds += int(getattr(out, "iterations", 0) or 0)
                    tracer.cc_paths[str(getattr(out, "path", ""))] += 1
            return out

        return traced

    def _patch(self, owner, name: str, layer: str) -> None:
        orig = getattr(owner, name)
        self._undo.append((owner, name, orig))
        setattr(owner, name, self._wrap(layer, orig))

    def install(self) -> "LayerTracer":
        from sql_identity_resolution_spark.operators import graph
        from sql_identity_resolution_spark.plans import testdata_queries
        from sql_identity_resolution_spark.sources.catalog import Catalog

        for name in CATALOG_COMMITS:
            self._patch(Catalog, name, "catalog.commit")
        for name in CATALOG_READS:
            self._patch(Catalog, name, "catalog.read")
        # the pipeline calls graph.connected_components through the module;
        # the declared queries imported the name, so patch both references
        # with the same wrapper
        orig = graph.connected_components
        wrapped = self._wrap("graph.cc", orig)
        for owner in (graph, testdata_queries):
            self._undo.append((owner, "connected_components", orig))
            setattr(owner, "connected_components", wrapped)
        return self

    def uninstall(self) -> None:
        for owner, name, orig in reversed(self._undo):
            setattr(owner, name, orig)
        self._undo.clear()


def _opt(o):
    """scala.Option -> python value or None."""
    return o.get() if o.isDefined() else None


class SparkJobs:
    """Status-store reader: per-group Spark metrics of the jobs an operation
    added."""

    def __init__(self, spark):
        self._store = spark.sparkContext._jsc.sc().statusStore()
        self._seen = -1
        self._seen = max((j.jobId() for j in self._new_jobs()), default=-1)
        self.collect_s = 0.0

    def _new_jobs(self) -> list:
        """Jobs with an ID above the last one seen (the store lists newest
        first)."""
        seq = self._store.jobsList(None)
        out = []
        for i in range(seq.size()):
            j = seq.apply(i)
            if j.jobId() <= self._seen:
                break
            out.append(j)
        return out

    def _settled(self, jobs) -> bool:
        return all(str(j.status()) != "RUNNING" for j in jobs)

    def collect(self, settle_timeout: float = 3.0) -> dict[str, dict[str, float]]:
        """Metrics of the jobs added since the previous call, keyed by job
        group ('' for jobs that ran outside any group). The listener bus
        updates the store asynchronously, so wait until the new jobs stop
        changing before reading them."""
        t0 = time.perf_counter()
        deadline = t0 + settle_timeout
        prev = None
        while True:
            jobs = self._new_jobs()
            ids = tuple(sorted(j.jobId() for j in jobs))
            if (ids == prev and self._settled(jobs)) or time.perf_counter() > deadline:
                break
            prev = ids
            time.sleep(0.05)
        out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(STAGE_FIELDS, 0.0))
        stages_seen: set[int] = set()
        for j in sorted(jobs, key=lambda j: j.jobId()):
            group = _opt(j.jobGroup()) or ""
            agg = out[group]
            agg["jobs"] += 1
            sids = j.stageIds()
            for k in range(sids.size()):
                sid = sids.apply(k)
                if sid in stages_seen:
                    continue
                stages_seen.add(sid)
                try:
                    st = self._store.lastStageAttempt(sid)
                except Exception:  # stage evicted from the store or never submitted
                    continue
                agg["tasks"] += st.numCompleteTasks()
                agg["task_s"] += st.executorRunTime() / 1e3
                agg["cpu_s"] += st.executorCpuTime() / 1e9
                agg["gc_s"] += st.jvmGcTime() / 1e3
                agg["shuffle_read_bytes"] += st.shuffleReadBytes()
                agg["shuffle_write_bytes"] += st.shuffleWriteBytes()
                agg["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        if jobs:
            self._seen = max(ids)
        self.collect_s += time.perf_counter() - t0
        return dict(out)
