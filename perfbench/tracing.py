"""Outside-in layer spans for the traced run.

Spans are recorded from the benchmark's side only: ``Tracer.wrap`` swaps a
public function or method of the package for a wrapper that opens a span
around the call, and ``Tracer.unwrap`` restores the original. Nothing in the
package changes.

Each span gets its own Spark job group (a thread-local property, so spans on
HTTP handler threads attribute their own jobs). After the run:

* ``jobs``, ``stages`` and ``tasks`` come from ``statusTracker()``;
* ``executor_cpu_s``, ``shuffle_write_bytes`` and ``output_bytes`` come from
  the uncompressed, non-rolling event log, keyed by the job group that
  submitted each stage;
* ``driver_s`` is the span's wall time minus the union of its jobs' run
  intervals (Python, Catalyst, py4j and file listing);
* ``self_s`` is the span's wall time minus the part its child spans cover.

Job counters are inclusive: a span counts the jobs of its child spans too.
Spans stay in memory until ``layers.report`` runs at the end of the benchmark.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

STAGES = ("extract", "page_index", "triples", "link", "canonicalize", "edges", "nodes")
WAREHOUSE_METHODS = ("commit", "read", "record_lineage", "record_metrics",
                     "commit_checkpoint", "stage_committed", "upsert_buckets")
CMDS = ("search", "graph", "context", "stats")

# span name → counters reported for it
SPAN_COUNTERS: dict[str, tuple[str, ...]] = {
    "session.get_spark": ("wall_s",),
    "plans.pipeline.build_graph": ("self_s", "jobs"),
    "plans.pipeline.linker_stages": ("self_s", "jobs"),
    **{f"plans.pipeline.stage.{s}": ("self_s", "jobs", "tasks", "executor_cpu_s",
                                     "shuffle_write_bytes", "driver_s") for s in STAGES},
    **{f"sources.catalog.Warehouse.{m}": ("self_s", "jobs", "output_bytes")
       for m in WAREHOUSE_METHODS},
    "operators.incremental.incremental_update": ("self_s", "jobs", "executor_cpu_s", "driver_s"),
    "http_api.AciHttpServer._route": ("self_s",),
    **{f"cli.cmd_{c}": ("self_s", "jobs", "tasks", "executor_cpu_s", "driver_s", "p90_ms")
       for c in CMDS},
    "operators.pagerank.pagerank": ("wall_s", "jobs"),
}

# metrics measured by the workloads themselves, not from spans
EXTRA_METRICS: dict[str, tuple[str, str]] = {
    "functions.textextract.extract_text.us_per_page": ("us", "lower"),
    "functions.openie.extract_triples_from_text.us_per_page_regex": ("us", "lower"),
    "functions.openie.extract_triples_from_text.us_per_page_ac": ("us", "lower"),
    "functions.openie.build_matcher.ms": ("ms", "lower"),
    "sources.catalog.upsert_buckets.rewritten_ratio": ("ratio", "lower"),
    "sources.catalog.upsert_buckets.idx_files": ("count", "lower"),
    "operators.incremental.touched_ratio": ("ratio", "lower"),
    "tracing_overhead_pct": ("%", "lower"),
    "plans.pipeline.scaling_eff_1_4": ("ratio", "higher"),
}

COUNTER_UNITS = {
    "wall_s": "s", "self_s": "s", "driver_s": "s", "executor_cpu_s": "s",
    "jobs": "count", "tasks": "count", "shuffle_write_bytes": "B",
    "output_bytes": "B", "p90_ms": "ms",
}


def per_layer_spec() -> list[dict]:
    """Every per-layer metric as it appears in ``BENCHMARK.json``."""
    out = [{"name": f"{span}.{c}", "unit": COUNTER_UNITS[c], "better": "lower"}
           for span, counters in SPAN_COUNTERS.items() for c in counters]
    out += [{"name": n, "unit": u, "better": b} for n, (u, b) in EXTRA_METRICS.items()]
    return out


@dataclass
class Span:
    sid: int
    parent: int | None
    name: str
    op: int | None
    t0: float
    t1: float
    children: list[int] = field(default_factory=list)


class Tracer:
    """Records spans when enabled; a disabled tracer adds no wrappers."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.sc = None
        self.op: int | None = None
        self.ops: list[dict] = []    # index → {"label", "timed", "traced"}
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple] = []

    # -- operations ----------------------------------------------------------

    def begin_op(self, label: str, timed: bool) -> None:
        self.op = len(self.ops)
        self.ops.append({"label": label, "timed": timed, "traced": self.enabled})

    # -- spans ---------------------------------------------------------------

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        sid = next(self._ids)
        self.sc.setJobGroup(f"pb{sid}", name)
        stack.append((sid, name))
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            stack.pop()
            if parent is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                self.sc.setJobGroup(f"pb{parent[0]}", parent[1])
            with self._lock:
                self.spans.append(Span(sid, parent and parent[0], name, self.op, t0, t1))

    def record(self, name: str, t0: float, t1: float) -> None:
        """A span timed by the caller, for calls that run no Spark job."""
        if self.enabled:
            self.spans.append(Span(next(self._ids), None, name, self.op, t0, t1))

    def wrap(self, owner, attr: str, name: str | None = None, name_of=None) -> None:
        """Replace ``owner.attr`` by a spanned wrapper. ``name_of(args,
        kwargs)`` names the span from the call when one function serves
        several layers (``run_stage`` per stage)."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(name or name_of(args, kwargs)):
                return orig(*args, **kwargs)

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def install(self) -> None:
        """Wrap every layer in ``SPAN_COUNTERS``; a no-op when disabled."""
        if not self.enabled:
            return
        from augmented_codebase_indexer_spark import cli, http_api
        from augmented_codebase_indexer_spark.operators import incremental, pagerank
        from augmented_codebase_indexer_spark.plans import pipeline
        from augmented_codebase_indexer_spark.sources.catalog import Warehouse

        self.wrap(pipeline, "build_graph", "plans.pipeline.build_graph")
        self.wrap(pipeline, "linker_stages", "plans.pipeline.linker_stages")
        self.wrap(pipeline, "run_stage", name_of=lambda a, k: "plans.pipeline.stage."
                  + (a[2] if len(a) > 2 else k["stage"]))
        for m in WAREHOUSE_METHODS:
            self.wrap(Warehouse, m, f"sources.catalog.Warehouse.{m}")
        self.wrap(incremental, "incremental_update", "operators.incremental.incremental_update")
        self.wrap(http_api.AciHttpServer, "_route", "http_api.AciHttpServer._route")
        for c in CMDS:
            self.wrap(cli, f"cmd_{c}", f"cli.cmd_{c}")
        self.wrap(pagerank, "pagerank", "operators.pagerank.pagerank")

    def unwrap(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- collection ----------------------------------------------------------

    def collect_jobs(self) -> dict[int, dict]:
        """Per span: its own job ids, stage ids and completed tasks, read
        from ``statusTracker()`` while the session is still up. A stage
        listed by several jobs belongs to the first (the one that ran it)."""
        st = self.sc.statusTracker()
        own: dict[int, list[int]] = {}
        for s in self.spans:
            own[s.sid] = sorted(st.getJobIdsForGroup(f"pb{s.sid}"))
        stage_owner: dict[int, int] = {}
        for sid, jobs in sorted(own.items(), key=lambda kv: kv[1][:1]):
            for j in jobs:
                info = st.getJobInfo(j)
                for stage in (info.stageIds if info else []):
                    stage_owner.setdefault(int(stage), j)
        tasks: dict[int, int] = {}
        for stage in stage_owner:
            info = st.getStageInfo(stage)
            tasks[stage] = info.numCompletedTasks if info else 0
        job_stages: dict[int, list[int]] = {}
        for stage, j in stage_owner.items():
            if tasks[stage]:
                job_stages.setdefault(j, []).append(stage)
        return {sid: {"jobs": jobs,
                      "stages": sorted(s for j in jobs for s in job_stages.get(j, ())),
                      "tasks": sum(tasks[s] for j in jobs for s in job_stages.get(j, ()))}
                for sid, jobs in own.items()}


def read_event_log(log_dir: str) -> tuple[dict, dict]:
    """(job id → (submit s, end s)), (job group → summed stage metrics)
    from the single uncompressed event-log file in ``log_dir``."""
    keep = ('{"Event":"SparkListenerJobStart"', '{"Event":"SparkListenerJobEnd"',
            '{"Event":"SparkListenerStageSubmitted"', '{"Event":"SparkListenerStageCompleted"')
    jobs: dict[int, list[float]] = {}
    stage_group: dict[int, str] = {}
    by_group: dict[str, dict[str, float]] = {}
    names = {"internal.metrics.executorCpuTime": ("executor_cpu_s", 1e-9),
             "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_bytes", 1),
             "internal.metrics.output.bytesWritten": ("output_bytes", 1)}
    for fname in os.listdir(log_dir):
        with open(os.path.join(log_dir, fname)) as f:
            for line in f:
                if not line.startswith(keep):
                    continue
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = [ev["Submission Time"] / 1000.0, None]
                elif kind == "SparkListenerJobEnd":
                    jobs[ev["Job ID"]][1] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageSubmitted":
                    props = ev.get("Properties") or {}
                    stage_group[ev["Stage Info"]["Stage ID"]] = props.get("spark.jobGroup.id")
                else:
                    info = ev["Stage Info"]
                    group = stage_group.get(info["Stage ID"])
                    if group is None:
                        continue
                    acc = by_group.setdefault(group, {})
                    for a in info.get("Accumulables", ()):
                        if a.get("Name") in names:
                            key, scale = names[a["Name"]]
                            acc[key] = acc.get(key, 0.0) + float(a["Value"]) * scale
    return jobs, by_group


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def span_metrics(tracer: Tracer, jobs_by_span: dict, job_times: dict,
                 stage_metrics: dict) -> list[dict]:
    """One record per span with every counter, inclusive of child spans
    except ``self_s``."""
    by_id = {s.sid: s for s in tracer.spans}
    for s in tracer.spans:
        if s.parent in by_id:
            by_id[s.parent].children.append(s.sid)

    memo: dict[int, dict] = {}

    def subtree(sid: int) -> dict:
        if sid in memo:
            return memo[sid]
        own = jobs_by_span.get(sid, {"jobs": [], "stages": [], "tasks": 0})
        agg = {"jobs": list(own["jobs"]), "stages": list(own["stages"]),
               "tasks": own["tasks"], **stage_metrics.get(f"pb{sid}", {})}
        for c in by_id[sid].children:
            sub = subtree(c)
            agg["jobs"] += sub["jobs"]
            agg["stages"] += sub["stages"]
            agg["tasks"] += sub["tasks"]
            for k in ("executor_cpu_s", "shuffle_write_bytes", "output_bytes"):
                agg[k] = agg.get(k, 0.0) + sub.get(k, 0.0)
        memo[sid] = agg
        return agg

    out = []
    for s in tracer.spans:
        agg = subtree(s.sid)
        wall = s.t1 - s.t0
        kids = [(by_id[c].t0, by_id[c].t1) for c in s.children]
        runs = [tuple(job_times[j]) for j in agg["jobs"]
                if j in job_times and job_times[j][1] is not None]
        out.append({
            "name": s.name, "op": s.op, "sid": s.sid, "parent": s.parent,
            "t0": s.t0, "wall_s": wall,
            "self_s": wall - _covered(kids, s.t0, s.t1),
            "driver_s": wall - _covered(runs, s.t0, s.t1),
            "jobs": len(agg["jobs"]), "stages": len(agg["stages"]), "tasks": agg["tasks"],
            "executor_cpu_s": agg.get("executor_cpu_s", 0.0),
            "shuffle_write_bytes": agg.get("shuffle_write_bytes", 0.0),
            "output_bytes": agg.get("output_bytes", 0.0),
        })
    return out


def layer_values(tracer: Tracer, records: list[dict]) -> tuple[dict[str, float], dict[str, int]]:
    """Median per operation of each span counter, and the sample count of
    each pooled ``p90_ms``.

    An operation is one timed call: a build, an update or a GET. Counters
    of one span name are summed within an operation; the median runs over
    the timed operations that used the span, or over the set-up operations
    when no timed one did (session start, the warehouse build of kg_live).
    A layer the workload never used reports 0."""
    per_op: dict[str, dict[int, dict[str, float]]] = {}
    walls: dict[str, list[float]] = {}
    for r in records:
        if r["op"] is None:
            continue
        slot = per_op.setdefault(r["name"], {}).setdefault(r["op"], {})
        for k in COUNTER_UNITS:
            if k in r:
                slot[k] = slot.get(k, 0.0) + r[k]
        if tracer.ops[r["op"]]["timed"]:
            walls.setdefault(r["name"], []).append(r["wall_s"] * 1000.0)
    values: dict[str, float] = {}
    samples: dict[str, int] = {}
    for span, counters in SPAN_COUNTERS.items():
        ops = per_op.get(span, {})
        chosen = [v for o, v in ops.items() if tracer.ops[o]["timed"]] or list(ops.values())
        for c in counters:
            if c == "p90_ms":
                w = sorted(walls.get(span, []))
                values[f"{span}.{c}"] = _p90(w)
                samples[f"{span}.{c}"] = len(w)
            else:
                values[f"{span}.{c}"] = (statistics.median(v.get(c, 0.0) for v in chosen)
                                         if chosen else 0.0)
    return values, samples


def _p90(sorted_ms: list[float]) -> float:
    if not sorted_ms:
        return 0.0
    if len(sorted_ms) == 1:
        return sorted_ms[0]
    return statistics.quantiles(sorted_ms, n=10, method="inclusive")[-1]
