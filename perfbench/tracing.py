"""Tracing for the traced run (``--trace 1``): spans around the calls into
each module's public functions, recorded from the benchmark's own files.

A span has a name, start, end, parent and op id, and stays in memory until
the run ends. Spans that can start Spark jobs tag them with
``SparkContext.setJobGroup``, so Spark's event log attributes every job's
stages, tasks, shuffle and spill to the span that caused it
(``engine_metrics``). Wrappers are installed where callers look the
function up: ``sources.cow.resolve_slices`` as well as
``plans.slices.resolve_slices``, methods on their classes.
"""

from __future__ import annotations

import functools
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from hudi_delete_view_spark.operators import curation as op_curation
from hudi_delete_view_spark.operators import dedup as op_dedup
from hudi_delete_view_spark.operators import similarity as op_similarity
from hudi_delete_view_spark.operators import text as op_text
from hudi_delete_view_spark.plans import ivm, slices, timeline
from hudi_delete_view_spark.sources import cow as src_cow
from hudi_delete_view_spark.sources import delete_view as src_dv
from hudi_delete_view_spark.sources import delta as src_delta
from hudi_delete_view_spark.sources import hudi as src_hudi
from hudi_delete_view_spark.sources import iceberg as src_iceberg
from hudi_delete_view_spark.sources import mor as src_mor


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: int | None
    start: float  # epoch seconds
    end: float = 0.0
    jobs: bool = True  # tags Spark jobs with its own job group
    counters: dict = field(default_factory=dict)


# (owner, attribute, span name, may start Spark jobs)
def _targets():
    T, C, M, DV = timeline.Timeline, src_cow.CowTable, src_mor.MorTable, src_dv.DeleteView
    out = [
        (T, "instants", "plans.timeline.instants", False),
        (T, "commit_metadata", "plans.timeline.commit_metadata", False),
        (slices, "resolve_slices", "plans.slices.resolve_slices", False),
        (src_cow, "resolve_slices", "plans.slices.resolve_slices", False),
        (src_mor, "resolve_slices", "plans.slices.resolve_slices", False),
        (DV, "__init__", "sources.delete_view.open", False),
        (DV, "is_materialized", "sources.delete_view.validity", False),
        (DV, "materialize", "sources.delete_view.materialize", True),
        (DV, "dataset", "sources.delete_view.serve", True),
        (src_dv, "delete_view", "sources.delete_view.delete_view", True),
        (src_delta, "export_delta", "sources.delta.export", True),
        (src_delta, "read_delta_delete_view", "sources.delta.delete_view_plan", True),
        (src_iceberg, "export_iceberg", "sources.iceberg.export", True),
        (src_iceberg, "read_iceberg_delete_view", "sources.iceberg.delete_view_plan", True),
        (src_hudi, "export_hudi_mor", "sources.hudi.export", True),
        (src_hudi, "read_hudi_mor_delete_view", "sources.hudi.delete_view_plan", True),
        (ivm.AutoMaterializedView, "refresh", "plans.ivm.refresh", True),
        (ivm.AutoMaterializedView, "serve", "plans.ivm.serve", True),
    ]
    for name in ("bulk_insert", "upsert", "delete", "snapshot", "cdc", "incremental"):
        out.append((C, name, f"sources.cow.{name}", True))
    for name in ("upsert_delta", "delete_delta", "compact", "snapshot", "incremental", "delete_view"):
        out.append((M, name, f"sources.mor.{name}", True))
    for mod, prefix, names in (
        (op_dedup, "operators.dedup", ("exact_dedup", "minhash_dedup", "minhash_verified_pairs",
                                       "minhash_lsh_candidate_pairs")),
        (op_text, "operators.text", ("text_stats",)),
        (op_curation, "operators.curation", ("decontaminate",)),
        (op_similarity, "operators.similarity", ("cosine_topk_lsh",)),
    ):
        out += [(mod, n, f"{prefix}.{n}", True) for n in names]
    return out


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.op: int | None = None
        self.memo = [0, 0]  # commit-metadata memo hits, misses since install()
        self._saved: list = []

    # -- spans -------------------------------------------------------------
    def begin(self, name: str, jobs: bool = True) -> Span:
        parent = self.stack[-1].id if self.stack else None
        s = Span(len(self.spans), name, parent, self.op, time.time(), jobs=jobs)
        self.spans.append(s)
        self.stack.append(s)
        if jobs:
            self.sc.setJobGroup(f"span-{s.id}", name, False)
        return s

    def end(self, s: Span) -> None:
        s.end = time.time()
        self.stack.pop()
        if s.jobs:
            outer = next((p for p in reversed(self.stack) if p.jobs), None)
            if outer is None:
                self.sc.setJobGroup("span-none", "untraced", False)
            else:
                self.sc.setJobGroup(f"span-{outer.id}", outer.name, False)

    @contextmanager
    def span(self, name: str, jobs: bool = True):
        s = self.begin(name, jobs)
        try:
            yield s
        finally:
            self.end(s)

    # -- patching ----------------------------------------------------------
    def install(self) -> None:
        for owner, attr, name, jobs in _targets():
            orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
            self._saved.append((owner, attr, orig))
            setattr(owner, attr, self._wrap(orig, name, jobs))
        # count memo hits and misses per call: ``Timeline.refresh`` clears
        # the memo and with it the counts ``cache_info()`` keeps
        traced_md = timeline.Timeline.commit_metadata
        tracer = self

        def counted_md(tl, *a, **kw):
            before = tl._load_metadata.cache_info()
            try:
                return traced_md(tl, *a, **kw)
            finally:
                after = tl._load_metadata.cache_info()
                tracer.memo[0] += after.hits - before.hits
                tracer.memo[1] += after.misses - before.misses

        timeline.Timeline.commit_metadata = functools.wraps(traced_md)(counted_md)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._saved):
            setattr(owner, attr, orig)
        self._saved.clear()

    def _wrap(self, fn, name: str, jobs: bool):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name, jobs) as s:
                result = fn(*args, **kwargs)
                if isinstance(result, bool):
                    s.counters["result"] = result
                return result

        return wrapper

    def memo_stats(self) -> tuple[int, int]:
        """(hits, misses) of the commit-metadata memo since ``install()``;
        callers take differences."""
        return self.memo[0], self.memo[1]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


# ---------------------------------------------------------------------------
# aggregation
# ---------------------------------------------------------------------------
def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the part its child spans cover
    (children of one single-threaded caller never overlap)."""
    child = {}
    for s in spans:
        if s.parent is not None:
            child[s.parent] = child.get(s.parent, 0.0) + (s.end - s.start)
    return {s.id: (s.end - s.start) - child.get(s.id, 0.0) for s in spans}


def module_of(name: str) -> str:
    """'sources.cow.upsert' -> 'sources.cow'; 'bench.sink' stays."""
    parts = name.split(".")
    return ".".join(parts[:2])


def read_event_log(log_dir: str) -> list[dict]:
    events = []
    for name in sorted(os.listdir(log_dir)):
        p = os.path.join(log_dir, name)
        if os.path.isfile(p):
            with open(p) as f:
                for line in f:
                    if line.strip():
                        events.append(json.loads(line))
    return events


def engine_metrics(events: list[dict]) -> dict[str, dict]:
    """Job group -> summed Spark metrics of its jobs, with each job's
    (submit, complete) interval in epoch seconds."""
    stage_job: dict[int, int] = {}
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id", "span-none")
            jobs[ev["Job ID"]] = {"group": group, "start": ev["Submission Time"] / 1000.0,
                                  "end": None, "stages": ev.get("Stage IDs", [])}
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = ev["Job ID"]
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            acc_names = " ".join(str(a.get("Name", "")) for a in info.get("Accumulables", []))
            st = stages.setdefault(info["Stage ID"], _blank_stage())
            st["completed"] = True
            st["python"] = st["python"] or "python" in acc_names.lower()
        elif kind == "SparkListenerTaskEnd":
            st = stages.setdefault(ev["Stage ID"], _blank_stage())
            _add_task(st, ev)
    groups: dict[str, dict] = {}
    for jid, job in jobs.items():
        g = groups.setdefault(job["group"], {
            "jobs": 0, "stages": 0, "tasks": 0, "executor_run_s": 0.0, "scheduler_delay_s": 0.0,
            "shuffle_write_bytes": 0, "shuffle_read_bytes": 0, "spill_bytes": 0,
            "output_bytes": 0, "task_failures": 0, "python_stage_s": 0.0, "intervals": []})
        g["jobs"] += 1
        g["intervals"].append((job["start"], job["end"] or job["start"]))
        for sid in job["stages"]:
            st = stages.get(sid)
            if st is None or not st["tasks"]:
                continue  # skipped stage (shuffle reuse)
            g["stages"] += 1
            for k in ("tasks", "executor_run_s", "scheduler_delay_s", "shuffle_write_bytes",
                      "shuffle_read_bytes", "spill_bytes", "output_bytes", "task_failures"):
                g[k] += st[k]
            if st["python"]:
                g["python_stage_s"] += st["executor_run_s"]
    return groups


def _blank_stage() -> dict:
    return {"tasks": 0, "executor_run_s": 0.0, "scheduler_delay_s": 0.0, "shuffle_write_bytes": 0,
            "shuffle_read_bytes": 0, "spill_bytes": 0, "output_bytes": 0, "task_failures": 0,
            "python": False, "completed": False}


def _add_task(st: dict, ev: dict) -> None:
    info = ev.get("Task Info", {})
    m = ev.get("Task Metrics") or {}
    st["tasks"] += 1
    if info.get("Failed") or (ev.get("Task End Reason", {}).get("Reason") not in (None, "Success")):
        st["task_failures"] += 1
    run = m.get("Executor Run Time", 0) / 1000.0
    st["executor_run_s"] += run
    dur = (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000.0
    overhead = (m.get("Executor Deserialize Time", 0) + m.get("Result Serialization Time", 0)) / 1000.0
    st["scheduler_delay_s"] += max(0.0, dur - run - overhead)
    sr = m.get("Shuffle Read Metrics") or {}
    st["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    st["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    st["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    st["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    segs = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in segs:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total
