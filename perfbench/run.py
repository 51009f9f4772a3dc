"""lakeview benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload lake --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. Workloads (``workloads.py``):

- ``lake``: delete views on every format (native COW cold and cached,
  native MOR, Delta, Iceberg and Hudi MOR exports), cdc and incremental
  reads, and a commit stream (upserts, deletes, MOR deltas and compaction,
  a materialized-view refresh) with a snapshot read after every commit;
- ``curate``: exact dedup, MinHash dedup, text statistics and
  decontamination of a document batch, and an LSH cosine top-k.

The run

1. generates the workload's inputs from ``--seed`` (``gen.py``);
2. starts ``session.get_spark()`` with ``SPARK_GRAFT_CPUS`` set to the
   number of usable cores and no other tuning;
3. builds the tables through the program's public write API and warms up
   (``lake``: checks every read once; ``curate``: ``WARMUP_CYCLES`` pipeline
   cycles over a batch of the timed size); both count in ``setup_s``;
4. runs whole cycles of the workload's closed loop (one client) until
   ``--seconds`` of operation time have been measured, draining every read
   through a ``noop`` write (``checks.sink``) and releasing the operators'
   persisted intermediates before each op, as a long-lived session does;
5. checks each distinct (table, op, commit) once, outside the timed region,
   against the generator's record; a mismatch counts the op as failed;
6. prints a ``{"report": ...}`` line with every end-to-end metric of the
   workload by name and unit, then, as the last line, the result
   ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 1`` also records spans around the calls into each module
(``tracing.py``), enables Spark's event log, and reports per-layer metrics
instead of end-to-end ones. Records of both kinds are appended to
``.perfbench_out/records.jsonl``; ``compare.py`` compares them.
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import nullcontext

from checks import sink

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT_DIR = os.path.join(ROOT, ".perfbench_out")
WORK_DIR = os.path.join(ROOT, ".perfbench_work")

# A tail is reported only from this percentile up (100 samples or more).
TAIL_MIN_PCT = 90

# Untimed cycles before timing, for workloads that warm up by cycles. On 4
# cores the curate ops kept getting faster for about four cycles after the
# first (MinHash dedup 5.0, 4.1, 3.6, 3.4, 3.2 s); two take the steep part
# out of the timed region at the cost of one cycle of set-up.
WARMUP_CYCLES = 2


def _log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def usable_cpus() -> int:
    return len(os.sched_getaffinity(0))


def _prepare_env(workdir: str, trace: bool) -> None:
    """Environment for the Spark JVM and its Python workers: the package is
    importable by workers, scratch files stay inside the checkout."""
    os.environ["SPARK_GRAFT_CPUS"] = str(usable_cpus())
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    args = ""
    if trace:
        log_dir = os.path.join(workdir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        args = (f"--conf spark.eventLog.enabled=true --conf spark.eventLog.dir=file://{log_dir} "
                "--conf spark.eventLog.compress=false --conf spark.eventLog.rolling.enabled=false ")
    os.environ["PYSPARK_SUBMIT_ARGS"] = args + "pyspark-shell"


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------
def p50(xs: list[float]) -> float | None:
    return statistics.median(xs) if xs else None


def pass_seconds(samples: list[dict]) -> float | None:
    """Seconds for one pass over every op kind in ``samples``, each at its
    median latency: a kind counts once however often a cycle runs it, and
    a sum of medians is steadier than a median of a mixed population."""
    kinds: dict[str, list[float]] = {}
    for s in samples:
        kinds.setdefault(s["kind"], []).append(s["s"])
    return sum(statistics.median(v) for v in kinds.values()) if kinds else None


def tail(xs: list[float]) -> tuple[float | None, float | None]:
    """(value, percentile): the highest sample with at least ten samples
    above it, and the share of samples at or below it in percent. (None,
    None) when that share is under TAIL_MIN_PCT: a lower percentile is no
    tail."""
    n = len(xs)
    i = n - 11
    if i < 0 or 100 * (i + 1) / n < TAIL_MIN_PCT:
        return None, None
    return sorted(xs)[i], 100 * (i + 1) / n


# ---------------------------------------------------------------------------
# record stamps
# ---------------------------------------------------------------------------
def _git_sha() -> str:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() or "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def _tree_sha() -> str:
    """sha256 over the package and benchmark sources (the checkout the
    benchmark runs in is not a git repository)."""
    h = hashlib.sha256()
    for top in ("hudi_delete_view_spark", "perfbench"):
        for dirpath, dirs, files in sorted(os.walk(os.path.join(ROOT, top))):
            dirs.sort()
            for name in sorted(files):
                if name.endswith(".py"):
                    p = os.path.join(dirpath, name)
                    h.update(os.path.relpath(p, ROOT).encode())
                    with open(p, "rb") as f:
                        h.update(f.read())
    return h.hexdigest()


def cpu_steal_s() -> float:
    """CPU time the hypervisor took from the (virtual) machine since boot
    (the 'steal' column of /proc/stat), in seconds."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def stamps(spark, workload: str, seed: int, trace: bool, load_1m: float) -> dict:
    import pyspark

    import gen

    return {
        "workload": workload,
        "seed": seed,
        "cpus": usable_cpus(),
        "sizes": gen.PROPERTIES[workload],
        "inputs_sha256": gen.digest(workload, seed),
        "git_sha": _git_sha(),
        "tree_sha256": _tree_sha(),
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "trace": trace,
        "load_1m": load_1m,
    }


# ---------------------------------------------------------------------------
# memory
# ---------------------------------------------------------------------------
def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        try:
            for t in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{t}/children") as f:
                    todo += [int(c) for c in f.read().split()]
        except OSError:
            pass
    return out


def peak_rss_mb(spark) -> float:
    """Driver JVM VmHWM plus this Python process's max RSS, in MB."""
    launcher = spark.sparkContext._gateway.proc.pid
    jvm_kb = max((_status_kb(p, "VmHWM") for p in _descendants(launcher)), default=0)
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


def persisted_frames(spark) -> int:
    return int(spark.sparkContext._jsc.getPersistentRDDs().size())


# ---------------------------------------------------------------------------
# the closed loop
# ---------------------------------------------------------------------------
class Runner:
    def __init__(self, workload, tracer=None, plant_wrong: bool = False):
        self.w = workload
        self.tracer = tracer
        self.plant_wrong = plant_wrong
        self.verdicts: dict[tuple, bool] = {}
        self.samples: list[dict] = []
        self.persisted_max = 0
        self.memo = [0, 0]  # commit-metadata memo hits, misses during timed ops
        self.n_ops = 0

    def _span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()

    def run_op(self, op, timed: bool) -> float:
        from hudi_delete_view_spark.operators.util import unpersist_operator_caches

        if op.prepare is not None:
            op.prepare()
        # a long-lived session releases the operators' persisted
        # intermediates between calls (operators/util.py); left in place
        # they would serve a later call's identical plan from the cache
        unpersist_operator_caches(blocking=True)
        size_before = _table_bytes(op)
        if self.tracer:
            self.tracer.op = self.n_ops
        self.n_ops += 1
        ok = True
        memo0 = self.tracer.memo_stats() if self.tracer and timed else None
        t0 = time.perf_counter()
        try:
            with self._span(f"op.{op.kind}"):
                df = op.run()
                if df is not None:
                    with self._span("bench.sink"):
                        sink(df)
        except Exception:  # an op that raises is counted failed; the loop goes on
            ok = False
            _log(f"op {op.kind} {op.table} {op.commit} failed:\n{traceback.format_exc()}")
        dt = time.perf_counter() - t0
        if memo0 is not None:
            memo1 = self.tracer.memo_stats()
            self.memo[0] += memo1[0] - memo0[0]
            self.memo[1] += memo1[1] - memo0[1]
        written = _table_bytes(op) - size_before if size_before is not None else 0
        if self.tracer:
            self.tracer.op = None
        # warm-up output is not counted, so it is not checked either
        if timed and ok and op.check is not None and op.verify_key not in self.verdicts:
            self._verify(op, self.plant_wrong)
            self.plant_wrong = False
        if self.tracer and timed:
            self.persisted_max = max(self.persisted_max, persisted_frames(self.w.spark))
        if timed:
            self.samples.append({
                "kind": op.kind, "category": op.category, "table": op.table, "commit": op.commit,
                "s": dt, "ok": ok, "verify_key": op.verify_key, "tags": op.tags,
                "bytes_written": written, "batch_bytes": op.batch_bytes, "writes": op.writes,
            })
        return dt

    def _verify(self, op, plant: bool = False) -> None:
        with self._span("bench.verify"):
            try:
                got = op.check()
                want = op.expect()
            except Exception:
                _log(f"check of {op.verify_key} raised:\n{traceback.format_exc()}")
                self.verdicts[op.verify_key] = False
                return
        if plant:
            want = (want[0] + 1, want[1])  # a planted wrong expectation (self-test)
        self.verdicts[op.verify_key] = got == want
        if got != want:
            _log(f"WRONG {op.verify_key}: got (rows, hash) {got}, expected {want}")

    def warm_by_checking(self) -> None:
        """Run the check of every read op of a cycle once: each read plan
        executes once (and is verified) before timing starts."""
        for op in self.w.cycle(0):
            if not op.writes and op.commit and op.check is not None:
                if op.prepare is not None:
                    op.prepare()
                self._verify(op)

    def run_cycle(self, i: int, timed: bool) -> float:
        return sum(self.run_op(op, timed) for op in self.w.cycle(i))

    def wrong(self, s: dict) -> bool:
        return not s["ok"] or self.verdicts.get(s["verify_key"]) is False


def _table_bytes(op) -> int | None:
    """Bytes under the table directory a commit op writes to (None for
    other ops)."""
    path = op.tags.get("path")
    if not path:
        return None
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            try:
                total += os.path.getsize(os.path.join(root, name))
            except OSError:  # a file replaced while we walk
                pass
    return total


def run(workload_name: str, seed: int, seconds: float, trace: bool,
        plant_wrong: bool = False) -> dict:
    """Run one workload; returns {"result": last-line dict, "report": ...}."""
    load_1m = os.getloadavg()[0]
    steal0 = cpu_steal_s()
    workdir = os.path.join(WORK_DIR, f"{workload_name}-{seed}-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    _prepare_env(workdir, trace)
    sys.path.insert(0, ROOT)
    from hudi_delete_view_spark.session import get_spark

    import workloads

    spark = None
    try:
        t_setup = time.perf_counter()
        spark = get_spark()
        spark.sparkContext.setLogLevel("ERROR")
        tracer = None
        if trace:
            import tracing

            tracer = tracing.Tracer(spark.sparkContext)
            tracer.install()
        w = workloads.WORKLOADS[workload_name](spark, os.path.join(workdir, "tables"), seed)
        runner = Runner(w, tracer, plant_wrong)
        with runner._span("bench.setup"):
            w.setup()
        with runner._span("bench.warmup"):
            if w.warm_by_checking:
                runner.warm_by_checking()
            else:
                for i in range(WARMUP_CYCLES):
                    for op in w.warmup_cycle(i):
                        runner.run_op(op, timed=False)
        setup_s = time.perf_counter() - t_setup
        # the generator's records are large and live until the end: keep the
        # collector from walking them during timed ops
        gc.collect()
        gc.freeze()
        cycle = 0

        timed = 0.0
        t_loop = time.time()
        while timed < seconds:
            timed += runner.run_cycle(cycle, timed=True)
            cycle += 1
        t_loop_end = time.time()
        peak = peak_rss_mb(spark)
        st = stamps(spark, workload_name, seed, trace, load_1m)
        st["cpu_steal_s"] = cpu_steal_s() - steal0  # host contention during the run
        report = e2e_metrics(w, runner, setup_s, peak)
        report["ledger"] = gate_ledger(w)
        if trace:
            tracer.uninstall()
            counters = w.layer_counters(runner.samples, tracer)
            spark.stop()  # flushes the event log
            spark = None
            layer = layer_metrics(tracer, runner, counters, os.path.join(workdir, "eventlog"),
                                  (t_loop, t_loop_end))
            os.makedirs(OUT_DIR, exist_ok=True)
            span_file = os.path.join(OUT_DIR, f"spans-{workload_name}-{seed}.jsonl")
            tracer.dump(span_file)
            report["layers"] = layer["detail"]
            report["layer_map"] = LAYER_MAP
            report["spans_file"] = os.path.relpath(span_file, ROOT)
            metrics = layer["metrics"]
        else:
            metrics = {k: report["metrics"][k] for k in E2E_GATED}
        metrics = {k: {"value": m["value"], "unit": m["unit"]} for k, m in metrics.items()}
        attempted = len(runner.samples)
        failed = sum(runner.wrong(s) for s in runner.samples)
        result = {"correct": failed == 0 and all(runner.verdicts.values()),
                  "attempted": attempted, "failed": failed, "metrics": metrics}
        return {"stamps": st, "result": result, "report": report}
    finally:
        if spark is not None:
            spark.stop()
        shutil.rmtree(workdir, ignore_errors=True)


# ---------------------------------------------------------------------------
# end-to-end metrics
# ---------------------------------------------------------------------------
E2E_GATED = ["setup_s", "ops_per_s", "read_pass_s", "write_pass_s"]


def _m(value, unit, **extra):
    d = {"value": value, "unit": unit}
    d.update(extra)
    return d


def e2e_metrics(w, runner: Runner, setup_s: float, peak: float) -> dict:
    ss = runner.samples
    times = [s["s"] for s in ss]
    n_wrong = sum(runner.wrong(s) for s in ss)
    out = {
        "setup_s": _m(setup_s, "s"),
        "ops_per_s": _m(len(ss) / sum(times), "1/s", samples=len(ss)),
        "error_rate": _m(n_wrong / len(ss), "failed/attempted"),
        "peak_rss_mb": _m(peak, "MB"),
    }

    def add_p50(name, xs):
        out[f"{name}.p50"] = _m(p50(xs), "s", samples=len(xs))

    def add_tail(name, xs):
        v, pct = tail(xs)
        out[f"{name}.tail"] = _m(v, "s", percentile=pct, samples=len(xs))

    def cat(*names):
        return [s["s"] for s in ss if s["category"] in names]

    for name, writes in (("read", False), ("write", True)):
        part = [s for s in ss if s["writes"] == writes]
        out[f"{name}_pass_s"] = _m(pass_seconds(part), "s", kinds=sorted({s["kind"] for s in part}))
        add_p50(f"{name}_s", [s["s"] for s in part])
    if w.name == "lake":
        add_p50("dv_cold_s", cat("dv_cold"))
        add_tail("dv_cold_s", cat("dv_cold"))
        add_p50("dv_cached_s", cat("dv_cached"))
        add_p50("change_feed_s", cat("change_feed"))
        add_p50("snapshot_s", cat("snapshot"))
        add_p50("commit_s", cat("commit"))
        add_tail("commit_s", cat("commit"))
        add_p50("compact_s", cat("compact"))
        add_p50("mv_refresh_s", cat("mv_refresh"))
        written = sum(s["bytes_written"] for s in ss)
        user = sum(s["batch_bytes"] for s in ss)
        out["write_amp"] = _m(written / user if user else None, "bytes/bytes",
                              written_bytes=written, user_bytes=user)
    elif w.name == "curate":
        per_batch: dict[tuple, float] = {}
        docs: dict[tuple, int] = {}
        for s in ss:
            if s["category"] == "curate":
                key = (s["tags"]["batch"], s["tags"]["cycle"])
                per_batch[key] = per_batch.get(key, 0.0) + s["s"]
                docs[key] = s["tags"]["docs"]
        rates = [docs[k] / per_batch[k] for k in per_batch]
        out["curate_docs_per_s"] = _m(p50(rates), "docs/s", batches=len(rates),
                                      batch_docs=w.sizes["docs_per_batch"])
        add_p50("topk_s", cat("topk"))
    return {"workload": w.name, "metrics": out, "ops": _by_kind(ss)}


def _by_kind(ss: list[dict]) -> dict:
    """Per op kind: count and median seconds."""
    kinds: dict[str, list[float]] = {}
    for s in ss:
        kinds.setdefault(s["kind"], []).append(s["s"])
    return {k: {"n": len(v), "p50_s": p50(v)} for k, v in sorted(kinds.items())}


# ---------------------------------------------------------------------------
# gate ledger: which side of each stats gate the workload's ops fall on
# ---------------------------------------------------------------------------
def gate_ledger(w) -> dict:
    from hudi_delete_view_spark.plans.timeline import Timeline
    from hudi_delete_view_spark.sources import cow as src_cow
    from hudi_delete_view_spark.sources import delete_view as src_dv
    from hudi_delete_view_spark.sources import iceberg as src_iceberg

    two_phase = getattr(src_dv, "_TWO_PHASE_MIN_NEW_ROWS", 4_000_000)
    persist = getattr(src_cow, "_STAMPS_PERSIST_MIN_ROWS", 100_000)
    bcast = getattr(src_cow, "_BROADCAST_STAMPS_MAX_ROWS", 2_000_000)
    probe = getattr(src_iceberg, "_TARGET_PROBE_MAX_ROWS", 100_000)
    ledger = {
        "dv_two_phase": {"threshold_new_rows": two_phase, "ops": {}},
        "cdc_stamps_persist": {"threshold_deleted_rows": persist, "ops": {}},
        "cdc_broadcast_stamps": {"threshold_deleted_rows": bcast, "ops": {}},
        "iceberg_target_probe": {"threshold_position_delete_rows": probe, "ops": {}},
    }
    if w.name != "lake":
        for g in ledger.values():
            g["note"] = f"not exercised by {w.name}"
        return ledger
    tl = Timeline(w.li)
    for ts in w.c[2:]:
        meta = tl.commit_metadata(ts)
        new_rows = sum(s.num_writes for _p, s in meta.all_stats()
                       if s.num_deletes > 0 and s.prev_commit is not None)
        ledger["dv_two_phase"]["ops"][ts] = {
            "new_rows": new_rows, "deleted": meta.total_records_deleted,
            "branch": "two_phase" if new_rows >= two_phase else "single_anti_join"}
    b, e = w.cdc_range
    deleted = sum(tl.commit_metadata(i.timestamp).total_records_deleted
                  for i in tl.commits_in_range(b, e))
    ledger["cdc_stamps_persist"]["ops"][f"{b}..{e}"] = {
        "deleted": deleted, "branch": "persist" if deleted > persist else "no_persist"}
    ledger["cdc_broadcast_stamps"]["ops"][f"{b}..{e}"] = {
        "deleted": deleted, "branch": "broadcast" if deleted <= bcast else "shuffle"}
    ledger["iceberg_target_probe"]["note"] = (
        "the Iceberg export rewrites files (copy-on-write); it writes no position-delete "
        "files, so the probe is never reached")
    unmeasured = [name for name, g in ledger.items()
                  if g["ops"] and len({o["branch"] for o in g["ops"].values()}) < 2]
    ledger["single_branch_gates"] = unmeasured
    return ledger


# ---------------------------------------------------------------------------
# per-layer metrics (traced run)
# ---------------------------------------------------------------------------
MODULES = [
    "plans.timeline", "plans.slices", "plans.ivm", "sources.delete_view", "sources.cow",
    "sources.mor", "sources.hudi", "sources.delta", "sources.iceberg", "operators.dedup",
    "operators.text", "operators.similarity", "operators.curation", "bench.sink",
]
ENGINE = [("spark.jobs", "jobs", "count/op"), ("spark.stages", "stages", "count/op"),
          ("spark.tasks", "tasks", "count/op"), ("spark.executor_run_s", "executor_run_s", "s/op"),
          ("spark.scheduler_delay_s", "scheduler_delay_s", "s/op"),
          ("spark.shuffle_write_bytes", "shuffle_write_bytes", "B/op"),
          ("spark.shuffle_read_bytes", "shuffle_read_bytes", "B/op"),
          ("spark.spill_bytes", "spill_bytes", "B/op"), ("spark.output_bytes", "output_bytes", "B/op"),
          ("spark.task_failures", "task_failures", "count/op")]


# Which end-to-end metric each layer's metrics should move, on which
# workload (written down before measuring; carried in every traced record).
LAYER_MAP = {
    "plans.timeline, plans.slices":
        "lake: write_pass_s (commit_s), read_pass_s (snapshot_s, dv_cached_s); curate: none",
    "sources.delete_view": "lake: read_pass_s (dv_cold_s, dv_cached_s); curate: none",
    "sources.cow, sources.mor":
        "lake: write_pass_s (commit_s, compact_s, write_amp), read_pass_s (change_feed_s, snapshot_s)",
    "sources.hudi, sources.delta, sources.iceberg": "lake: read_pass_s (dv_cold_s); exports in setup_s",
    "plans.ivm": "lake: write_pass_s (mv_refresh_s)",
    "operators.dedup, operators.text, operators.similarity, operators.curation":
        "curate: read_pass_s, write_pass_s (curate_docs_per_s); lake: none",
    "operators.util.persisted_frames": "peak_rss_mb on both; shows cache leaks",
    "spark.* per span": "fewer jobs: read_s (dv_cached_s, snapshot_s); less shuffle in delete-view "
                        "spans: dv_cold_s; less shuffle in MinHash spans: curate_docs_per_s",
}

DRIVER_SHARE_OPS = ["snapshot", "dv_cold", "upsert", "minhash_dedup"]

# per-layer counts every traced run reports (0 where the workload does not
# reach the layer); the workloads compute them in ``layer_counters``
COUNTERS = {
    "sources.delete_view.candidate_files": "count/op",
    "sources.delete_view.candidate_rows": "count/op",
    "sources.delete_view.deleted_rows": "count/op",
    "sources.delete_view.useful_row_ratio": "ratio",
    "sources.delete_view.cache_hit_ratio": "ratio",
    "sources.cow.rows_rewritten_per_row_changed": "ratio",
    "sources.cow.bytes_written": "B/commit",
    "sources.mor.rows_rewritten_per_row_changed": "ratio",
    "sources.mor.bytes_written": "B/commit",
    "sources.mor.log_files_merged": "count/compaction",
    "operators.dedup.lsh_candidate_pairs": "count/batch",
    "operators.dedup.verified_pairs": "count/batch",
    "operators.dedup.verify_yield": "ratio",
}


def layer_metrics(tracer, runner: Runner, counters: dict, log_dir: str,
                  window: tuple[float, float]) -> dict:
    import tracing

    spans = [s for s in tracer.spans if s.end]
    by_id = {s.id: s for s in spans}
    selft = tracing.self_times(spans)
    timed_ops = [s for s in spans if s.name.startswith("op.") and window[0] <= s.start <= window[1]]
    n_ops = max(1, len(timed_ops))
    op_wall = sum(s.end - s.start for s in timed_ops)
    in_timed = set()
    for s in spans:  # every span under a timed op span
        p = s
        while p is not None and p.parent is not None and not p.name.startswith("op."):
            p = by_id.get(p.parent)
        if p is not None and p.name.startswith("op.") and window[0] <= p.start <= window[1]:
            in_timed.add(s.id)

    # per function: calls, total, self
    funcs: dict[str, dict] = {}
    for s in spans:
        if s.id not in in_timed or s.name.startswith("op."):
            continue
        f = funcs.setdefault(s.name, {"calls": 0, "total_s": 0.0, "self_s": 0.0})
        f["calls"] += 1
        f["total_s"] += s.end - s.start
        f["self_s"] += selft[s.id]
    module_self = {m: 0.0 for m in MODULES}
    for name, f in funcs.items():
        m = tracing.module_of(name)
        if m in module_self:
            module_self[m] += f["self_s"]
    exports = {s.name: s.end - s.start for s in spans if s.name.endswith(".export")}

    # Spark engine, attributed to spans by job group
    groups = tracing.engine_metrics(tracing.read_event_log(log_dir))
    engine = {k: 0.0 for _n, k, _u in ENGINE}
    engine["python_stage_s"] = 0.0
    job_intervals = []
    for s in spans:
        if s.id in in_timed:
            g = groups.get(f"span-{s.id}")
            if g:
                for k in engine:
                    engine[k] += g[k]
                job_intervals += g["intervals"]
    driver_self = sum((s.end - s.start) - tracing.covered(job_intervals, s.start, s.end)
                      for s in timed_ops)
    hits, misses = runner.memo
    md = funcs.get("plans.timeline.commit_metadata", {"calls": 0})
    resolve = funcs.get("plans.slices.resolve_slices", {"calls": 0, "total_s": 0.0})
    replayed = sum(1 for s in spans if s.id in in_timed and s.name == "plans.timeline.commit_metadata"
                   and _has_ancestor(s, by_id, "plans.slices.resolve_slices"))
    timed = runner.samples
    traced_rate = len(timed) / sum(s["s"] for s in timed)

    metrics = {
        "trace.ops_per_s": _m(traced_rate, "1/s"),
        "driver.self_s": _m(driver_self / n_ops, "s/op"),
    }
    for name, k, unit in ENGINE:
        metrics[name] = _m(engine[k] / n_ops, unit)
    # a share, not seconds: ops without Python UDF stages read 0
    run_s = engine["executor_run_s"]
    metrics["spark.python_stage_pct"] = _m(100.0 * engine["python_stage_s"] / run_s if run_s else 0.0, "%")
    for m in MODULES:
        metrics[f"{m}.self_pct"] = _m(100.0 * module_self[m] / op_wall if op_wall else 0.0, "%")
    metrics.update({
        "plans.timeline.commit_metadata_calls": _m(md["calls"] / n_ops, "count/op"),
        "plans.timeline.memo_hit_ratio": _m(hits / (hits + misses) if hits + misses else 0.0, "ratio"),
        "plans.slices.commits_replayed": _m(replayed / max(1, resolve["calls"]), "count/call"),
        "plans.slices.resolve_pct": _m(100.0 * resolve["total_s"] / op_wall if op_wall else 0.0, "%"),
        "operators.util.persisted_frames": _m(runner.persisted_max, "count"),
    })
    # driver-bound or executor-bound: share of the op's wall time that no
    # Spark job covers (0 where the workload has no such op)
    per_kind = _per_kind(timed_ops, groups, spans, in_timed, by_id)
    for kind in DRIVER_SHARE_OPS:
        d = per_kind.get(kind)
        metrics[f"op.{kind}.driver_pct"] = _m(100.0 * d["driver_self_s"] / d["wall_s"] if d else 0.0, "%")
    for k, unit in COUNTERS.items():
        metrics[k] = _m(counters.get(k, (0.0, unit))[0], unit)
    detail = {
        "functions": {k: {**v, "mean_s": v["total_s"] / v["calls"]} for k, v in sorted(funcs.items())},
        "module_self_s": module_self,
        "export_s": exports,
        "timed_ops": len(timed_ops),
        "op_wall_s": op_wall,
        "driver_self_s_total": driver_self,
        "spark": engine,
        "per_op_kind": per_kind,
    }
    return {"metrics": {k: metrics[k] for k in sorted(metrics)}, "detail": detail}


def _has_ancestor(s, by_id, name) -> bool:
    p = by_id.get(s.parent) if s.parent is not None else None
    while p is not None:
        if p.name == name:
            return True
        p = by_id.get(p.parent) if p.parent is not None else None
    return False


def _per_kind(timed_ops, groups, spans, in_timed, by_id) -> dict:
    """Per op kind: wall, driver self (wall not covered by jobs) and the
    executor run time of its jobs — whether the op is driver- or
    executor-bound."""
    import tracing

    root_of = {}
    for s in spans:
        if s.id in in_timed:
            p = s
            while not p.name.startswith("op."):
                p = by_id[p.parent]
            root_of[s.id] = p.id
    intervals: dict[int, list] = {}
    run_s: dict[int, float] = {}
    for sid, rid in root_of.items():
        g = groups.get(f"span-{sid}")
        if g:
            intervals.setdefault(rid, []).extend(g["intervals"])
            run_s[rid] = run_s.get(rid, 0.0) + g["executor_run_s"]
    out: dict[str, dict] = {}
    for s in timed_ops:
        d = out.setdefault(s.name[3:], {"ops": 0, "wall_s": 0.0, "driver_self_s": 0.0, "executor_run_s": 0.0})
        d["ops"] += 1
        d["wall_s"] += s.end - s.start
        d["driver_self_s"] += (s.end - s.start) - tracing.covered(intervals.get(s.id, []), s.start, s.end)
        d["executor_run_s"] += run_s.get(s.id, 0.0)
    return out


def stop_jvm() -> None:
    """End the Spark JVM this process launched and wait for it: the JVM
    exits when its stdin pipe closes; its Python workers follow it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None or getattr(gw, "proc", None) is None:
        return
    gw.shutdown()
    gw.proc.stdin.close()
    try:
        gw.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gw.proc.kill()
        gw.proc.wait()


# ---------------------------------------------------------------------------
def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["lake", "curate"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "hudi_delete_view_spark")):
        _log(f"no hudi_delete_view_spark package under {ROOT}: run from a full checkout")
        return 2
    try:
        record = run(args.workload, args.seed, args.seconds, bool(args.trace))
    finally:
        stop_jvm()
    os.makedirs(OUT_DIR, exist_ok=True)
    with open(os.path.join(OUT_DIR, "records.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
    print(json.dumps({"report": record["report"], "stamps": record["stamps"]}))
    print(json.dumps(record["result"]), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
