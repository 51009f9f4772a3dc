"""The perfbench workloads: ``lake`` and ``curate``.

Each workload builds its tables through the program's public write API
(``setup``) and then hands out cycles of operations (``cycle``). A cycle is
the same sequence of operations for every seed (the seed makes the data), so
every seed measures the same mix in the same order. The runner drains every
read through ``checks.sink``.

An ``Op`` is one timed call. ``prepare`` runs before the clock starts (for
example removing a materialized delete view, or building the commit's
input DataFrame); ``check`` runs after it stops and returns the output's
(row count, order-insensitive hash), which is compared with ``expect``
from the generator's record. Ops that share a ``verify_key`` share one
check: a commit is checked by the snapshot read of the state it made.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
from dataclasses import dataclass, field
from typing import Callable

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import gen
from checks import digest

from hudi_delete_view_spark.operators import curation as op_curation
from hudi_delete_view_spark.operators import dedup as op_dedup
from hudi_delete_view_spark.operators import similarity as op_similarity
from hudi_delete_view_spark.operators import text as op_text
from hudi_delete_view_spark.plans import ivm, slices
from hudi_delete_view_spark.plans.timeline import Timeline
from hudi_delete_view_spark.sources import cow as src_cow
from hudi_delete_view_spark.sources import delete_view as src_dv
from hudi_delete_view_spark.sources import delta as src_delta
from hudi_delete_view_spark.sources import hudi as src_hudi
from hudi_delete_view_spark.sources import iceberg as src_iceberg
from hudi_delete_view_spark.sources import mor as src_mor


@dataclass
class Op:
    kind: str  # e.g. "dv_cold", "cdc", "upsert"
    category: str  # the end-to-end latency metric it feeds
    table: str
    commit: str
    run: Callable[[], DataFrame | None]
    prepare: Callable[[], None] | None = None
    check: Callable[[], tuple[int, int]] | None = None
    expect: Callable[[], tuple[int, int]] | None = None
    verify_key: tuple = ()
    writes: bool = False  # commits or checkpoints data (write_s), else a read (read_s)
    batch_bytes: int = 0  # user bytes a commit hands over (write_amp)
    tags: dict = field(default_factory=dict)

    def __post_init__(self):
        if not self.verify_key:
            self.verify_key = (self.table, self.kind, self.commit)


def _frame(spark, rows: list[dict], columns: list[str], ddl: str) -> tuple[DataFrame, int]:
    """The input DataFrame and its size in bytes as the user hands it over
    (the pandas frame it is made from)."""
    pdf = pd.DataFrame(rows, columns=columns)
    return spark.createDataFrame(pdf, ddl), int(pdf.memory_usage(index=False, deep=True).sum())


LINEITEM_DDL = (
    "k long, l_returnflag string, l_partkey long, l_suppkey long, l_linenumber long, "
    "l_quantity double, l_extendedprice double, l_discount double, l_tax double, "
    "l_linestatus string, l_shipdate string, l_comment string, ver long"
)
ORDERS_DDL = (
    "k long, o_orderstatus string, o_custkey long, o_totalprice double, o_orderdate string, "
    "o_orderpriority string, o_clerk string, o_comment string, ver long"
)


def _keys_frame(spark, model: gen.TableModel, keys: list[int], part: str,
                ts_before: str) -> tuple[DataFrame, int]:
    """Delete keys with their partition value, as of the commit before."""
    rows, _ = model.states[ts_before]
    return _frame(spark, [(k, rows[k][part]) for k in keys], ["k", part], f"k long, {part} string")


class Workload:
    name = ""
    warm_by_checking = False  # warm up by checking each read once, not by a cycle

    def __init__(self, spark, workdir: str, seed: int):
        self.spark = spark
        self.workdir = workdir
        self.seed = seed
        self.sizes = gen.PROPERTIES[self.name]

    def setup(self) -> None:
        raise NotImplementedError

    def cycle(self, i: int) -> list[Op]:
        raise NotImplementedError

    def warmup_cycle(self, i: int) -> list[Op]:
        """Ops of the i-th untimed warm-up cycle."""
        return self.cycle(i)

    def layer_counters(self, samples: list[dict], tracer) -> dict[str, tuple[float, str]]:
        """Per-layer counts for the traced run: name -> (value, unit)."""
        return {}


# ---------------------------------------------------------------------------
# lake
# ---------------------------------------------------------------------------
def mv_plan(t):
    return t["lineitem"].groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"), F.sum("l_partkey").alias("s"))


class Lake(Workload):
    """The paper's question and the reads around it, on a live lake: delete
    views of seeded delete commits on every format (native COW, cold and
    served from the materialized view; native MOR; Delta, Iceberg and Hudi
    MOR exports), cdc and incremental reads; and a seeded commit stream on
    the same native tables (upserts, key deletes, MOR delta commits and
    compaction, a materialized-view refresh), each commit followed by a
    snapshot read of the state it made."""

    name = "lake"
    warm_by_checking = True

    def setup(self) -> None:
        spark, wd = self.spark, self.workdir
        inp = gen.lake_inputs(self.seed)
        self.cow_model = inp["cow_model"]
        self.mor_model = inp["mor_model"]
        self.streams = {"cow": inp["cow_stream"], "mor": inp["mor_stream"]}
        self.li = os.path.join(wd, "lineitem_cow")
        self.ord = os.path.join(wd, "orders_mor")
        self.paths = {"cow": self.li, "mor": self.ord}
        self.cow = src_cow.CowTable(spark, self.li, ["k"], "l_returnflag", num_file_groups=2)
        self.mor = src_mor.MorTable(spark, self.ord, ["k"], "o_orderstatus", num_file_groups=2)
        self.tables = {"cow": self.cow, "mor": self.mor}
        self._build(self.cow, self.cow_model, "l_returnflag", gen.LINEITEM_COLUMNS, LINEITEM_DDL, inp["cow"])
        self._build(self.mor, self.mor_model, "o_orderstatus", gen.ORDERS_COLUMNS, ORDERS_DDL, inp["mor"])
        self.c = list(self.cow_model.commits)  # C1..C5
        self.m = list(self.mor_model.commits)  # M1..M5
        self.cdc_range = (self.c[1], self.c[4])
        self.incremental_range = (self.c[0], self.c[4])
        self.delta = src_delta.export_delta(self.cow, os.path.join(wd, "lineitem_delta"))
        self.iceberg = src_iceberg.export_iceberg(self.cow, os.path.join(wd, "lineitem_iceberg"))
        self.hudi = src_hudi.export_hudi_mor(self.mor, os.path.join(wd, "orders_hudi_mor"))
        self.snapshot_ids = _iceberg_snapshot_ids(self.iceberg)
        self.mv = ivm.AutoMaterializedView(
            spark, os.path.join(wd, "lineitem_mv"), {"lineitem": self.cow}, mv_plan)
        self.mv.refresh()

    def _build(self, table, model, part: str, cols: list[str], ddl: str, steps) -> None:
        prev = None
        for op, ts, payload in steps:
            if op == "compact":
                table.compact(ts)
            elif op in ("delete", "delete_delta"):
                getattr(table, op)(_keys_frame(self.spark, model, payload, part, prev)[0], ts)
            else:
                getattr(table, op)(_frame(self.spark, payload, cols, ddl)[0], ts)
            prev = ts

    # -- reads -----------------------------------------------------------
    def _dv_cow(self, ts: str, cold: bool) -> Op:
        def drop_view():
            shutil.rmtree(os.path.join(self.li, ".delete", ts), ignore_errors=True)

        return Op(
            "dv_cold" if cold else "dv_cached", "dv_cold" if cold else "dv_cached", "lineitem_cow", ts,
            run=lambda: src_dv.delete_view(self.spark, self.li, ts),
            prepare=drop_view if cold else None,
            check=lambda: digest(src_dv.delete_view(self.spark, self.li, ts), "k", "ver"),
            expect=lambda: self.cow_model.delete_view(ts),
            tags={"format": "cow"},
        )

    def _reads(self) -> list[Op]:
        """The same reads every cycle, so the checks made while warming up
        cover the timed cycles: every COW delete commit cold and cached,
        one delete commit per other format, one cdc and one incremental
        range."""
        spark, c, m = self.spark, self.c, self.m
        ops = [op for ts in c[2:] for op in (self._dv_cow(ts, True), self._dv_cow(ts, False))]
        v, s, mt, ht = 4, 3, m[2], m[4]  # Delta C5, Iceberg C4, MOR M3 (in logs), Hudi M5
        sid = self.snapshot_ids[s]
        ops.append(Op(
            "dv_delta", "dv_cold", "lineitem_delta", c[v],
            run=lambda: src_delta.read_delta_delete_view(spark, self.delta, v, ["k"]),
            check=lambda: digest(src_delta.read_delta_delete_view(spark, self.delta, v, ["k"]), "k", "ver"),
            expect=lambda: self.cow_model.delete_view(c[v]), tags={"format": "delta"}))
        ops.append(Op(
            "dv_iceberg", "dv_cold", "lineitem_iceberg", c[s],
            run=lambda: src_iceberg.read_iceberg_delete_view(spark, self.iceberg, sid, ["k"]),
            check=lambda: digest(
                src_iceberg.read_iceberg_delete_view(spark, self.iceberg, sid, ["k"]), "k", "ver"),
            expect=lambda: self.cow_model.delete_view(c[s]), tags={"format": "iceberg"}))
        ops.append(Op(
            "dv_mor", "dv_cold", "orders_mor", mt,
            run=lambda: self.mor.delete_view(mt),
            check=lambda: digest(self.mor.delete_view(mt), "k", "ver"),
            expect=lambda: self.mor_model.delete_view(mt), tags={"format": "mor"}))
        ops.append(Op(
            "dv_hudi", "dv_cold", "orders_hudi_mor", ht,
            run=lambda: src_hudi.read_hudi_mor_delete_view(spark, self.hudi, ht),
            check=lambda: digest(src_hudi.read_hudi_mor_delete_view(spark, self.hudi, ht), "k", "ver"),
            expect=lambda: self.mor_model.delete_view(ht), tags={"format": "hudi"}))
        b, e = self.cdc_range
        ops.append(Op(
            "cdc", "change_feed", "lineitem_cow", f"{b}..{e}",
            run=lambda: self.cow.cdc(b, e),
            check=lambda: digest(self.cow.cdc(b, e), "k", "op"),
            expect=lambda: self.cow_model.cdc(b, e), tags={"begin": b, "end": e}))
        ib, ie = self.incremental_range
        ops.append(Op(
            "incremental", "change_feed", "lineitem_cow", f"{ib}..{ie}",
            run=lambda: self.cow.incremental(ib, ie),
            check=lambda: digest(self.cow.incremental(ib, ie), "k", "ver"),
            expect=lambda: self.cow_model.incremental(ib, ie)))
        return ops

    # -- writes ----------------------------------------------------------
    def _commit_op(self, name: str, make_batch) -> list[Op]:
        """A commit (timed), then the snapshot read of the state it made."""
        st = self.streams[name]
        t = self.tables[name]
        part = st.part_field
        ddl, cols = ((LINEITEM_DDL, gen.LINEITEM_COLUMNS) if name == "cow"
                     else (ORDERS_DDL, gen.ORDERS_COLUMNS))
        holder = {}

        def prepare():
            op, ts, payload = make_batch()
            holder.update(op=op, ts=ts)
            if op == "compact":
                commit.tags["log_files"] = sum(
                    len(sl.log_paths) for sl in slices.resolve_slices(t.timeline).values())
            elif op in ("delete", "delete_delta"):
                holder["df"], commit.batch_bytes = _keys_frame(
                    self.spark, st.model, payload, part, st.model.commits[-2])
            else:
                holder["df"], commit.batch_bytes = _frame(self.spark, payload, cols, ddl)
            commit.kind = op
            commit.category = "compact" if op == "compact" else "commit"
            commit.commit = snap.commit = ts
            commit.verify_key = snap.verify_key = (name, "state", ts)

        def run():
            if holder["op"] == "compact":
                t.compact(holder["ts"])
            else:
                getattr(t, holder["op"])(holder["df"], holder["ts"])

        table = os.path.basename(self.paths[name])
        commit = Op("commit", "commit", table, "", run=run, prepare=prepare, writes=True,
                    tags={"path": self.paths[name]})
        snap = Op("snapshot", "snapshot", table, "", run=lambda: t.snapshot(),
                  check=lambda: digest(t.snapshot(as_of=snap.commit), "k", "ver"),
                  expect=lambda: st.model.snapshot(snap.commit))
        return [commit, snap]

    def _mv_op(self) -> Op:
        def prepare():
            op.commit = self.cow_model.commits[-1]
            op.verify_key = ("lineitem_mv", "refresh", op.commit)

        def run():
            self.mv.refresh()

        op = Op("mv_refresh", "mv_refresh", "lineitem_mv", "", run=run, prepare=prepare, writes=True,
                check=lambda: digest(self.mv.serve(), "l_returnflag", "n", "s"),
                expect=lambda: gen.mv_expected(self.cow_model))
        return op

    def cycle(self, i: int) -> list[Op]:
        cow, mor = self.streams["cow"], self.streams["mor"]
        # the view refresh follows the two COW commits it has to absorb, the
        # compaction the two MOR delta commits it merges
        return (self._reads()
                + self._commit_op("cow", cow.upsert) + self._commit_op("cow", cow.delete) + [self._mv_op()]
                + self._commit_op("mor", mor.upsert) + self._commit_op("mor", mor.delete)
                + self._commit_op("mor", mor.compact))

    # -- traced run ------------------------------------------------------
    def layer_counters(self, samples, tracer):
        """Delete-view funnel from commit stats (candidate files and rows
        the anti-join probes, rows it finds deleted), the share of delete
        views served from the materialized view, and writer work from
        commit stats."""
        tl = Timeline(self.li)
        files = rows = deleted = n = 0
        for smp in samples:
            if smp["kind"] not in ("dv_cold", "dv_cached"):
                continue
            meta = tl.commit_metadata(smp["commit"])
            n += 1
            deleted += meta.total_records_deleted
            for _p, st in meta.all_stats():
                if st.num_deletes > 0 and st.prev_commit is not None:
                    files += 1
                    prev = tl.commit_metadata(st.prev_commit).find_write_stat(st.file_id)
                    rows += prev.num_writes if prev else 0
        hits = [sp.counters["result"] for sp in tracer.spans
                if sp.name == "sources.delete_view.validity" and "result" in sp.counters
                and sp.op is not None]
        n = max(1, n)
        out = {
            "sources.delete_view.candidate_files": (files / n, "count/op"),
            "sources.delete_view.candidate_rows": (rows / n, "count/op"),
            "sources.delete_view.deleted_rows": (deleted / n, "count/op"),
            "sources.delete_view.useful_row_ratio": (deleted / rows if rows else 0.0, "ratio"),
            "sources.delete_view.cache_hit_ratio": (sum(hits) / len(hits) if hits else 0.0, "ratio"),
        }
        for name, mod in (("cow", "sources.cow"), ("mor", "sources.mor")):
            tl = Timeline(self.paths[name])
            commits = [s for s in samples if s["table"] == os.path.basename(self.paths[name])
                       and s["category"] in ("commit", "compact")]
            written = changed = 0
            for smp in commits:
                for _p, st in tl.commit_metadata(smp["commit"]).all_stats():
                    written += st.num_writes
                    changed += st.num_inserts + st.num_update_writes + st.num_deletes
            out[f"{mod}.rows_rewritten_per_row_changed"] = (written / changed if changed else 0.0, "ratio")
            out[f"{mod}.bytes_written"] = (
                sum(s["bytes_written"] for s in commits) / max(1, len(commits)), "B/commit")
        merged = [s["tags"]["log_files"] for s in samples if s["category"] == "compact"]
        out["sources.mor.log_files_merged"] = (sum(merged) / max(1, len(merged)), "count/compaction")
        return out


def _iceberg_snapshot_ids(path: str) -> list[int]:
    """Snapshot ids of an exported Iceberg table in commit order."""
    def version(p):
        return int(os.path.basename(p).split(".")[0].lstrip("v") or 0)

    latest = max(glob.glob(os.path.join(path, "metadata", "v*.metadata.json")), key=version)
    with open(latest) as f:
        meta = json.load(f)
    snaps = sorted(meta["snapshots"], key=lambda s: s.get("sequence-number", 0))
    return [s["snapshot-id"] for s in snaps]


# ---------------------------------------------------------------------------
# curate
# ---------------------------------------------------------------------------
class Curate(Workload):
    """The LLM-data pipeline per document batch: exact dedup, MinHash dedup,
    text statistics and decontamination, with stage outputs checkpointed
    as Parquet; plus an LSH cosine top-k over embeddings."""

    name = "curate"

    def setup(self) -> None:
        self.inp = gen.curate_inputs(self.seed)
        self.dir = os.path.join(self.workdir, "curate")
        self.batches = {"warmup": self.inp["warmup_batch"]}
        self.batches.update({f"batch{b}": batch for b, batch in enumerate(self.inp["batches"])})
        docs = [("doc_id", pa.int64()), ("text", pa.string())]
        vecs = [("vec_id", pa.int64()), ("embedding", pa.list_(pa.float64()))]
        for name, batch in self.batches.items():
            self._write_input(batch["docs"], docs, name, "input")
        self._write_input(self.inp["benchmark_docs"], docs, "benchmark")
        self._write_input(self.inp["corpus"], vecs, "corpus")
        self._write_input(self.inp["queries"], vecs, "queries")

    def _write_input(self, rows: list[tuple], fields: list[tuple], *parts) -> None:
        """Write generated rows as Parquet, one file per default-parallelism
        slice as ``spark.createDataFrame(rows).write`` would, without a Spark
        job (the inputs are data files, not lake tables)."""
        path = os.path.join(self.dir, *parts)
        os.makedirs(path)
        schema = pa.schema(fields)
        n = self.spark.sparkContext.defaultParallelism
        for i in range(n):
            chunk = rows[i * len(rows) // n:(i + 1) * len(rows) // n]
            cols = [pa.array([r[j] for r in chunk], type=f[1]) for j, f in enumerate(fields)]
            pq.write_table(pa.Table.from_arrays(cols, schema=schema),
                           os.path.join(path, f"part-{i:05d}.parquet"))

    def _read(self, *parts) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.dir, *parts))

    def _ids(self, ids: list[int]) -> tuple[int, int]:
        return len(ids), sum(gen.row_token(i) for i in ids)

    def _batch_ops(self, name: str, i: int) -> list[Op]:
        batch = self.batches[name]

        def exact():
            out = op_dedup.exact_dedup(self._read(name, "input"), ["text"], ["doc_id"])
            out.write.mode("overwrite").parquet(os.path.join(self.dir, name, "exact"))

        def minhash():
            out = op_dedup.minhash_dedup(self._read(name, "exact"), "doc_id", "text")
            out.write.mode("overwrite").parquet(os.path.join(self.dir, name, "minhash"))

        def decontaminated():
            clean, _hits = op_curation.decontaminate(
                self._read(name, "minhash"), self._read("benchmark"), "doc_id", "text")
            return clean

        def stats_expect():
            texts = dict(batch["docs"])
            return len(batch["after_minhash"]), sum(
                gen.row_token(i, len(texts[i].split()), len(texts[i])) for i in batch["after_minhash"])

        tags = {"batch": name, "cycle": i, "docs": len(batch["docs"])}
        return [
            Op("exact_dedup", "curate", name, "", run=exact, writes=True,
               check=lambda: digest(self._read(name, "exact"), "doc_id"),
               expect=lambda: self._ids(batch["after_exact"]), tags=tags),
            Op("minhash_dedup", "curate", name, "", run=minhash, writes=True,
               check=lambda: digest(self._read(name, "minhash"), "doc_id"),
               expect=lambda: self._ids(batch["after_minhash"]), tags=tags),
            Op("text_stats", "curate", name, "", run=lambda: op_text.text_stats(self._read(name, "minhash")),
               check=lambda: digest(op_text.text_stats(self._read(name, "minhash")),
                                    "doc_id", "n_tokens", "n_chars_computed"),
               expect=stats_expect, tags=tags),
            Op("decontaminate", "curate", name, "", run=decontaminated,
               check=lambda: digest(decontaminated(), "doc_id"),
               expect=lambda: self._ids(batch["clean"]), tags=tags),
        ]

    def layer_counters(self, samples, tracer):
        """MinHash funnel per timed batch, counted with extra jobs after the
        timed loop: LSH candidate pairs and verified pairs."""
        cand = ver = 0
        ran = [name for name in self.batches if name != "warmup"
               and os.path.isdir(os.path.join(self.dir, name, "exact"))]
        for name in ran:
            df = self._read(name, "exact")  # what minhash_dedup saw
            cand += op_dedup.minhash_lsh_candidate_pairs(df, "doc_id", "text").count()
            ver += op_dedup.minhash_verified_pairs(df, "doc_id", "text").count()
        nb = max(1, len(ran))
        return {
            "operators.dedup.lsh_candidate_pairs": (cand / nb, "count/batch"),
            "operators.dedup.verified_pairs": (ver / nb, "count/batch"),
            "operators.dedup.verify_yield": (ver / cand if cand else 0.0, "ratio"),
        }

    def _topk(self) -> DataFrame:
        return op_similarity.cosine_topk_lsh(self._read("corpus"), self._read("queries"), k=5)

    def warmup_cycle(self, i: int) -> list[Op]:
        return self._cycle("warmup", i)

    def cycle(self, i: int) -> list[Op]:
        return self._cycle(f"batch{i % len(self.inp['batches'])}", i)

    def _cycle(self, batch: str, i: int) -> list[Op]:
        ops = self._batch_ops(batch, i)
        planted = self.inp["planted_neighbour"]
        ops.append(Op(
            "cosine_topk_lsh", "topk", "embeddings", "",
            run=self._topk,
            check=lambda: digest(self._topk().filter("rank = 1"), "query_id", "neighbor_id"),
            expect=lambda: (len(planted), sum(gen.row_token(q, n) for q, n in planted.items()))))
        return ops


WORKLOADS = {w.name: w for w in (Lake, Curate)}
