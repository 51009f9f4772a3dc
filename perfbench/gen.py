"""Seeded inputs for the perfbench workloads, plus the generator's own
record of what every commit did, which the benchmark checks outputs against.

Everything here is plain Python driven by ``random.Random(seed)``: the same
seed gives byte-identical inputs (``digest()``), and any seed gives the same
sizes and the same stated properties (``PROPERTIES``).
"""

from __future__ import annotations

import datetime as _dt
import hashlib
import json
import random

# Word counts of the repo's document test corpus (``documents.parquet`` of
# the sf0.1 test data; sf0.001 and sf0.01 have the same make-up): 31 words,
# near-uniform except the rare "dup". The curate generator draws its words
# with these weights.
CORPUS_WORD_COUNTS = {
    "a": 8877, "agg": 8912, "batch": 8829, "big": 9057, "column": 9127, "customer": 9017,
    "data": 9104, "dup": 255, "fast": 8926, "filter": 9063, "group": 9040, "hash": 9024,
    "join": 9080, "key": 8893, "line": 8951, "merge": 9157, "order": 8971, "part": 8929,
    "query": 8881, "row": 8925, "scan": 8863, "slow": 8960, "small": 9100, "sort": 9005,
    "spark": 9182, "stream": 9117, "table": 9144, "the": 8925, "value": 9112, "vector": 9119,
    "window": 9159,
}
# The rest of what was measured on that corpus.
CORPUS_MEASURED = {
    "docs": 5000,
    "words": 270704,
    "words_per_doc": "10 to 100, each length about equally often (mean 54.1)",
    "top_word_share": 0.034,
    "top10_word_share": 0.337,
    "exact_duplicate_share": 0.0016,
}

# Sizes and the properties every seed keeps. Copied into each result record
# and into BENCHMARK.json's workload descriptions.
PROPERTIES = {
    "lake": {
        "lineitem_cow_rows": 12000,
        "orders_mor_rows": 6000,
        "partitions": 3,
        "file_groups_per_partition": 2,
        "cow_commits": [
            "C1 bulk_insert",
            "C2 upsert: 3% updates + 2% inserts",
            "C3 delete 0.1% spread over all partitions",
            "C4 delete 5% clustered in partition R",
            "C5 delete 20% spread over all partitions",
        ],
        "mor_commits": [
            "M1 bulk_insert",
            "M2 upsert_delta: 5% updates + 1% inserts",
            "M3 delete_delta 2% clustered in partition F",
            "M4 compaction",
            "M5 delete_delta 10% spread over all partitions",
        ],
        "exports": ["delta(lineitem_cow@C5)", "iceberg(lineitem_cow@C5)", "hudi_mor(orders_mor@M5)"],
        "cached_dv_share": 0.5,
        "delete_views_per_cycle": [
            "COW C3, C4, C5: each cold, then served from the materialized view",
            "Delta C5", "Iceberg C4", "native MOR M3 (delete still in logs)", "Hudi MOR M5",
        ],
        "change_feeds_per_cycle": ["cdc(C2, C5]", "incremental(C1, C5]"],
        "stream_per_cycle": [
            "COW upsert: 2% updates + 1% inserts, all in one partition (1/3 of file groups)",
            "COW delete: 1% of live keys spread over every file group",
            "MOR upsert_delta and delete_delta of the same shapes",
            "MOR compaction (every 2 delta commits)",
            "materialized-view refresh (every 2 COW commits)",
            "a snapshot read after every commit",
        ],
    },
    "curate": {
        "docs_per_batch": 300,
        # a cycle runs one batch through the pipeline, alternating; warm-up
        # runs one more batch of the same size and make-up
        "batches": 2,
        # words and doc lengths follow the repo's document test corpus
        # (CORPUS_MEASURED): its 31 words at their measured frequencies,
        # lengths drawn uniformly from its range
        "words_per_doc": [10, 100],
        "vocabulary": len(CORPUS_WORD_COUNTS),
        "word_frequencies": "CORPUS_WORD_COUNTS",
        "corpus_measured": CORPUS_MEASURED,
        # planted far above the corpus's own 0.16%, so that collapsing
        # exact duplicates before LSH has work to do
        "exact_duplicate_share": 0.10,
        "near_duplicate_share": 0.10,
        "near_duplicate_edit": "one word replaced in a source doc of at least 40 words; "
                               "5-char shingle Jaccard at least 0.9",
        "unrelated_pair_jaccard": "5-char shingles: median ~0.17, max ~0.31 (threshold 0.8)",
        "benchmark_docs": 30,
        "contaminated_share": 0.05,
        "contamination": "a 12-word span of a benchmark doc copied into the doc",
        "embedding_corpus": 400,
        "embedding_queries": 20,
        "embedding_dim": 64,
    },
}

_T0 = _dt.datetime(2026, 1, 1)


def commit_ts(i: int) -> str:
    """Fixed-width commit timestamp of the i-th commit (one minute apart)."""
    return (_T0 + _dt.timedelta(minutes=i)).strftime("%Y%m%d%H%M%S")


def row_token(*parts) -> int:
    """Per-row 60-bit token; an output's hash is the sum of its row tokens,
    so it does not depend on row order. Spark computes the same value with
    ``checks.row_token_col``."""
    return int(hashlib.md5("|".join(str(p) for p in parts).encode()).hexdigest()[:15], 16)


class TableModel:
    """The generator's record of a keyed table: the live rows after every
    commit, and the commit that last wrote each live key."""

    def __init__(self):
        self.rows: dict[int, dict] = {}
        self.last_write: dict[int, str] = {}
        self.commits: list[str] = []
        self.states: dict[str, tuple[dict, dict]] = {}
        self.deleted: dict[str, dict[int, dict]] = {}

    def _publish(self, ts: str, deleted: dict[int, dict]) -> None:
        self.commits.append(ts)
        self.states[ts] = (dict(self.rows), dict(self.last_write))
        self.deleted[ts] = deleted

    def write(self, ts: str, rows: list[dict]) -> None:
        for r in rows:
            self.rows[r["k"]] = r
            self.last_write[r["k"]] = ts
        self._publish(ts, {})

    def delete(self, ts: str, keys: list[int]) -> None:
        gone = {k: self.rows.pop(k) for k in keys}
        for k in keys:
            self.last_write.pop(k)
        self._publish(ts, gone)

    def compact(self, ts: str) -> None:
        self._publish(ts, {})

    # -- expected answers: (row count, order-insensitive hash) -----------
    @staticmethod
    def _digest(tokens) -> tuple[int, int]:
        tokens = list(tokens)
        return len(tokens), sum(tokens)

    def snapshot(self, ts: str) -> tuple[int, int]:
        rows, _lw = self.states[ts]
        return self._digest(row_token(k, r["ver"]) for k, r in rows.items())

    def delete_view(self, ts: str) -> tuple[int, int]:
        return self._digest(row_token(k, r["ver"]) for k, r in self.deleted[ts].items())

    def incremental(self, begin: str, end: str) -> tuple[int, int]:
        rows, lw = self.states[end]
        return self._digest(
            row_token(k, r["ver"]) for k, r in rows.items() if begin < lw[k] <= end
        )

    def cdc(self, begin: str, end: str) -> tuple[int, int]:
        before, _ = self.states[begin]
        after, lw = self.states[end]
        toks = []
        for k, r in after.items():
            if k not in before:
                toks.append(row_token(k, "insert"))
            elif begin < lw[k] <= end:
                toks.append(row_token(k, "update"))
        toks.extend(row_token(k, "delete") for k in before if k not in after)
        return self._digest(toks)

    def keys_in(self, ts: str) -> list[int]:
        return sorted(self.states[ts][0])


# ---------------------------------------------------------------------------
# row builders
# ---------------------------------------------------------------------------
LINEITEM_COLUMNS = [
    "k", "l_returnflag", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
    "l_extendedprice", "l_discount", "l_tax", "l_linestatus", "l_shipdate",
    "l_comment", "ver",
]
ORDERS_COLUMNS = [
    "k", "o_orderstatus", "o_custkey", "o_totalprice", "o_orderdate",
    "o_orderpriority", "o_clerk", "o_comment", "ver",
]

_COMMENT_WORDS = ["final", "pending", "regular", "express", "ironic", "bold",
                  "quick", "silent", "careful", "even", "special", "furious"]


def _lineitem_row(rng: random.Random, k: int, ver: int) -> dict:
    q = float(rng.randint(1, 50))
    return {
        "k": k,
        "l_returnflag": rng.choice("ANR"),
        "l_partkey": rng.randint(1, 20000),
        "l_suppkey": rng.randint(1, 1000),
        "l_linenumber": rng.randint(1, 7),
        "l_quantity": q,
        "l_extendedprice": round(q * rng.uniform(900.0, 2000.0), 2),
        "l_discount": round(rng.randint(0, 10) / 100.0, 2),
        "l_tax": round(rng.randint(0, 8) / 100.0, 2),
        "l_linestatus": rng.choice("FO"),
        "l_shipdate": (_dt.date(1995, 1, 1) + _dt.timedelta(days=rng.randint(0, 2500))).isoformat(),
        "l_comment": " ".join(rng.choice(_COMMENT_WORDS) for _ in range(4)),
        "ver": ver,
    }


def _orders_row(rng: random.Random, k: int, ver: int) -> dict:
    return {
        "k": k,
        "o_orderstatus": rng.choice("FOP"),
        "o_custkey": rng.randint(1, 1500),
        "o_totalprice": round(rng.uniform(1000.0, 400000.0), 2),
        "o_orderdate": (_dt.date(1995, 1, 1) + _dt.timedelta(days=rng.randint(0, 2500))).isoformat(),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]),
        "o_clerk": f"Clerk#{rng.randint(1, 1000):09d}",
        "o_comment": " ".join(rng.choice(_COMMENT_WORDS) for _ in range(5)),
        "ver": ver,
    }


def _revise(rng: random.Random, row: dict, field: str) -> dict:
    """An update: same key and partition, next version, one field changed."""
    new = dict(row)
    new["ver"] = row["ver"] + 1
    v = row[field]
    new[field] = v + 1 if isinstance(v, int) else round(v + 1.0, 2)
    return new


def _pick(rng: random.Random, keys: list[int], n: int) -> list[int]:
    return sorted(rng.sample(keys, max(1, n)))


# ---------------------------------------------------------------------------
# lake: lineitem-shaped COW + orders-shaped MOR, short timelines
# ---------------------------------------------------------------------------
def lake_inputs(seed: int) -> dict:
    """Set-up commit batches for the two lake tables, their models, and the
    commit streams that continue them.

    Returns {"cow": [(op, ts, rows_or_keys)], "mor": [...], "cow_model",
    "mor_model", "cow_stream", "mor_stream"}; ops are
    bulk_insert/upsert/delete (COW) and
    bulk_insert/upsert_delta/delete_delta/compact (MOR)."""
    props = PROPERTIES["lake"]
    rng = random.Random(f"lake:{seed}")
    n = props["lineitem_cow_rows"]

    cow = TableModel()
    steps = []
    base = [_lineitem_row(rng, k, 0) for k in range(n)]
    steps.append(("bulk_insert", commit_ts(1), base))
    cow.write(commit_ts(1), base)
    live = cow.keys_in(commit_ts(1))
    upd = [_revise(rng, cow.rows[k], "l_quantity") for k in _pick(rng, live, n * 3 // 100)]
    ins = [_lineitem_row(rng, k, 0) for k in range(n, n + n * 2 // 100)]
    steps.append(("upsert", commit_ts(2), upd + ins))
    cow.write(commit_ts(2), upd + ins)
    live = cow.keys_in(commit_ts(2))
    d3 = _pick(rng, live, len(live) // 1000)
    steps.append(("delete", commit_ts(3), d3))
    cow.delete(commit_ts(3), d3)
    live = cow.keys_in(commit_ts(3))
    in_r = [k for k in live if cow.rows[k]["l_returnflag"] == "R"]
    d4 = _pick(rng, in_r, len(live) * 5 // 100)
    steps.append(("delete", commit_ts(4), d4))
    cow.delete(commit_ts(4), d4)
    live = cow.keys_in(commit_ts(4))
    d5 = _pick(rng, live, len(live) * 20 // 100)
    steps.append(("delete", commit_ts(5), d5))
    cow.delete(commit_ts(5), d5)

    m = props["orders_mor_rows"]
    mor = TableModel()
    msteps = []
    base = [_orders_row(rng, k, 0) for k in range(m)]
    msteps.append(("bulk_insert", commit_ts(1), base))
    mor.write(commit_ts(1), base)
    live = mor.keys_in(commit_ts(1))
    upd = [_revise(rng, mor.rows[k], "o_totalprice") for k in _pick(rng, live, m * 5 // 100)]
    ins = [_orders_row(rng, k, 0) for k in range(m, m + m // 100)]
    msteps.append(("upsert_delta", commit_ts(2), upd + ins))
    mor.write(commit_ts(2), upd + ins)
    live = mor.keys_in(commit_ts(2))
    in_f = [k for k in live if mor.rows[k]["o_orderstatus"] == "F"]
    d3 = _pick(rng, in_f, len(live) * 2 // 100)
    msteps.append(("delete_delta", commit_ts(3), d3))
    mor.delete(commit_ts(3), d3)
    msteps.append(("compact", commit_ts(4), None))
    mor.compact(commit_ts(4))
    live = mor.keys_in(commit_ts(4))
    d5 = _pick(rng, live, len(live) * 10 // 100)
    msteps.append(("delete_delta", commit_ts(5), d5))
    mor.delete(commit_ts(5), d5)
    return {
        "cow": steps, "mor": msteps, "cow_model": cow, "mor_model": mor,
        "cow_stream": CommitStream(f"lake:{seed}:cow", cow, _lineitem_row, "l_returnflag",
                                   "l_quantity", mor=False),
        "mor_stream": CommitStream(f"lake:{seed}:mor", mor, _orders_row, "o_orderstatus",
                                   "o_totalprice", mor=True),
    }


class CommitStream:
    """Endless seeded commit stream continuing a table's model: batch i
    depends only on the seed and the model state before it."""

    def __init__(self, name: str, model: TableModel, row_fn, part_field: str,
                 revise_field: str, mor: bool):
        self.rng = random.Random(name)
        self.model = model
        self.row_fn = row_fn
        self.part_field = part_field
        self.revise_field = revise_field
        self.mor = mor
        self.size = len(model.rows)
        self.next_key = max(model.rows) + 1

    def _commit(self, op: str, payload) -> tuple[str, str, object]:
        ts = commit_ts(len(self.model.commits) + 1)
        if op in ("upsert", "upsert_delta"):
            self.model.write(ts, payload)
        elif op == "compact":
            self.model.compact(ts)
        else:
            self.model.delete(ts, payload)
        return op, ts, payload

    def upsert(self) -> tuple[str, str, list[dict]]:
        rows = self.model.rows
        part = self.rng.choice(sorted({r[self.part_field] for r in rows.values()}))
        in_part = [k for k in sorted(rows) if rows[k][self.part_field] == part]
        upd = [_revise(self.rng, rows[k], self.revise_field)
               for k in _pick(self.rng, in_part, self.size * 2 // 100)]
        ins = []
        for k in range(self.next_key, self.next_key + self.size // 100):
            r = self.row_fn(self.rng, k, 0)
            r[self.part_field] = part
            ins.append(r)
        self.next_key += self.size // 100
        return self._commit("upsert_delta" if self.mor else "upsert", upd + ins)

    def delete(self) -> tuple[str, str, list[int]]:
        keys = _pick(self.rng, sorted(self.model.rows), len(self.model.rows) // 100)
        return self._commit("delete_delta" if self.mor else "delete", keys)

    def compact(self) -> tuple[str, str, None]:
        return self._commit("compact", None)


def mv_expected(model: TableModel) -> tuple[int, int]:
    """Expected ``groupBy(l_returnflag).agg(count, sum(l_partkey))``."""
    agg: dict[str, list[int]] = {}
    for r in model.rows.values():
        a = agg.setdefault(r["l_returnflag"], [0, 0])
        a[0] += 1
        a[1] += r["l_partkey"]
    return len(agg), sum(row_token(g, c, t) for g, (c, t) in agg.items())


# ---------------------------------------------------------------------------
# curate: document batches with planted duplicates, benchmark docs, vectors
# ---------------------------------------------------------------------------
SHINGLE_K = 5  # operators.dedup's default character shingle
NEAR_DUP_MIN_WORDS = 40
NEAR_DUP_MIN_JACCARD = 0.9
SPAN_WORDS = 12  # contamination span, longer than decontaminate's 8-grams
DECON_N = 8


def _shingles(text: str) -> set[str]:
    return {text[i:i + SHINGLE_K] for i in range(len(text) - SHINGLE_K + 1)}


def _jaccard(a: str, b: str) -> float:
    x, y = _shingles(a), _shingles(b)
    return len(x & y) / len(x | y)


def _grams(words: list[str]) -> set[tuple]:
    return {tuple(words[i:i + DECON_N]) for i in range(len(words) - DECON_N + 1)}


def curate_inputs(seed: int) -> dict:
    """Document batches with planted exact and near duplicates, benchmark
    docs some training docs copy a span from, and embeddings with one
    planted near neighbour per query. Words and doc lengths follow the
    repo's document test corpus (``CORPUS_WORD_COUNTS``).

    The expected outputs ride along: per batch the ids that survive exact
    dedup, then MinHash dedup, then decontamination."""
    p = PROPERTIES["curate"]
    rng = random.Random(f"curate:{seed}")
    vocab = sorted(CORPUS_WORD_COUNTS)
    weights = [CORPUS_WORD_COUNTS[w] for w in vocab]
    lo, hi = p["words_per_doc"]

    def doc() -> list[str]:
        return rng.choices(vocab, weights, k=rng.randint(lo, hi))

    bench_docs = [doc() for _ in range(p["benchmark_docs"])]
    spans = [d for d in bench_docs if len(d) >= SPAN_WORDS]
    bench_grams = set().union(*(_grams(d) for d in bench_docs))
    batches = []
    next_id = 0
    for n in [p["docs_per_batch"]] * (1 + p["batches"]):
        n_exact = int(n * p["exact_duplicate_share"])
        n_near = int(n * p["near_duplicate_share"])
        n_orig = n - n_exact - n_near
        originals = [doc() for _ in range(n_orig)]
        ids = list(range(next_id, next_id + n))
        next_id += n
        # planted contamination: copy a span of a benchmark doc
        n_cont = int(n * p["contaminated_share"])
        hosts = [i for i in range(n_orig) if len(originals[i]) >= SPAN_WORDS]
        contaminated_orig = set(rng.sample(hosts, n_cont))
        for i in sorted(contaminated_orig):
            src = rng.choice(spans)
            at = rng.randint(0, len(src) - SPAN_WORDS)
            to = rng.randint(0, len(originals[i]) - SPAN_WORDS)
            originals[i][to:to + SPAN_WORDS] = src[at:at + SPAN_WORDS]
        texts = [" ".join(d) for d in originals]
        # duplicates copy originals that carry no contamination; near
        # duplicates copy long ones, so one replaced word keeps the pair
        # well above the MinHash threshold
        clean_pool = [i for i in range(n_orig) if i not in contaminated_orig]
        exact_src = rng.sample(clean_pool, n_exact)
        taken = set(exact_src)
        near_src = rng.sample([i for i in clean_pool if i not in taken
                               and len(originals[i]) >= NEAR_DUP_MIN_WORDS], n_near)
        docs = [(ids[i], texts[i]) for i in range(n_orig)]
        for j, src in enumerate(exact_src):
            docs.append((ids[n_orig + j], texts[src]))
        for j, src in enumerate(near_src):
            while True:
                d = list(originals[src])
                at = rng.randrange(len(d))
                d[at] = rng.choice([w for w in vocab if w != d[at]])  # never an exact copy
                near = " ".join(d)
                if _jaccard(near, texts[src]) >= NEAR_DUP_MIN_JACCARD:
                    break
            docs.append((ids[n_orig + n_exact + j], near))
        order = list(range(n))
        rng.shuffle(order)
        docs = [docs[i] for i in order]
        # expectations: originals have the smallest ids, so they survive;
        # contamination is recomputed from the n-grams, not assumed
        after_exact = sorted(ids[:n_orig] + ids[n_orig + n_exact:])
        after_minhash = sorted(ids[:n_orig])
        contaminated = sorted(ids[i] for i in range(n_orig) if _grams(originals[i]) & bench_grams)
        clean = sorted(set(after_minhash) - set(contaminated))
        batches.append({
            "docs": docs,
            "after_exact": after_exact,
            "after_minhash": after_minhash,
            "contaminated": contaminated,
            "clean": clean,
        })

    dim = p["embedding_dim"]

    def unit(v):
        s = sum(x * x for x in v) ** 0.5
        return [x / s for x in v]

    corpus = [unit([rng.gauss(0, 1) for _ in range(dim)]) for _ in range(p["embedding_corpus"])]
    queries = []
    planted = {}
    for q in range(p["embedding_queries"]):
        target = rng.randrange(len(corpus))
        vec = unit([x + rng.gauss(0, 0.02) for x in corpus[target]])
        qid = 100000 + q
        queries.append((qid, vec))
        planted[qid] = target
    return {
        "benchmark_docs": [(900000 + i, " ".join(d)) for i, d in enumerate(bench_docs)],
        "warmup_batch": batches[0],
        "batches": batches[1:],
        "corpus": list(enumerate(corpus)),
        "queries": queries,
        "planted_neighbour": planted,
    }


def inputs(workload: str, seed: int):
    if workload == "lake":
        return lake_inputs(seed)
    if workload == "curate":
        return curate_inputs(seed)
    raise ValueError(f"unknown workload {workload!r}")


def _canonical(obj):
    if isinstance(obj, TableModel):
        return None
    if isinstance(obj, CommitStream):
        # the stream is endless: fingerprint its first commits
        return [obj.upsert(), obj.delete(), obj.compact()]
    if isinstance(obj, dict):
        return {str(k): _canonical(v) for k, v in obj.items()}
    if isinstance(obj, (list, tuple)):
        return [_canonical(v) for v in obj]
    return obj


def digest(workload: str, seed: int) -> str:
    """sha256 of the canonical JSON of a workload's generated inputs."""
    blob = json.dumps(_canonical(inputs(workload, seed)), sort_keys=True).encode()
    return hashlib.sha256(blob).hexdigest()
