"""Compare perfbench records like with like.

    python3 perfbench/compare.py BASE.jsonl NEW.jsonl   # medians and quartiles per metric
    python3 perfbench/compare.py --overhead RECORDS.jsonl  # tracing overhead per workload

Records are the lines ``run.py`` appends to ``.perfbench_out/records.jsonl``.
Two sets of records are compared only when they agree on cpus, input sizes
and tracing; anything else is refused, because a 32-core number says nothing
about a 4-core one. The tracing overhead is the one comparison across
tracing: untraced ``ops_per_s`` against traced ``trace.ops_per_s`` on the
same workload, cpus and sizes.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys

LIKE = ("cpus", "sizes", "trace")


def load(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def like_key(rec: dict) -> tuple:
    st = rec["stamps"]
    return tuple(json.dumps(st[k], sort_keys=True) for k in LIKE)


def by_workload(recs: list[dict]) -> dict[str, list[dict]]:
    out: dict[str, list[dict]] = {}
    for r in recs:
        out.setdefault(r["stamps"]["workload"], []).append(r)
    return out


def unlike(a: list[dict], b: list[dict]) -> list[str]:
    """Reasons two record sets may not be compared (empty if they may)."""
    keys_a = {like_key(r) for r in a}
    keys_b = {like_key(r) for r in b}
    reasons = []
    if len(keys_a) > 1 or len(keys_b) > 1:
        reasons.append("a record set mixes cpus, sizes or tracing")
    if keys_a and keys_b and keys_a != keys_b:
        ka, kb = next(iter(keys_a)), next(iter(keys_b))
        reasons += [f"{name} differs: {x} vs {y}" for name, x, y in zip(LIKE, ka, kb) if x != y]
    return reasons


def summary(values: list[float]) -> dict:
    q = statistics.quantiles(values, n=4) if len(values) > 1 else [values[0]] * 3
    return {"n": len(values), "q1": q[0], "median": q[1], "q3": q[2],
            "spread": (q[2] - q[0]) / q[1] if q[1] else None}


def metric_values(recs: list[dict]) -> dict[str, list[float]]:
    out: dict[str, list[float]] = {}
    for r in recs:
        for name, m in r["result"]["metrics"].items():
            out.setdefault(name, []).append(m["value"])
    return out


def compare(base: list[dict], new: list[dict]) -> tuple[dict, list[str]]:
    report, refused = {}, []
    wa, wb = by_workload(base), by_workload(new)
    for w in sorted(set(wa) & set(wb)):
        reasons = unlike(wa[w], wb[w])
        if reasons:
            refused.append(f"{w}: " + "; ".join(reasons))
            continue
        va, vb = metric_values(wa[w]), metric_values(wb[w])
        report[w] = {m: {"base": summary(va[m]), "new": summary(vb[m]),
                         "ratio": (statistics.median(vb[m]) / statistics.median(va[m])
                                   if statistics.median(va[m]) else None)}
                     for m in sorted(set(va) & set(vb))}
    return report, refused


def tracing_overhead(recs: list[dict]) -> dict:
    """Per workload: share of untraced ops_per_s lost when tracing."""
    out = {}
    for w, rs in sorted(by_workload(recs).items()):
        groups: dict[tuple, dict[bool, list[float]]] = {}
        for r in rs:
            st = r["stamps"]
            key = (st["cpus"], json.dumps(st["sizes"], sort_keys=True))
            m = r["result"]["metrics"]
            rate = m["trace.ops_per_s"]["value"] if st["trace"] else m["ops_per_s"]["value"]
            groups.setdefault(key, {True: [], False: []})[st["trace"]].append(rate)
        for key, g in groups.items():
            if g[True] and g[False]:
                off, on = statistics.median(g[False]), statistics.median(g[True])
                out[w] = {"cpus": key[0], "untraced_ops_per_s": off, "traced_ops_per_s": on,
                          "overhead": (off - on) / off}
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("files", nargs="+")
    ap.add_argument("--overhead", action="store_true")
    args = ap.parse_args(argv)
    if args.overhead:
        print(json.dumps(tracing_overhead([r for f in args.files for r in load(f)]), indent=1))
        return 0
    if len(args.files) != 2:
        ap.error("give BASE and NEW record files")
    report, refused = compare(load(args.files[0]), load(args.files[1]))
    print(json.dumps(report, indent=1))
    for line in refused:
        print(f"refused: {line}", file=sys.stderr)
    return 2 if refused else 0


if __name__ == "__main__":
    sys.exit(main())
