#!/usr/bin/env python3
"""Split each drop's event→gold freshness into its terms.

    python3 tools/freshness_budget.py <spans.jsonl>

Reads the spans of one traced `live_tail` run (`python3 perfbench/run.py
--workload live_tail --seed <n> --seconds 5 --trace 1` leaves them in
.bench_build/runs/live_tail-s<n>-t1/trace/live_tail-<n>/spans.jsonl) and
prints, over the drops that reached gold, the p50 and p90 of every term
on the path from a drop's due time to its bars being in gold.

A drop is in gold at the end of the first hop-3 batch whose watermark
passes the end of its newest bar (its `drop` span ends there). That batch
is the *flush* batch. Walking back from it by start time:
  - hop 3's *data* batch is its last batch with input that started
    before the flush batch: the one that advanced the watermark;
  - hop 2's batch is its last batch with input that started before that;
  - hop 1's *carrying tick* is its last batch with input that started
    before hop 2's.
A pickup runs from the end of the upstream batch to the start of the
downstream one; it is negative when the downstream hop woke on the
upstream's sink entry before the upstream's progress ended. The overlap
term is how long hop 3's data batch ran alongside hop 2's no-data
(state-eviction-only) batches. p50 is the median, p90 the nearest rank,
as perfbench computes freshness.
"""
import json
import math
import statistics
import sys


def pct(xs, q):
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, math.ceil(q * len(s)) - 1))]


def last_before(batches, t):
    """The last batch with input that started before `t`."""
    xs = [b for b in batches if b["rows_in"] > 0 and b["start_ms"] < t]
    return xs[-1] if xs else None


def overlap(b, others):
    return sum(max(0.0, min(b["end_ms"], o["end_ms"]) - max(b["start_ms"], o["start_ms"]))
               for o in others)


def budget(spans):
    hops = {h: sorted((s for s in spans if s["name"] == f"{h}.batch"),
                      key=lambda s: s["start_ms"]) for h in ("hop1", "hop2", "hop3")}
    drops = [s for s in spans if s["name"] == "drop"]
    idle2 = [b for b in hops["hop2"] if b["rows_in"] == 0]
    terms = {}
    unmatched = 0
    for d in drops:
        flush = next((b for b in hops["hop3"] if abs(b["end_ms"] - d["end_ms"]) < 0.5), None)
        data = flush and last_before(hops["hop3"], flush["start_ms"])
        h2 = data and last_before(hops["hop2"], data["start_ms"])
        h1 = h2 and last_before(hops["hop1"], h2["start_ms"])
        if h1 is None:
            unmatched += 1
            continue
        for name, v in [
                ("due → carrying hop-1 tick", h1["start_ms"] - d["start_ms"]),
                ("hop 1 batch", h1["end_ms"] - h1["start_ms"]),
                ("hop 1 → hop 2 pickup", h2["start_ms"] - h1["end_ms"]),
                ("hop 2 batch", h2["end_ms"] - h2["start_ms"]),
                ("hop 2 → hop 3 pickup", data["start_ms"] - h2["end_ms"]),
                ("hop 3 data batch", data["end_ms"] - data["start_ms"]),
                ("hop 3 flush batch", flush["end_ms"] - flush["start_ms"]),
                ("hop 2 no-data overlapping hop 3 data", overlap(data, idle2)),
                ("tick → gold", flush["end_ms"] - h1["start_ms"]),
                ("due → gold (freshness)", d["end_ms"] - d["start_ms"])]:
            terms.setdefault(name, []).append(v)
    return hops, len(drops), unmatched, terms


def main():
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    with open(sys.argv[1]) as f:
        spans = [json.loads(line) for line in f if line.strip()]
    hops, n, unmatched, terms = budget(spans)
    print(f"drops: {n - unmatched} in gold, {unmatched} not traced to a hop-3 batch")
    print("batches (with input): " + ", ".join(
        f"{h} {len(bs)} ({sum(1 for b in bs if b['rows_in'] > 0)})" for h, bs in hops.items()))
    print(f"{'term':40s} {'p50 ms':>9s} {'p90 ms':>9s}")
    for name, xs in terms.items():
        print(f"{name:40s} {statistics.median(xs):9.0f} {pct(xs, 0.9):9.0f}")


if __name__ == "__main__":
    main()
