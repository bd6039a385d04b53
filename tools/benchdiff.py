#!/usr/bin/env python3
"""Compare two benchmark artifacts (dev tool), first (parent) against
second (change):

  tools/benchdiff.py A.json B.json

- graft.Bench JSON: per-query warm-time ratios on the common query set,
  plus totals and diagnostics, so a round-over-round slowdown is
  attributable to specific queries (or to the host, via the embedded
  loadavg/GC evidence).
- perfbench result.json (`.bench_build/perfbench/results/*/result.json`):
  the end-to-end metrics, the per-layer metrics and the spine ladder's
  per-layer self times side by side, each with its B/A ratio. For two
  traced query_suite runs of one seed it also checks the memo layer: a
  `memo drift` line means `queries.memo_hits` or `queries.memo_misses`
  differ, which a results-neutral change must not cause, and it attributes
  Spark jobs per query: a `jobs drift` line names a query whose jobs, summed
  over its runs (`suite.runs[].jobs`), differ. For two traced spine runs of one seed it checks the wire: a `wire drift` line names a
  sink byte count or pipeline row count (`WIRE_KEYS`) that differs, which
  a change that keeps the wire format must not cause."""
import sys, json

import re


def load(path):
    d = json.load(open(path))
    if "queries_warm" in d or "queries" in d:
        return d, d.get("queries_warm", d.get("queries"))
    # driver-recorded artifact: the JSON line survives only as a (possibly
    # head-truncated) 'tail' string — scrape the queries_warm pairs from it
    tail = d.get("tail", "")
    m = re.search(r'"queries_warm":\{([^}]*)\}', tail)
    seg = m.group(1) if m else tail
    pairs = dict((k, float(v)) for k, v in
                 re.findall(r'"([a-z0-9_]+)":([0-9.]+)', seg))
    pairs.pop("sf", None)
    return d, pairs


def is_perfbench(d):
    return isinstance(d.get("end_to_end"), dict) and isinstance(d.get("per_layer"), dict)


def ratio(a, b):
    if a is None or b is None:
        return "     -"
    return f"{b / a:6.2f}" if a != 0 else "   inf" if b != 0 else "  1.00"


def table(title, a, b):
    """Rows of name, A, B, B/A over the union of keys (missing shows '-')."""
    print(f"\n{title}")
    width = max([len(k) for k in set(a) | set(b)] + [4])
    print(f"  {'name':{width}s} {'A':>14s} {'B':>14s} {'B/A':>6s}")
    fmt = lambda v: f"{v:14.4g}" if v is not None else f"{'-':>14s}"
    for k in sorted(set(a) | set(b)):
        va, vb = a.get(k), b.get(k)
        print(f"  {k:{width}s} {fmt(va)} {fmt(vb)} {ratio(va, vb)}")


def perfbench_diff(pa, a, pb, b):
    for src, d in ((pa, a), (pb, b)):
        st = d.get("stamp", {})
        print(f"{src}: workload={st.get('workload')} seed={st.get('seed')} "
              f"trace={st.get('trace')} master={st.get('master')} "
              f"failed={d.get('failed')}/{d.get('attempted')} "
              f"checks_failed={sum(1 for c in d.get('checks', []) if not c.get('ok'))}")
    table("end_to_end", a["end_to_end"], b["end_to_end"])
    table("per_layer", a["per_layer"], b["per_layer"])
    la, lb = a.get("ladder", {}), b.get("ladder", {})
    if la or lb:
        table("ladder self_s", la.get("self_s", {}), lb.get("self_s", {}))
    memo_check(a, b)
    jobs_check(a, b)
    wire_check(a, b)


MEMO_KEYS = ("queries.memo_hits", "queries.memo_misses")
# identical across two spine runs of one seed on one engine (checked on
# repeated parent runs); the ladder's timings are not
WIRE_KEYS = ("sinks.avro_bytes", "sinks.kafka_bytes", "sources.corrupt_rows",
             "state.flagged_rows", "topology.discarded_rows")


def same_seed_traced(a, b, workload):
    sa, sb = a.get("stamp", {}), b.get("stamp", {})
    return (sa.get("workload") == sb.get("workload") == workload
            and sa.get("trace") and sb.get("trace")
            and sa.get("seed") == sb.get("seed"))


def memo_check(a, b):
    """Same seed, both traced query_suite runs: the memo lookups must match."""
    if not same_seed_traced(a, b, "query_suite"):
        return
    va = [a["per_layer"].get(k) for k in MEMO_KEYS]
    vb = [b["per_layer"].get(k) for k in MEMO_KEYS]
    if va != vb:
        print(f"\nmemo drift: hits {va[0]} -> {vb[0]}, misses {va[1]} -> {vb[1]}")
    else:
        print(f"\nmemo: {va[0]:g} hits, {va[1]:g} misses on both sides")


def query_jobs(d):
    """Spark jobs per query, summed over its traced runs."""
    jobs = {}
    for r in d.get("suite", {}).get("runs", []):
        if r.get("jobs") is not None:
            jobs[r["query"]] = jobs.get(r["query"], 0) + r["jobs"]
    return jobs


def jobs_check(a, b):
    """Same seed, both traced query_suite runs: jobs per query, side by side."""
    if not same_seed_traced(a, b, "query_suite"):
        return
    ja, jb = query_jobs(a), query_jobs(b)
    drift = [(q, ja.get(q), jb.get(q)) for q in sorted(set(ja) | set(jb))
             if ja.get(q) != jb.get(q)]
    print()
    for q, va, vb in drift:
        print(f"jobs drift: {q} {va} -> {vb}")
    if not drift:
        print("jobs: identical on both sides")


def wire_check(a, b):
    """Same seed, both traced spine runs: sink bytes and row counts must match."""
    if not same_seed_traced(a, b, "spine"):
        return
    drift = [(k, a["per_layer"].get(k), b["per_layer"].get(k)) for k in WIRE_KEYS]
    drift = [(k, va, vb) for k, va, vb in drift if va != vb]
    print()
    for k, va, vb in drift:
        print(f"wire drift: {k} {va} -> {vb}")
    if not drift:
        print("wire: identical on both sides")


def bench_diff(pa, a, qa, pb, b, qb):
    common = sorted(set(qa) & set(qb))
    print(f"common queries: {len(common)}  "
          f"only-{pa}: {len(set(qa)-set(qb))}  "
          f"only-{pb}: {len(set(qb)-set(qa))}")
    sa = sum(qa[q] for q in common)
    sb = sum(qb[q] for q in common)
    print(f"common warm totals: {sa:.1f}s vs {sb:.1f}s  ratio {sb/sa:.2f}x")
    for src, d in ((pa, a), (pb, b)):
        diag = d.get("diag", {})
        if diag:
            print(f"{src}: wall={diag.get('wall_sec', 0):.0f}s "
                  f"load={diag.get('loadavg_start')}->{diag.get('loadavg_end')} "
                  f"gc={diag.get('gc_total_ms')}ms")
    ratios = sorted(((qb[q] / qa[q] if qa[q] > 0 else float('inf'), q)
                     for q in common), reverse=True)
    print("\nworst regressions (b/a):")
    for r, q in ratios[:10]:
        print(f"  {q:30s} {qa[q]:6.2f} -> {qb[q]:6.2f}  {r:5.2f}x")
    print("best improvements (b/a):")
    for r, q in ratios[-5:]:
        print(f"  {q:30s} {qa[q]:6.2f} -> {qb[q]:6.2f}  {r:5.2f}x")


def main(pa, pb):
    da, db = json.load(open(pa)), json.load(open(pb))
    if is_perfbench(da) and is_perfbench(db):
        perfbench_diff(pa, da, pb, db)
    elif is_perfbench(da) or is_perfbench(db):
        sys.exit("benchdiff: cannot compare a perfbench result with a graft.Bench artifact")
    else:
        (a, qa), (b, qb) = load(pa), load(pb)
        bench_diff(pa, a, qa, pb, b, qb)


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    main(sys.argv[1], sys.argv[2])
