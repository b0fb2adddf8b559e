#!/usr/bin/env python3
"""Compare the per-layer metrics of traced benchmark runs.

    python3 perfbench/layer_diff.py A.json [A.json ...] -- B.json [B.json ...]
    python3 perfbench/layer_diff.py --exact A.json -- B.json

Each file is a trace that `run.py --trace 1` leaves under .bench_out/.
Per workload, it prints the per-layer metrics that moved from side A
(before) to side B (after):

- exact counts (jobs, stages, tasks, bytes, rows) whenever they differ,
  with the keys whose own counts differ;
- times and ratios when the change of the medians is larger than the
  run-to-run spread (max - min) seen on either side. With one run a
  side there is no spread, and every change is shown.

With --exact it only checks that per-key row counts and every exact
count are identical, per key and in total, and exits 1 if not. That is
the seed-independence check: give it traces of one workload made with
two seeds. The keys whose own counts move with key order are listed;
their totals still have to agree.
"""
import json
import statistics
import sys

EXACT_UNITS = ("count", "bytes")


def load(paths):
    by_wl = {}
    for p in paths:
        with open(p) as f:
            t = json.load(f)
        by_wl.setdefault(t["workload"], []).append(t)
    return by_wl


def per_key(trace, name):
    """Key -> summed value (a key can appear once per pass)."""
    out = {}
    for k in trace["keys"]:
        out[k["key"]] = out.get(k["key"], 0.0) + k["metrics"].get(name, 0.0)
    return out


def rows(trace):
    return {k["key"]: k["rows"] for k in trace["keys"]}


def spread(xs):
    return max(xs) - min(xs) if len(xs) > 1 else 0.0


def fmt(v):
    return f"{v:.6g}"


def exact_names(trace):
    return [n for n, u in sorted(trace["units"].items()) if u in EXACT_UNITS]


def diff(a_runs, b_runs, wl):
    units = a_runs[0]["units"]
    print(f"== {wl}: {len(a_runs)} run(s) -> {len(b_runs)} run(s)")
    moved = 0
    for name in sorted(units):
        av = [t["totals"][name] for t in a_runs]
        bv = [t["totals"][name] for t in b_runs]
        ma, mb = statistics.median(av), statistics.median(bv)
        if units[name] in EXACT_UNITS:
            if set(av) == set(bv) and len(set(av)) == 1:
                continue
            ka, kb = per_key(a_runs[0], name), per_key(b_runs[0], name)
            keys = sorted(k for k in set(ka) | set(kb) if ka.get(k) != kb.get(k))
            print(f"  {name:24s} {fmt(ma)} -> {fmt(mb)} {units[name]} "
                  f"({fmt(mb - ma)}); keys: {', '.join(keys[:12])}"
                  + (" ..." if len(keys) > 12 else ""))
            moved += 1
        else:
            noise = max(spread(av), spread(bv))
            if abs(mb - ma) <= noise:
                continue
            rel = (mb - ma) / ma if ma else float("inf")
            print(f"  {name:24s} {fmt(ma)} -> {fmt(mb)} {units[name]} "
                  f"({rel:+.1%}; spread A {fmt(spread(av))}, B {fmt(spread(bv))})")
            moved += 1
    if not moved:
        print("  nothing moved beyond run-to-run spread")


def exact(a, b, wl):
    ok = True
    ra, rb = rows(a), rows(b)
    bad_rows = sorted(k for k in set(ra) | set(rb) if ra.get(k) != rb.get(k))
    if bad_rows:
        ok = False
        print(f"{wl}: row counts differ for {bad_rows}")
    order_dependent = set()
    for name in exact_names(a):
        ka, kb = per_key(a, name), per_key(b, name)
        order_dependent |= {k for k in set(ka) | set(kb) if ka.get(k) != kb.get(k)}
        if a["totals"][name] != b["totals"][name]:
            ok = False
            print(f"{wl}: total {name} differs: {fmt(a['totals'][name])} "
                  f"vs {fmt(b['totals'][name])}")
    print(f"{wl}: seeds {a['seed']} and {b['seed']}: "
          f"{'identical totals and row counts' if ok else 'MISMATCH'}; "
          f"keys whose own counts move with order: {sorted(order_dependent) or 'none'}")
    return ok


def main():
    args = sys.argv[1:]
    check = "--exact" in args
    args = [x for x in args if x != "--exact"]
    if "--" not in args:
        sys.exit(__doc__)
    i = args.index("--")
    a, b = load(args[:i]), load(args[i + 1:])
    ok = True
    for wl in sorted(set(a) & set(b)):
        if check:
            ok &= exact(a[wl][0], b[wl][0], wl)
        else:
            diff(a[wl], b[wl], wl)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
