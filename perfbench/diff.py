#!/usr/bin/env python3
"""Compare two benchmark records, counters before wall time.

    python3 perfbench/diff.py BASE.json NEW.json [--bench BENCHMARK.json]

The records are the full ones ``run.py`` keeps under
``$CARGO_TARGET_DIR/records/<workload>-seed<n>-trace<t>.json``; take
traced records (``--trace 1``) of the same workload and seed, they carry
the counters.

1. Counters are compared exactly first: jobs, stages and tasks per op and
   per pass, shuffle MB and streaming state rows. Any difference means the
   plan changed.
2. Wall metrics are then compared against the bounds in BENCHMARK.json.
3. The verdict is "plan changed", or, with equal counters and a slower
   wall clock, "same plan, host slower" when the host calibration loop
   (host.calib_ms) or the CPU other processes used (host.other_cpu) moved
   with it, else "same plan, slower".
"""

import argparse
import json

COUNTERS = ["spark.jobs", "spark.stages", "spark.tasks",
            "spark.shuffle_write_mb", "spark.shuffle_read_mb",
            "streaming.state_rows", "streaming.batches",
            "plans.spatial_rewrites", "operators.components_jobs"]
PER_OP = ["jobs", "stages", "tasks", "shuffle_write_mb", "shuffle_read_mb"]
HOST_CALIB_SLACK = 0.05  # calib ratio beyond which the host counts as slower
HOST_OTHER_CPU = 0.5     # extra cores used by other processes


def counter_diffs(a, b):
    out = []
    for k in COUNTERS:
        x, y = a.get("per_layer", {}).get(k), b.get("per_layer", {}).get(k)
        if x is not None and y is not None and round(x, 6) != round(y, 6):
            out.append(f"{k}: {x:g} -> {y:g}")
    pa, pb = a.get("per_op", {}), b.get("per_op", {})
    for op in sorted(set(pa) | set(pb)):
        for k in PER_OP:
            x = pa.get(op, {}).get(k)
            y = pb.get(op, {}).get(k)
            # per traced pass; compare the last pass of each (warm)
            xv = round(x[-1], 6) if x else None
            yv = round(y[-1], 6) if y else None
            if xv != yv:
                out.append(f"{op}.{k}: {xv} -> {yv}")
    return out


def wall_diffs(a, b, bench):
    out = []
    for m in bench["end_to_end"]:
        k = m["name"]
        x, y = a["end_to_end"].get(k), b["end_to_end"].get(k)
        if not x or y is None:
            continue
        worse = (y - x) / x if m["better"] == "lower" else (x - y) / x
        flag = "WORSE" if worse > m["bound"] else "ok"
        out.append((flag, f"{k}: {x:.4g} -> {y:.4g} {m['unit']} "
                          f"({worse:+.1%} worse, bound {m['bound']:.0%})"))
    return out


def host(r):
    h = r.get("host", {})
    return h.get("calib_ms"), h.get("other_cpu")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("base")
    ap.add_argument("new")
    ap.add_argument("--bench", default="BENCHMARK.json")
    a = ap.parse_args()
    with open(a.base) as f:
        base = json.load(f)
    with open(a.new) as f:
        new = json.load(f)
    with open(a.bench) as f:
        bench = json.load(f)
    if base["workload"] != new["workload"]:
        raise SystemExit("records are of different workloads")

    counters = counter_diffs(base, new)
    have_counters = bool(base.get("per_op")) and bool(new.get("per_op"))
    print("== counters" + ("" if have_counters else
                           " (absent: compare traced records)"))
    for line in counters or ["identical"]:
        print("  " + line)
    print("== wall")
    walls = wall_diffs(base, new, bench)
    for flag, line in walls:
        print(f"  [{flag}] {line}")
    (c0, o0), (c1, o1) = host(base), host(new)
    print(f"== host: calib_ms {c0} -> {c1}, other_cpu {o0} -> {o1}")
    slower = any(f == "WORSE" for f, _ in walls)
    host_slower = (c0 and c1 and c1 > c0 * (1 + HOST_CALIB_SLACK)) or \
        (o0 is not None and o1 is not None and o1 > o0 + HOST_OTHER_CPU)
    if counters:
        verdict = "plan changed"
    elif not slower:
        verdict = "same plan, within bounds"
    elif host_slower:
        verdict = "same plan, host slower"
    else:
        verdict = "same plan, slower"
    print("verdict: " + verdict)


if __name__ == "__main__":
    main()
