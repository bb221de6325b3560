#!/usr/bin/env python3
"""One benchmark run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It builds the engine with the harness
(``build.py``), generates the seeded inputs (``gen.py``), drives the
workload in one JVM (``scala/Harness.scala``), checks the outputs, and
prints one JSON line as the last line of stdout:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones.
The full record (every pass, op and counter, plus the span dump) is kept
under ``$CARGO_TARGET_DIR/records`` for ``diff.py``.
"""

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("alaska_publish", "curation_batch", "stream_maintain")

END_TO_END = {"setup_s": "s", "first_pass_s": "s", "pass_s": "s",
              "op_p50_ms": "ms", "op_p90_ms": "ms", "rows_per_s": "rows/s",
              "ok_ratio": "ratio", "peak_rss_mb": "MB"}

PER_LAYER = {
    **{f"spark.{k}": u for k, u in [
        ("plan_ms", "ms"), ("jobs", "count"), ("stages", "count"),
        ("tasks", "count"), ("task_ms", "ms"), ("task_deser_ms", "ms"),
        ("job_wall_ms", "ms"), ("shuffle_write_mb", "MB"),
        ("shuffle_read_mb", "MB"), ("spill_mb", "MB"), ("input_mb", "MB"),
        ("output_mb", "MB"), ("gc_ms", "ms")]},
    "sources.kml_parse_ms": "ms", "sources.kml_features": "count",
    "sources.geojson_write_ms": "ms",
    "geo.make_valid_ms": "ms", "geo.union_ms": "ms", "geo.wkb_ms": "ms",
    "functions.minhash_us_per_doc": "us", "functions.md5_hash48_us_per_doc": "us",
    "functions.rolling_hash_us_per_doc": "us", "functions.winnow_us_per_doc": "us",
    "plans.spatial_rewrites": "count",
    "operators.components_ms": "ms", "operators.components_jobs": "count",
    **{f"pipeline.{k}_ms": "ms" for k in (
        "clean", "chronology", "enrich", "kml_desc", "geometry", "merge",
        "publish", "stagecache_miss")},
    "pipeline.stagecache_hit_ratio": "ratio",
    **{f"queries.{m}_ms": "ms" for m in (
        "text", "vector", "relational", "geo", "multimodal")},
    "queries.index_build_s": "s",
    "streaming.batches": "count", "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms", "streaming.plan_ms": "ms",
    "streaming.offset_ms": "ms", "streaming.wal_commit_ms": "ms",
    "streaming.state_commit_ms": "ms", "streaming.state_rows": "count",
    "streaming.state_mb": "MB", "streaming.jobs_per_batch": "count",
    "multimodal.ahash_us_per_image": "us",
    "host.calib_ms": "ms", "host.other_cpu": "cores",
    "trace.overhead_s": "s",
}

# tables each op reads, for rows_per_s (row counts come from the generator)
OP_TABLES = {
    "t06_minhash_lsh": ["documents"], "t08_winnow_fingerprint": ["documents"],
    "t15_incremental_dedup": ["documents"], "v20_knn_graph": ["embeddings"],
    "q05_star_join": ["lineitem", "orders", "customer", "nation", "region"],
    "g01_bbox_contains": ["customer"], "m13_image_neardup": ["documents"],
    "s15_stream_session_windows": ["events"],
    "s22_stream_partitioned_ingest": ["events"],
}

JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
# the harness is killed past this: build, setup, first pass and checks,
# plus the warm passes, whose count grows with --seconds
FIXED_ALLOWANCE_S, PER_SECOND_S = 140, 6


def oracle_check(root, check_dir, tables):
    """Runs the repository's oracle compare; returns {op: PASS|FAIL|...}."""
    r = subprocess.run([sys.executable, os.path.join(root, "tools",
                                                     "check_oracle.py"),
                        check_dir, tables],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=60)
    verdict = {}
    for line in r.stdout.splitlines():
        line = line.strip()
        if line.startswith("[") and "]" in line:
            kind = line[1:line.index("]")].strip()
            name = line[line.index("]") + 1:].strip().split(":")[0]
            verdict[name] = "PASS" if kind == "PASS" else kind
    return verdict, r.stdout


def self_times(spans):
    """Self time per span name: duration minus what its children cover."""
    child = [0.0] * len(spans)
    for s in spans:
        if s["parent"] >= 0 and s["end"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    out = {}
    for i, s in enumerate(spans):
        if s["end"] is not None:
            out[s["name"]] = out.get(s["name"], 0.0) + \
                (s["end"] - s["start"]) - child[i]
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()
    root = os.getcwd()
    out_root = os.path.abspath(os.environ.get("CARGO_TARGET_DIR",
                                              ".bench_build"))
    classes = build.build(root, out_root)

    run_dir = os.path.join(out_root, "runs",
                           f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    inputs, work, tmp = (os.path.join(run_dir, d)
                         for d in ("inputs", "work", "tmp"))
    for d in (work, tmp):
        os.makedirs(d)
    facts = gen.generate(inputs, a.seed, a.workload)
    out_json = os.path.join(run_dir, "record.json")
    env = dict(os.environ, SPARK_GRAFT_INDEX_DIR=os.path.join(run_dir, "index"),
               SPARK_LOCAL_DIRS=tmp)
    jars = build.spark_jars()
    cmd = (["java", "-XX:-UsePerfData", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JDK_OPENS]
           + ["-cp", f"{classes}:{jars}/*", "perfbench.Harness", a.workload,
              inputs, work, str(a.seconds), str(a.trace), out_json])
    budget = max(30.0, FIXED_ALLOWANCE_S + PER_SECOND_S * a.seconds
                 - (time.time() - t_start))
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env)
        try:
            rc = p.wait(timeout=budget)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit(f"harness timed out after {budget:.0f}s; "
                             f"log in {run_dir}/jvm.log")
    if rc != 0 or not os.path.exists(out_json):
        with open(os.path.join(run_dir, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-3000:])
        raise SystemExit(f"harness failed (exit {rc})")
    with open(out_json) as fh:
        rec = json.load(fh)

    # ---- output checks
    wrong = []
    if a.workload == "alaska_publish":
        exp, chk = facts["alaska"], rec["check"]
        if chk["published_features"] != exp["published_features"]:
            wrong.append("publish: feature count")
        if chk["raw_features"] != exp["raw_features"]:
            wrong.append("publish: raw feature count")
        if chk["valid_geometries"] != chk["published_features"]:
            wrong.append("publish: invalid geometry")
        if chk["republish_identical"] is not True:
            wrong.append("publish: republish not byte-identical")
        rows_per_pass = len(rec["op_list"]) * (
            exp["certs"] + exp["chron_rows"] + exp["kml_files"])
        oracle_out = ""
    else:
        verdict, oracle_out = oracle_check(
            root, os.path.join(work, "check"), os.path.join(inputs, "tables"))
        ops = rec["op_list"]
        for op in ops:
            if verdict.get(op) != "PASS":
                wrong.append(f"{op}: {verdict.get(op, 'no result')}")
        rows = facts["table_rows"]
        rows_per_pass = sum(rows[t] for op in ops for t in OP_TABLES[op])
    wrong_names = {w.split(":")[0] for w in wrong}
    # a wrong output counts once per op execution of that name
    n_wrong = sum(1 for o in rec["ops"] if o["op"] in wrong_names) + \
        (1 if a.workload == "alaska_publish" and wrong else 0)
    attempted = int(rec["attempted"])
    failed = int(rec["failed"]) + n_wrong

    lat = [o["ms"] for o in rec["ops"]]
    pass_s = statistics.median(rec["pass_s"])
    e2e = {
        "setup_s": rec["setup_s"],
        "first_pass_s": rec["first_pass_s"],
        "pass_s": pass_s,
        "op_p50_ms": statistics.median(lat) if lat else 0.0,
        "op_p90_ms": (statistics.quantiles(lat, n=10, method="inclusive")[8]
                      if len(lat) > 1 else max(lat, default=0.0)),
        "rows_per_s": rows_per_pass / pass_s,
        "ok_ratio": 1.0 - min(failed, attempted) / attempted,
        "peak_rss_mb": rec["peak_rss_mb"],
    }
    spans = []
    spans_path = os.path.join(work, "spans.json")
    if os.path.exists(spans_path):
        with open(spans_path) as fh:
            spans = json.load(fh)
    layers = {k: float(rec["layers"].get(k, 0.0) or 0.0) for k in PER_LAYER}
    metrics = ({k: {"value": v, "unit": PER_LAYER[k]} for k, v in layers.items()}
               if a.trace else
               {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()})
    correct = not wrong and int(rec["failed"]) == 0

    records = os.path.join(out_root, "records")
    os.makedirs(records, exist_ok=True)
    full = dict(rec, workload=a.workload, seed=a.seed, trace=a.trace,
                seconds=a.seconds, end_to_end=e2e, per_layer=layers,
                wrong=wrong, inputs=facts, oracle=oracle_out,
                span_self_ms=self_times(spans), warm_ops=len(lat))
    name = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    with open(os.path.join(records, name + ".json"), "w") as fh:
        json.dump(full, fh, indent=1)
    if spans:
        shutil.copy(spans_path, os.path.join(records, name + ".spans.json"))
    shutil.copy(os.path.join(run_dir, "jvm.log"),
                os.path.join(records, name + ".log"))
    shutil.rmtree(run_dir, ignore_errors=True)
    for w in wrong:
        print(f"output check failed: {w}")
    for op, msg in rec["failures"].items():
        print(f"op failed: {op}: {msg}")
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
