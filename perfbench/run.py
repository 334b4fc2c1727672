#!/usr/bin/env python3
"""graft benchmark runner.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 20 --trace 0

Builds graft from `src/main/scala` (see build.py), generates the
workload's inputs from the seed (see gen.py), runs the JVM side
(`perfbench.Main`) with `local[nproc]` sessions, checks every answer
against DuckDB oracles and prints two lines: the full record, then the
result `{"correct", "attempted", "failed", "metrics"}`. With `--trace 0`
the metrics are the end-to-end ones; with `--trace 1` the per-layer
ones. Everything is written under `.bench_build/perfbench/` in the
checkout. See README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True      # leave nothing behind in the checkout

SETUPS = 3          # set-up rounds per run; setup_s is their median
JVM_TIMEOUT_S = 170

# Input sizes per workload (see README.md for the measured figures).
DASHBOARD = dict(users=8, interval_s=300, files=2, row_group=32768)
HEAD = dict(users=20, interval_s=15, batch_hours=1)
CURATION = dict(docs=250, vecs=100, exact_share=0.10, near_share=0.10,
                warm_docs=100, warm_vecs=40)

# The nominal length of one cycle, measured on a 4-core host when the
# benchmark was defined. A run measures round(--seconds / CYCLE_S)
# cycles, at least one: the number depends on --seconds only, so a
# faster or slower build measures the same multiset of operations.
CYCLE_S = {"dashboard": 15.0, "curation-shards": 10.0}

# Which operations each workload's latency metrics are taken over.
LATENCY_OPS = {
    "dashboard": lambda k: not k.startswith("ingest/"),
    "curation-shards": lambda k: k.startswith("step/"),
}
CURATION_STEPS = ["dedup_exact", "dedup_minhash_lsh", "dedup_simhash_near",
                  "admission_recall", "ann_ivf", "doc_contamination", "doc_bm25"]

# peak_rss_mb stays in the record only: across seeds it moved by up to
# 45% (1275-2353 MB on curation-shards) with the heap's growth.
END_TO_END = [("setup_s", "s"), ("latency_p50_ms", "ms"), ("latency_tail_ms", "ms"),
              ("ops_per_s", "1/s"), ("heap_live_mb", "MB")]
PER_LAYER = (
    [("operators.build_ms", "ms"), ("plans.build_ms", "ms"), ("pipeline.build_ms", "ms"),
     ("sources.build_ms", "ms"),
     ("spark.plan_ms", "ms"), ("operators.promql_parse_ms", "ms"),
     ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
     ("spark.task_overhead_ms", "ms"), ("spark.exec_ms", "ms"), ("spark.task_busy_ms", "ms"),
     ("spark.core_util", "ratio"), ("sources.scan_rows_read", "rows"),
     ("sources.scan_bytes_read", "bytes"), ("sources.rows_read_per_row_out", "ratio"),
     ("spark.shuffle_read_bytes", "bytes"), ("spark.shuffle_write_bytes", "bytes"),
     ("spark.spill_bytes", "bytes"), ("plans.result_cache_refresh_ms", "ms"),
     ("plans.result_cache_rows_read", "rows"), ("plans.rollup_served_ms", "ms"),
     ("plans.rollup_rows_read", "rows"), ("sources.xor_decode_samples_per_s", "1/s"),
     ("jvm.gc_ms", "ms"), ("streaming.convert_ms", "ms"), ("streaming.add_batch_ms", "ms"),
     ("streaming.wal_commit_ms", "ms"), ("sources.part_bytes_written", "bytes"),
     ("sources.write_amplification", "ratio"), ("sources.compact_bytes_rewritten", "bytes"),
     ("sources.samples_per_chunk", "count"), ("sources.xor_encode_samples_per_s", "1/s")]
    + [(f"pipeline.{s}_ms", "ms") for s in CURATION_STEPS]
    + [("spark.unattributed_jobs", "count"), ("trace.overhead_pct", "%")])


def fail(msg):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(2)


def link_tree(src, dst):
    """A copy of `src` at a new path that shares the file bytes."""
    shutil.copytree(src, dst, copy_function=os.link)


def generate(workload, seed, inputs, cycles):
    """Writes the inputs of the warm-up and of `cycles` measured cycles
    under `inputs`; returns their sizes."""
    import gen
    if workload == "dashboard":
        c = HEAD            # one head batch per cycle, one for the warm-up
        b = gen.write_ingest_batches(os.path.join(inputs, "batches"), seed, c["users"],
                                     c["interval_s"], 1 + cycles, c["batch_hours"])
        base = os.path.join(inputs, "base")
        c = DASHBOARD
        samples = gen.write_events(base, seed, c["users"], c["interval_s"], c["files"],
                                   c["row_group"])
        for k in range(SETUPS):
            link_tree(base, os.path.join(inputs, f"setup-{k}"))
        return {"samples": samples, "samples_per_batch": statistics.mean(b)}
    if workload == "curation-shards":
        c = CURATION
        args = (c["docs"], c["vecs"], c["exact_share"], c["near_share"])
        for i in range(cycles):          # one shard per cycle
            gen.write_corpus(os.path.join(inputs, "shards", f"shard-{i:03d}"),
                             seed * 1000 + i, *args)
        for k in range(SETUPS):
            gen.write_corpus(os.path.join(inputs, f"setup-{k}"), seed * 1000 + 900 + k,
                             c["warm_docs"], c["warm_vecs"], c["exact_share"], c["near_share"])
        return {"docs_per_shard": c["docs"]}
    fail(f"unknown workload {workload!r}")


def jvm_command(classes, args, inputs, run, cores, cycles):
    import build
    opens = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    # -XX:-UsePerfData: the JVM would otherwise write its perf file under /tmp
    cmd = ["java", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={run}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for o in opens:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
            "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--cycles", str(cycles), "--trace", str(args.trace),
            "--inputs", inputs, "--run", run, "--cores", str(cores),
            "--setups", str(SETUPS)]
    return cmd


# ---- correctness: the rules of scripts/check.py -------------------------

ORACLE_TABLES = ["events", "documents", "embeddings"]


def oracle_check(con, o):
    """Compares a written Spark result with its oracle SQL over the same
    inputs: columns sorted by name, rows sorted, values exactly equal
    (float columns compared as floats, NaN equal to NaN)."""
    import numpy as np
    import pandas as pd
    files = glob.glob(os.path.join(o["path"], "*.parquet"))
    got = pd.concat([pd.read_parquet(f) for f in files]) if files else pd.DataFrame()
    if not o["sql"]:                    # no oracle: rows only, as check.py
        return "EMPTY!" if got.empty else None
    for t in ORACLE_TABLES:
        p = os.path.join(o["data"], f"{t}.parquet")
        src = os.path.join(p, "*.parquet") if os.path.isdir(p) else p
        if os.path.exists(p):
            con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    want = con.execute(o["sql"]).fetchdf()

    def norm(df):
        df = df.reindex(sorted(df.columns), axis=1)
        return df.sort_values(by=list(df.columns), ignore_index=True)
    g, w = norm(got), norm(want)
    if list(g.columns) != list(w.columns):
        return f"SCHEMA cols got={list(g.columns)} want={list(w.columns)}"
    if len(g) != len(w):
        return f"ROWCOUNT got={len(g)} want={len(w)}"
    bad = []
    for c in g.columns:
        a, b = g[c].to_numpy(), w[c].to_numpy()
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            af, bf = a.astype(float), b.astype(float)
            if not np.array_equal(af, bf, equal_nan=True):
                bad.append(f"{c} maxdiff={np.nanmax(np.abs(af - bf)):.3e}")
        elif a.dtype != b.dtype:
            bad.append(f"{c} dtype {a.dtype} vs {b.dtype}")
        elif not (pd.Series(a).fillna("<N>") == pd.Series(b).fillna("<N>")).all():
            bad.append(f"{c} values differ")
    return "VALUES " + "; ".join(bad) if bad else None


# ---- metrics -------------------------------------------------------------

def mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def tail(lat):
    """The highest percentile with at least 10 samples beyond it: the
    11th-largest latency. Below 20 samples that percentile is not above
    the median, and the maximum is reported instead. Returns (value,
    percentile, samples beyond)."""
    s = sorted(lat)
    n = len(s)
    if n < 20:
        return s[-1], 100.0, 0
    return s[n - 11], 100.0 * (n - 10) / n, 10


def workload_figures(workload, rec, info, ops):
    """The workload's own end-to-end figures, for the record."""
    lat_ops = [o for o in ops if LATENCY_OPS[workload](o["kind"])]
    busy = sum(o["latency_ms"] for o in lat_ops) / 1e3
    f = {}
    if workload == "dashboard":
        reuse = [o for o in lat_ops if o["kind"].startswith(("cache/", "rollup/"))]
        f.update(requests_per_s=len(lat_ops) / busy,
                 cached_or_rollup_share=len(reuse) / len(lat_ops))
    if workload == "curation-shards":
        f["docs_per_s"] = len(lat_ops) / len(CURATION_STEPS) * info["docs_per_shard"] / busy
    converts = [o for o in ops if o["kind"] == "ingest/convert"]
    compacts = [o["latency_ms"] / 1e3 for o in ops if o["kind"] == "ingest/compact"]
    if converts:
        x = rec["extra"]
        f.update(ingest_samples_per_s=sum(o["rows_out"] for o in converts)
                 / (sum(o["latency_ms"] for o in converts) / 1e3),
                 compact_s=statistics.median(compacts) if compacts else 0.0,
                 bytes_per_sample=x["last_compact_bytes"] / max(1.0, x["last_compact_samples"]))
    return f


def per_layer(workload, rec, spans, cores):
    ops = [o for o in rec["ops"] if o["pass"] == "traced"]
    ids = {o["id"] for o in ops}
    counts = {int(k): v for k, v in rec["counts"].items() if int(k) in ids}
    by_op = {}
    for s in spans:
        if s["op"] in ids:
            by_op.setdefault(s["op"], []).append(s)

    def span_mean(layer, name):
        per = [sum(s["end_ns"] - s["start_ns"] for s in ss if s["layer"] == layer
                   and s["name"] == name) / 1e6 for ss in by_op.values()
               if any(s["layer"] == layer and s["name"] == name for s in ss)]
        return mean(per)

    def cmean(key, sel=lambda o: True):
        return mean(counts.get(o["id"], {}).get(key, 0) for o in ops if sel(o))

    def lat(sel):
        return mean(o["latency_ms"] for o in ops if sel(o["kind"]))

    x = rec["extra"]
    prog = rec["stream_progress"]
    m = {f"{layer}.build_ms": span_mean(layer, "build")
         for layer in ("operators", "plans", "pipeline", "sources")}
    busy = sum(c["run_time_ms"] for c in counts.values())
    wall = sum(o["latency_ms"] for o in ops)
    rows_out = sum(o["rows_out"] for o in ops if o["rows_out"] > 0)
    rows_read = sum(counts.get(o["id"], {}).get("records_read", 0)
                    for o in ops if o["rows_out"] > 0)
    m.update({
        "spark.plan_ms": span_mean("spark", "plan"),
        "operators.promql_parse_ms": span_mean("operators", "promql_parse"),
        "spark.jobs": cmean("jobs"), "spark.stages": cmean("stages"),
        "spark.tasks": cmean("tasks"),
        "spark.task_overhead_ms": mean(counts.get(o["id"], {}).get("task_duration_ms", 0)
                                       - counts.get(o["id"], {}).get("run_time_ms", 0)
                                       for o in ops),
        "spark.exec_ms": span_mean("spark", "exec"),
        "spark.task_busy_ms": cmean("run_time_ms"),
        "spark.core_util": busy / (wall * cores) if wall else 0.0,
        "sources.scan_rows_read": cmean("records_read"),
        "sources.scan_bytes_read": cmean("bytes_read"),
        "sources.rows_read_per_row_out": rows_read / rows_out if rows_out else 0.0,
        "spark.shuffle_read_bytes": cmean("shuffle_read"),
        "spark.shuffle_write_bytes": cmean("shuffle_write"),
        "spark.spill_bytes": cmean("spill"),
        "plans.result_cache_refresh_ms": lat(lambda k: k.startswith("cache/")),
        "plans.result_cache_rows_read": cmean("raw_rows_read",
                                              lambda o: o["kind"].startswith("cache/")),
        "plans.rollup_served_ms": lat(lambda k: k.startswith("rollup/")),
        "plans.rollup_rows_read": mean(
            counts.get(o["id"], {}).get("raw_rows_read", 0)
            + counts.get(o["id"], {}).get("store_rows_read", 0)
            for o in ops if o["kind"].startswith("rollup/")),
        "sources.xor_decode_samples_per_s": x.get("xor_decode_samples_per_s", 0.0),
        "jvm.gc_ms": rec["passes"]["traced"]["gc_ms"] / max(1, len(ops)),
        "streaming.convert_ms": lat(lambda k: k == "ingest/convert"),
        "streaming.add_batch_ms": mean(p.get("addBatch", 0) for p in prog),
        "streaming.wal_commit_ms": mean(p.get("walCommit", 0) for p in prog),
        "sources.part_bytes_written": x["part_bytes"] / x["converts"] if x.get("converts") else 0.0,
        "sources.write_amplification":
            (x["part_bytes"] + x["compact_bytes"]) / x["input_bytes"]
            if x.get("input_bytes") else 0.0,
        "sources.compact_bytes_rewritten":
            x["compact_bytes"] / x["compactions"] if x.get("compactions") else 0.0,
        "sources.samples_per_chunk": x.get("samples_per_chunk", 0.0),
        "sources.xor_encode_samples_per_s": x.get("xor_encode_samples_per_s", 0.0),
        "spark.unattributed_jobs": cmean("unattributed_jobs"),
    })
    for s in CURATION_STEPS:
        m[f"pipeline.{s}_ms"] = lat(lambda k, s=s: k == f"step/{s}")
    sel = LATENCY_OPS[workload]
    untraced = [o["latency_ms"] for o in rec["ops"]
                if o["pass"] in ("measure", "after") and sel(o["kind"])]
    traced = [o["latency_ms"] for o in ops if sel(o["kind"])]
    m["trace.overhead_pct"] = (100.0 * (statistics.median(traced) / statistics.median(untraced) - 1)
                               if traced and untraced else 0.0)
    return m


def layer_self_ms(spans):
    """Self time per layer (span time minus its children's), summed."""
    child = {}
    for s in spans:
        if s["parent"] >= 0:
            child[s["parent"]] = child.get(s["parent"], 0) + s["end_ns"] - s["start_ns"]
    out = {}
    for s in spans:
        self_ns = s["end_ns"] - s["start_ns"] - child.get(s["id"], 0)
        key = "client" if s["layer"] == "op" else s["layer"]
        out[key] = out.get(key, 0.0) + self_ns / 1e6
    return out


def source_id():
    """The git commit when there is one, else a hash of graft's sources."""
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                           text=True, timeout=10)
        if r.returncode == 0:
            return {"git_sha": r.stdout.strip()}
    except (OSError, subprocess.SubprocessError):
        pass
    h = hashlib.sha256()
    for f in sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                              recursive=True)):
        with open(f, "rb") as fh:
            h.update(fh.read())
    return {"git_sha": None, "src_sha256": h.hexdigest()[:16]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(LATENCY_OPS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("graft's sources (src/main/scala/graft) are not in this checkout")
    import build
    classes = build.build()
    cores = len(os.sched_getaffinity(0))

    run = os.path.join(build.OUT, "runs", f"{args.workload}-s{args.seed}-t{args.trace}-"
                                           f"{os.getpid()}-{int(time.time())}")
    inputs = os.path.join(run, "inputs")
    os.makedirs(os.path.join(run, "tmp"))
    cycles = max(1, round(args.seconds / CYCLE_S[args.workload]))
    t0 = time.time()
    # inputs for three passes (a traced run measures three), so a seed
    # gives the same inputs with and without tracing
    info = generate(args.workload, args.seed, inputs, 3 * cycles)
    gen_s = time.time() - t0

    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)          # keep Spark's scratch in the run dir
    log_path = os.path.join(run, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(jvm_command(classes, args, inputs, run, cores, cycles),
                                stdout=log, stderr=subprocess.STDOUT, env=env, cwd=run)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"JVM side timed out after {JVM_TIMEOUT_S}s (log {log_path})")
    if code != 0:
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-6000:])
        fail(f"JVM side exited {code}")
    with open(os.path.join(run, "record.json")) as fh:
        rec = json.load(fh)
    spans = []
    if args.trace:
        with open(os.path.join(run, "spans.jsonl")) as fh:
            spans = [json.loads(line) for line in fh]

    import duckdb
    t0 = time.time()
    con = duckdb.connect(config={"temp_directory": os.path.join(run, "tmp")})
    problems = [f"{c['name']}: {c['detail']}" for c in rec["checks"] if not c["ok"]]
    for o in rec["oracle"]:
        try:
            r = oracle_check(con, o)
        except Exception as e:          # an oracle that cannot run is a failed check
            r = f"ORACLE_ERROR {e}"
        if r:
            problems.append(f"oracle {o['name']}: {r}")
    problems += [f"operation error: {e}" for e in rec["errors"]]
    con.close()
    oracle_s = time.time() - t0

    ops = [o for o in rec["ops"] if o["pass"] == "measure"]
    lat = [o["latency_ms"] for o in ops if LATENCY_OPS[args.workload](o["kind"])]
    if not lat:
        fail("no operation completed while measuring")
    # every problem is one failed operation (each error aborted one) or check
    attempted = len(ops) + len(rec["checks"]) + len(rec["oracle"])
    failed = len(problems)
    tail_v, tail_pct, tail_n = tail(lat)
    e2e = {
        "setup_s": gen_s + statistics.median(rec["setup_rounds_s"]) + rec["warm_s"],
        "latency_p50_ms": statistics.median(lat),
        "latency_tail_ms": tail_v,
        "ops_per_s": len(lat) / (sum(lat) / 1e3),
        "peak_rss_mb": rec["env"]["peak_rss_mb"],
        "heap_live_mb": rec["env"]["heap_live_mb"],
    }
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "env": dict(rec["env"], **source_id(), generate_s=gen_s),
        "inputs": info, "setup_rounds_s": rec["setup_rounds_s"], "warm_s": rec["warm_s"],
        "verify_s": rec["verify_s"], "oracle_s": oracle_s,
        "cycles": cycles, "operations": len(ops), "latency_ops": len(lat),
        "latency_tail_percentile": tail_pct, "latency_tail_beyond": tail_n,
        "error_rate": failed / attempted,
        "end_to_end": e2e,
        "workload_figures": workload_figures(args.workload, rec, info, ops),
        "per_kind_ms": {k: statistics.median(o["latency_ms"] for o in ops if o["kind"] == k)
                        for k in sorted({o["kind"] for o in ops})},
        "problems": problems,
    }
    if args.trace:
        record["layer_self_ms"] = layer_self_ms(spans)
        pl = per_layer(args.workload, rec, spans, cores)
        metrics = {n: {"value": pl[n], "unit": u} for n, u in PER_LAYER}
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END}
    with open(os.path.join(run, "summary.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    # keep the record, spans and log; drop inputs, stores and scratch
    for d in ["inputs", "tmp", "verify", "spark-local", "warehouse"] + \
            [os.path.basename(p) for p in glob.glob(os.path.join(run, "store-*"))]:
        shutil.rmtree(os.path.join(run, d), ignore_errors=True)
    print(json.dumps({"record": record}))
    print(json.dumps({"correct": not problems, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
