#!/usr/bin/env python3
"""graft's benchmark: three seeded pipeline workloads through the library's
public entry points, with end-to-end metrics and a traced per-layer run.

    python3 perfbench/run.py --workload corpus_etl --seed 1 --seconds 6 --trace 0

Run from the repository root.  One run:

1. builds the library and the benchmark program from source (sbt, once per
   source state; the classpath is cached under .bench_build/);
2. generates the workload's tables from --seed (perfbench/gen.py), plus
   identical copies at other paths so setup can be repeated cold;
3. runs one JVM (perfbench/src/main/scala/perfbench/Main.scala): session,
   setup, a cold pass, then warm passes for --seconds; every pass writes the
   ops' results as parquet;
4. compares every op's last-pass result with its DuckDB oracle
   (SparkEntry.oracleSql, compared with tools/check_oracle.py's canon and
   its dtype-exact frame compare);
5. prints one JSON line: the end-to-end metrics with --trace 0, the
   per-layer metrics with --trace 1 (the span tree and a per-layer summary
   land in .bench_build/trace/).

The workloads, their sizes and the layer -> metric map are documented in
perfbench/WORKLOADS.md.
"""
import argparse
import glob
import hashlib
import json
import os
import pickle
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave no __pycache__ beside the sources

import gen  # noqa: E402

# Fixed driver heap (-Xms = -Xmx): Graph.gateFor derives the broadcast gates
# from it, so the heap is part of the plan being measured.
HEAP = "2g"
# Each run repeats setup on this many fresh copies of its inputs and
# reports the median (staging is memoized per JVM and per input path).
SETUP_COPIES = 3
# At least this many warm passes, however long they take.
MIN_WARM = 2
JVM_TIMEOUT_S = 150

WORKLOADS = {
    "corpus_etl": {
        "ops": ["corpus_normalize", "corpus_keyword_match", "corpus_amendment_flag",
                "corpus_build", "corpus_summary", "corpus_merge_sources",
                "corpus_status_normalize", "corpus_pipeline_e2e"],
        "layouts": [],
        "tables": {
            "documents": {"docs": 4_000, "block": 1_000,
                          "near_dup_share": 0.05, "exact_dup_share": 0.002},
            "orders": {"orders": 10_000},
        },
    },
    "iterative_loops": {
        "ops": ["q_label_propagation", "q_pagerank_copurchase"],
        "layouts": [],
        "tables": {
            "lineitem": {"replicas": 2, "orders_per_replica": 2_500,
                         "parts_per_replica": 1_200},
        },
    },
    "curation_ingest": {
        "ops": ["dedup_minhash_lsh", "streaming_tumbling", "corpus_partitioned_scan"],
        "layouts": ["fixture_events_norm", "corpus_bylang"],
        "tables": {
            "documents": {"docs": 2_000, "block": 500,
                          "near_dup_share": 0.10, "exact_dup_share": 0.002},
            "events": {"events": 8_000, "users": 300},
        },
    },
}

JDK17_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
               "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
               "java.base/java.nio", "java.base/java.util",
               "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
               "java.base/sun.nio.ch", "java.base/sun.nio.cs",
               "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(f"error: {msg}")
    sys.exit(2)


def source_digest():
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for d in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        files += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    h = hashlib.sha256()
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build_classpath():
    """Compile the library and the benchmark program with sbt; cached per source state."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("the library sources (src/main/scala/graft) are not in this checkout")
    digest = source_digest()
    marker = os.path.join(BUILD, "classpath.json")
    if os.path.exists(marker):
        with open(marker) as f:
            cached = json.load(f)
        if cached.get("digest") == digest:
            return cached["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    log("building (sbt) ...")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, stdin=subprocess.DEVNULL, capture_output=True, text=True, timeout=840)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        fail(f"build failed (sbt exit {proc.returncode})")
    classpath = lines[-1].strip()
    with open(marker, "w") as f:
        json.dump({"digest": digest, "classpath": classpath}, f)
    log(f"built in {time.time() - t0:.1f} s")
    return classpath


def run_jvm(classpath, wl, data_dirs, work, seconds, trace, cores, trace_dir):
    out = os.path.join(work, "out")
    os.makedirs(out)
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub))
    opens = [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData"] + opens +
           ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={work}/tmp", "-cp", classpath, "perfbench.Main",
            "--ops", ",".join(wl["ops"]), "--layouts", ",".join(wl["layouts"]),
            "--data", ",".join(data_dirs), "--seconds", str(seconds),
            "--trace", str(trace), "--out", out, "--cores", str(cores),
            "--min-warm", str(MIN_WARM), "--warehouse", f"{work}/warehouse",
            "--trace-dir", trace_dir, "--launched-ms", repr(time.time() * 1e3)])
    env = dict(os.environ, SPARK_LOCAL_DIRS=f"{work}/local")
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdin=subprocess.DEVNULL,
                                stdout=logf, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    with open(os.path.join(work, "jvm.log")) as f:
        text = f.read()
    for line in text.splitlines():
        if line.startswith("[perfbench]"):
            print(line, file=sys.stderr)
    if rc != 0:
        sys.stderr.write(text[-6000:])
        fail(f"benchmark JVM exited with {rc}")
    with open(os.path.join(out, "result.json")) as f:
        return json.load(f), out


def check_outputs(wl_name, seed, wl, data_dir, out, oracle_sql, cores):
    """Compare each op's result with its DuckDB oracle; returns mismatches."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import duckdb
    import pandas as pd
    from check_oracle import canon

    h = hashlib.sha256(json.dumps([wl, oracle_sql], sort_keys=True).encode())
    with open(gen.__file__, "rb") as f:
        h.update(f.read())
    cache = os.path.join(BUILD, "oracle-cache", f"{wl_name}-s{seed}-{h.hexdigest()[:16]}")
    os.makedirs(cache, exist_ok=True)
    con = None

    def oracle_answer(op):
        nonlocal con
        cached = os.path.join(cache, f"{op}.pkl")
        if os.path.exists(cached):
            with open(cached, "rb") as f:
                return pickle.load(f)
        if con is None:
            con = duckdb.connect()
            con.execute(f"SET threads={cores}")
            for t in wl["tables"]:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{data_dir}/{t}.parquet')")
        t0 = time.time()
        want = con.execute(oracle_sql[op]).df()
        log(f"oracle {op}: {time.time() - t0:.2f} s")
        with open(cached, "wb") as f:
            pickle.dump(want, f)
        return want

    bad = 0
    for op in wl["ops"]:
        try:
            files = glob.glob(os.path.join(out, "results", op, "*.parquet"))
            if not files:
                raise AssertionError("no result")
            got = pd.concat([pd.read_parquet(p) for p in files], ignore_index=True)
            a, b = canon(got), canon(oracle_answer(op))
            if list(a.columns) != list(b.columns) or len(a) != len(b):
                raise AssertionError(f"shape spark={list(a.columns)}x{len(a)} "
                                     f"oracle={list(b.columns)}x{len(b)}")
            pd.testing.assert_frame_equal(a, b, check_dtype=True, check_exact=True)
        except Exception as e:  # noqa: BLE001 -- any failure is a mismatch
            log(f"FAIL {op}: {str(e)[:600]}")
            bad += 1
    return bad


def declared_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return spec["end_to_end"], spec["per_layer"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    wl = WORKLOADS[args.workload]
    end_to_end, per_layer = declared_metrics()
    cores = len(os.sched_getaffinity(0))

    classpath = build_classpath()

    work = os.path.join(BUILD, "run")
    shutil.rmtree(work, ignore_errors=True)
    copies = SETUP_COPIES if wl["layouts"] else 1
    data_dirs = [os.path.join(work, "gen", f"copy{i}") for i in range(copies)]
    for d in data_dirs:
        os.makedirs(d)
    t0 = time.time()
    rows = gen.generate(data_dirs[0], args.seed, wl["tables"])
    for d in data_dirs[1:]:
        for t in wl["tables"]:
            shutil.copyfile(f"{data_dirs[0]}/{t}.parquet", f"{d}/{t}.parquet")
    log(f"generated {rows} in {time.time() - t0:.2f} s (not part of setup_s)")

    trace_dir = os.path.join(BUILD, "trace", f"{args.workload}-s{args.seed}")
    res, out = run_jvm(classpath, wl, data_dirs, work, args.seconds, args.trace,
                       cores, trace_dir)
    log(f"jvm done at +{time.time() - t0:.1f} s")
    bad = check_outputs(args.workload, args.seed, wl, data_dirs[0], out,
                        res["oracle_sql"], cores)
    log(f"check done at +{time.time() - t0:.1f} s")
    attempted = res["attempted"] + len(wl["ops"])
    failed = res["failed"] + bad
    log(f"fail_ratio {failed / attempted:.4f} ({failed} of {attempted}); "
        f"staging misses: {res['misses'] or 'none'}")

    if args.trace:
        layer = res["layer"]
        own = {f"op.{o}." for o in wl["ops"]} | {f"staging.{e}_s" for e in wl["layouts"]}
        values = {}
        for m in per_layer:
            name = m["name"]
            if name in layer:
                values[name] = layer[name]
            elif name.startswith(("op.", "staging.")) and not any(name.startswith(p) for p in own):
                values[name] = 0.0  # an op or layout of another workload
            else:
                fail(f"per-layer metric {name} was not produced")
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in per_layer}
        log(f"trace_overhead {layer['trace_overhead']:.4f}; spans in {trace_dir}")
    else:
        values = {
            "setup_s": res["session_s"] + statistics.median(res["staging_s"]),
            "cold_pass_s": res["cold_pass_s"],
            "pass_s": statistics.median(res["warm_pass_s"]),
            "peak_rss_mb": res["peak_rss_mb"],
            "staged_bytes_ratio": (res["input_bytes"] + res["written_bytes"]) / res["input_bytes"],
        }
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in end_to_end}
    for sub in ("gen", "warehouse", "local", "tmp"):
        shutil.rmtree(os.path.join(work, sub), ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
