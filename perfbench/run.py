#!/usr/bin/env python3
"""graft's benchmark: one command per workload run.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. It builds the engine and the benchmark
program from source (once per source state), runs the benchmark JVM (one
closed-loop client against `GraftSession.local(cores = nproc)`, with the
engine's own JVM options), checks every op's result against its DuckDB
oracle, and prints a report followed by ONE JSON line: {"correct",
"attempted", "failed", "metrics"}. With --trace 0 the metrics are the
end-to-end ones; with --trace 1 the per-layer ones.

Inputs: retail_batch reads the fixed sf0.1 tables under `data/`; the
seed only sets the op order. corpus_curate reads a documents table
generated from the seed (`gen.py`) with the other sf0.01 tables linked in.

Everything it writes stays under `.bench_build/` (build state) and
`.bench_run/` (inputs, results) in the checkout, plus the sbt `target/`
directories of the engine and of the benchmark program.
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

import duckdb
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
RUN = os.path.join(ROOT, ".bench_run")
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import gen  # noqa: E402

DATA = os.path.join(HERE, "data")  # fixed sf-layout tables, one directory per scale
# the scale of each workload's fixed tables: retail_batch reads sf0.1;
# corpus_curate reads only its generated corpus, and its layer probes
# (graph, ML) run over the linked sf0.01 tables within a run's time limit
WORKLOADS = {"retail_batch": "0.1", "corpus_curate": "0.01"}
END_TO_END = [("setup_s", "s"), ("wall_s", "s")]
REGISTRIES = ["RelationalQueries", "OlapQueries", "EtlQueries", "TimeSeriesQueries",
              "ExtensionQueries"]
PER_LAYER = (
    [("trace.overhead_s", "s")]
    + [(f"spark.{m}", u) for m, u in [
        ("jobs", "count"), ("tasks", "count"), ("tasks_per_job", "count"),
        ("driver_gap_s", "s"), ("scheduler_wait_s", "s"), ("slot_util", "ratio"),
        ("task_busy_s", "s"), ("task_cpu_s", "s"), ("gc_s", "s"),
        ("shuffle_write_mb", "MB"), ("shuffle_read_mb", "MB"), ("spill_mb", "MB"),
        ("stage_skew", "ratio"), ("failed_tasks", "count")]]
    + [("queries.build_s", "s"), ("queries.plan_s", "s"), ("queries.exec_s", "s")]
    + [(f"queries.{r}.s", "s") for r in REGISTRIES]
    + [("core.session_s", "s"), ("core.warmup_s", "s")]
    + [("spark.codegen_compiles", "count"), ("jvm.jit_s", "s")]
    + [("sources.scan_mb_s", "MB/s"), ("sources.write_mb_s", "MB/s"),
       ("sources.write_amp", "ratio"), ("sources.files_written", "count")]
    + [(f"functions.{k}.rows_s", "rows/s") for k in [
        "HashedNgrams", "MinHashSignature", "SimHashFingerprint", "TokenMemberCounts",
        "SortedIntersectCount"]]
    + [("ext.MinHashDedup.s", "s"), ("ext.MinHashDedup.candidate_pairs", "count"),
       ("ext.MinHashDedup.verified_pairs", "count"), ("ext.MinHashDedup.pair_yield", "ratio")]
    + [(f"ext.{k}.s", "s") for k in ["SimHash", "NgramJaccard", "DedupClusters", "CorpusPipeline"]]
    + [("ext.CorpusPipeline.kept_ratio", "ratio")]
    + [(f"ext.{k}.{m}", u) for k in ["PageRank", "Triangles", "BfsHops", "LabelPropagation"]
       for m, u in [("s", "s"), ("jobs", "count")]]
    + [(f"ml.{k}.s", "s") for k in ["AlsTwin", "SegmentationLloyd", "SegmentationAutoK"]]
    + [("analytics.Etl.cleanBase_s", "s"), ("analytics.Etl.run_s", "s")]
    + [(f"streaming.{m}", u) for m, u in [
        ("batches", "count"), ("batch_s.p50", "s"), ("batch_s.max", "s"),
        ("rows_per_s", "rows/s"), ("state_rows", "count"), ("state_mb", "MB"),
        ("run_s", "s")]]
)
DEADLINE_S = 170  # a run must end within 180 s once built
# largest change of the CPU calibration across the timed passes for which
# a run still measures the program rather than the host's speed
CALIB_DRIFT_LIMIT = 0.10


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    """The files the build reads, relative to ROOT."""
    pats = ["build.sbt", "project/*.properties", "project/*.sbt", "src/main/**/*",
            "perfbench/build.sbt", "perfbench/project/*.properties", "perfbench/src/**/*"]
    out = set()
    for p in pats:
        out.update(f for f in glob.glob(os.path.join(ROOT, p), recursive=True) if os.path.isfile(f))
    return sorted(os.path.relpath(f, ROOT) for f in out)


def tree_hash(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(os.path.join(ROOT, f), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def read_lines(path):
    with open(path) as fh:
        return [l for l in fh.read().splitlines() if l]


def build(stamp):
    """Compile engine + benchmark program with sbt once per source state; returns
    (classpath, the engine's JVM options, whether this call built)."""
    cp_file, stamp_file = os.path.join(BUILD, "classpath.txt"), os.path.join(BUILD, "stamp")
    opts_file = os.path.join(HERE, "target", "java_options.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip(), read_lines(opts_file), False
    os.makedirs(BUILD, exist_ok=True)
    log("building engine and benchmark program (sbt)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
                        "-J-XX:-UsePerfData",
                        "compile", "export Runtime/fullClasspath", "exportJavaOptions"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=850)
    lines = [l.strip() for l in p.stdout.splitlines()]
    cps = [l for l in lines if ".jar" in l and os.pathsep in l and not l.startswith("[")]
    if p.returncode != 0 or not cps or not os.path.exists(opts_file):
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("build failed")
    with open(cp_file, "w") as fh:
        fh.write(cps[-1])
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return cps[-1], read_lines(opts_file), True


def inputs(workload, seed, sf):
    """The input directory of (workload, seed) and its rows per table and bytes.
    retail_batch reads the fixed tables as they are; corpus_curate gets a
    seeded documents table with the other tables linked in."""
    base = os.path.join(DATA, f"sf{sf}")
    d = base
    if workload == "corpus_curate":
        d = os.path.join(RUN, "data", f"corpus-s{seed}-sf{sf}")
        if not os.path.exists(os.path.join(d, "documents.parquet")):
            shutil.rmtree(os.path.join(RUN, "data"), ignore_errors=True)
            gen.corpus(d, seed, base)
    files = {t: os.path.join(d, f"{t}.parquet") for t in gen.TABLES}
    return d, {"sf": sf, "rows": {t: pq.ParquetFile(f).metadata.num_rows for t, f in files.items()},
               "bytes": {t: os.path.getsize(f) for t, f in files.items()}}


def run_jvm(classpath, java_options, args, run_dir, deadline):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java] + java_options + ["-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
        f"-Dderby.system.home={run_dir}", "-cp", classpath, "graft.perfbench.Main"] + args
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=logf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit("benchmark JVM exceeded its time limit")
    if rc != 0:
        with open(os.path.join(run_dir, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise SystemExit(f"benchmark JVM exited with {rc}")


def oracle_check(data_dir, checks, threads):
    """Compare each op's check-pass output with its DuckDB oracle, the way
    the engine's own check script does: columns matched by name, rows as
    a multiset, values exact (floats bit-for-bit). Returns
    {op: (ok, rows_written, why)}."""
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute(f"SET threads={threads}")
    for t in gen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    out = {}
    for c in checks:
        op = c["op"]
        if c["error"]:
            out[op] = (False, -1, c["error"])
            continue
        files = glob.glob(os.path.join(c["dir"], "*.parquet"))
        if not files:
            out[op] = (False, -1, "no output written")
            continue
        try:
            con.execute(f"CREATE OR REPLACE TEMP TABLE s AS SELECT * FROM read_parquet('{c['dir']}/*.parquet')")
            n = con.sql("SELECT count(*) FROM s").fetchone()[0]
            if not c["oracle"]:
                out[op] = (False, n, "no oracle")
                continue
            con.execute(f"CREATE OR REPLACE TEMP TABLE o AS {c['oracle']}")
            sc = sorted(con.sql("SELECT * FROM s LIMIT 0").columns)
            oc = sorted(con.sql("SELECT * FROM o LIMIT 0").columns)
            if sc != oc:
                out[op] = (False, n, f"columns {sc} != oracle {oc}")
                continue
            no = con.sql("SELECT count(*) FROM o").fetchone()[0]
            if n != no:
                out[op] = (False, n, f"rows {n} != oracle {no}")
                continue
            cols = ", ".join(f'"{x}"' for x in sc)
            diff = con.sql(f"SELECT count(*) FROM (SELECT {cols} FROM s EXCEPT ALL "
                           f"SELECT {cols} FROM o)").fetchone()[0]
            out[op] = (diff == 0, n, "" if diff == 0 else f"{diff} rows differ from oracle")
        except Exception as e:  # a malformed result is a failed op, not a crash
            out[op] = (False, -1, f"compare error: {str(e)[:200]}")
    con.close()
    return out


def steal_seconds():
    """Machine-wide CPU steal so far (0 where /proc/stat is absent)."""
    try:
        with open("/proc/stat") as fh:
            return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def quantile(xs, q):
    s = sorted(xs)
    return s[min(len(s) - 1, int(q * len(s)))]


def provenance_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--sf", choices=["0.001", "0.01", "0.1"],
                    help="override the scale of the fixed tables (the self-test uses 0.001)")
    ap.add_argument("--inject-faults", type=int, choices=[0, 1], default=0,
                    help="add one throwing and one wrong-result op (self-test)")
    a = ap.parse_args()
    t_start = time.time()
    deadline = t_start + DEADLINE_S
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        log("engine sources not found next to the benchmark; run from a graft checkout")
        sys.exit(2)

    files = source_files()
    stamp = tree_hash(files)
    classpath, java_options, built = build(stamp)
    if built:  # the build has its own allowance; the run keeps its full one
        deadline = time.time() + DEADLINE_S

    data_dir, meta = inputs(a.workload, a.seed, a.sf or WORKLOADS[a.workload])
    run_dir = os.path.join(RUN, a.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    cores = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    out_dir = os.path.join(run_dir, "out")
    steal0 = steal_seconds()
    run_jvm(classpath, java_options, ["--workload", a.workload, "--seed", str(a.seed),
                        "--seconds", str(a.seconds), "--trace", str(a.trace),
                        "--data", data_dir, "--out", out_dir, "--cores", str(cores),
                        "--calib", os.path.join(RUN, "calib"),
                        "--inject-faults", str(a.inject_faults)], run_dir, deadline)
    steal = steal_seconds() - steal0
    with open(os.path.join(out_dir, "result.json")) as fh:
        res = json.load(fh)

    t_oracle = time.time()
    checks = oracle_check(data_dir, res["check"], cores)
    res["oracle_s"] = time.time() - t_oracle
    check_rows = {op: n for op, (_, n, _) in checks.items()}
    bad_ops = {op for op, (ok, _, _) in checks.items() if not ok}
    samples = res["samples"]
    failures = {}
    for s in samples:
        why = None
        if s["error"]:
            why = s["error"]
        elif s["op"] in bad_ops:
            why = "wrong result: " + checks[s["op"]][2]
        elif s["rows"] != check_rows.get(s["op"]):
            why = f"rows {s['rows']} != check pass {check_rows.get(s['op'])}"
        if why:
            failures.setdefault(s["op"], []).append(why)
    for op in bad_ops:
        failures.setdefault(op, []).append("check pass: " + checks[op][2])
    # a traced run's layer probes count as attempts too
    for e in res["probes"]["errors"]:
        failures.setdefault("probe:" + e["probe"], []).append(e["error"])
    attempted = len(samples) + len(checks) + res["probes"]["attempted"]
    failed = sum(len(v) for v in failures.values())

    # medians over the untraced passes the machine did not disturb: a
    # pass that lost more than the JVM's steal limit of the machine's CPU
    # time to the hypervisor measures the host, not the program
    untraced = [p for p in res["passes"] if not p["traced"]]
    clean = [p for p in untraced if p["clean"]]
    enough = len(clean) >= res["min_clean_passes"]
    prov0 = res["provenance"]
    calib_drift = prov0["calib_cpu_s"] / prov0["calib_cpu_before_s"] - 1
    comparable = (enough and res["setup_steal_share"] <= res["steal_limit"]
                  and abs(calib_drift) <= CALIB_DRIFT_LIMIT)
    passes = clean if enough else untraced
    if not comparable and not a.trace:
        log(f"the host disturbed this run (CPU steal in {len(untraced) - len(clean)} of "
            f"{len(untraced)} passes, set-up steal share {res['setup_steal_share']:.3f}, "
            f"CPU calibration drift {calib_drift:+.3f}); it is not comparable")
    walls = [p["wall"] for p in passes]
    wall = statistics.median(walls)
    op_secs = [s["secs"] for s in samples if not s["error"]
               and s["pass"] in {p["index"] for p in passes}]
    # a fixed property of the workload: the rows of the input tables the
    # pass's ops read, whatever the plan prunes, skips or caches
    pass_rows = sum(meta["rows"][t] for c in res["check"] for t in c["tables"])
    e2e = {"setup_s": res["setup_s"], "wall_s": wall}
    prov = dict(res["provenance"])
    prov["commit"] = provenance_commit() or f"tree:{stamp}"
    prov["cpu_steal_s"] = steal
    prov["comparable"] = comparable
    prov["passes_disturbed"] = len(untraced) - len(clean)
    prov["setup_steal_share"] = res["setup_steal_share"]
    prov["calib_cpu_drift"] = calib_drift
    inp = {"sf": meta["sf"], "rows": sum(meta["rows"].values()),
           "bytes": sum(meta["bytes"].values()), "tables": meta["rows"]}
    if a.workload == "corpus_curate":
        inp.update(docs=gen.N_DOCS, dup_share=gen.DUP_SHARE)
    report = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "inputs": inp,
        "passes": len(passes), "passes_run": len(res["passes"]), "pass_wall_s": walls, "op_samples": len(op_secs),
        "input_rows_per_pass": pass_rows,
        "rows_read_per_pass": statistics.median(p["rows"] for p in passes),
        "bytes_read_per_pass": statistics.median(p["bytes"] for p in passes),
        "failed_ratio": failed / attempted,
        # not end-to-end metrics (see METRICS.md): rows_per_s is a fixed
        # number over wall_s, and op_s.p50 spread past its bound
        "rows_per_s": pass_rows / wall,
        "op_s.p50": statistics.median(op_secs) if op_secs else None,
        "failing_ops": {op: v[0] for op, v in sorted(failures.items())},
        "op_s.p90": quantile(op_secs, 0.9) if len(op_secs) >= 100 else None,
        # not end-to-end metrics: on a shared host both spread by 20-40 %
        # between runs of the same code (see METRICS.md)
        "cpu_s": statistics.median(p["cpu"] for p in passes),
        # the JVM's own work inside a pass: JIT compiling and collecting
        "jit_s": statistics.median(p["jit"] for p in passes),
        "gc_s": statistics.median(p["gc"] for p in passes),
        "codegen_compiles": statistics.median(p["codegen"] for p in passes),
        "peak_rss_mb": res["peak_rss_mb"],
        "per_op_median_s": {op: statistics.median(s["secs"] for s in samples if s["op"] == op)
                            for op in sorted({s["op"] for s in samples})},
        "provenance": prov,
        "phases_s": {k: res[k] for k in ["session_s", "warmup_s", "calib_s", "oracle_s"]},
    }
    if a.trace:
        layers = {m["name"]: m for m in res["layers"]}
        # Spark's codegen-cache misses and the JIT's compile time per
        # timed pass (medians over the untraced passes)
        layers["spark.codegen_compiles"] = {"value": statistics.median(p["codegen"] for p in passes)}
        layers["jvm.jit_s"] = {"value": statistics.median(p["jit"] for p in passes)}
        metrics = {name: {"value": layers.get(name, {"value": 0.0})["value"], "unit": unit}
                   for name, unit in PER_LAYER}
        report["self_s"] = {x["span"]: x["s"] for x in res["self_s"]}
        report["trace_overhead_s"] = metrics["trace.overhead_s"]["value"]
    else:
        metrics = {name: {"value": e2e[name], "unit": unit} for name, unit in END_TO_END}
        report["end_to_end"] = metrics
    with open(os.path.join(run_dir, "report.json"), "w") as fh:
        json.dump(report, fh, indent=1)
    print("report " + json.dumps(report, separators=(",", ":")))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
