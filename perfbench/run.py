#!/usr/bin/env python3
"""Graft benchmark: one command per workload run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine together with the harness (sbt, only when a source
changed), generates the seeded inputs (cached per seed), runs the workload
in one JVM at local[nproc], checks every returned result against the
DuckDB oracle (or the exact bridge of an approximate op), and prints the
metrics.  The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}.  With --trace 0 the metrics
are the end-to-end metrics; with --trace 1 they are the per-layer metrics
of a traced run.  Everything the run writes stays under perfbench/out/.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import pickle
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
sys.path.insert(0, HERE)

# Input sizes per workload.  `sf` scales the star schema, events,
# documents and embeddings like the engine's test data (sf 0.01 = 15 000
# orders, 60 000 lineitems, 10 000 events, 500 documents).
SIZES = {
    "npm-stream": {"sf": 0.01, "lines": 6000, "pool": 2000, "per_trigger": 1000},
    "batch-analytics": {"sf": 0.01},
    "corpus-dedup": {"sf": 0.01, "heldout": 0.1, "batches": 1},
}
JVM_TIMEOUT_S = 400
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]
LAYERS = ["ThrottledLinesSource", "Registry", "NpmPipeline",
          "StreamOps", "Relational", "EventOps", "Graph", "Dedup", "DedupIndex",
          "LshIndex", "Retrieval", "Similarity", "Pipeline"]
# op_tail_ms is printed on the summary line but not gated: a run has at most
# ten ops, so no percentile has ten samples beyond it and the tail is the
# single slowest op, whose spread across runs exceeds any usable bound.
END_TO_END = {"setup_s": "s", "wall_s": "s", "cpu_s": "s", "op_p50_ms": "ms",
              "query_geomean_ms": "ms", "rows_per_s": "rows/s",
              "live_heap_peak_mb": "MB"}


def per_layer_units():
    """Name -> unit of every per-layer metric, in BENCHMARK.json order."""
    units = {}
    for layer in LAYERS:
        units[f"{layer}.busy_s"] = "s"
        units[f"{layer}.errors"] = "count"
        units[f"{layer}.task_cpu_s"] = "s"
        units[f"{layer}.shuffle_mb"] = "MB"
        units[f"{layer}.spill_mb"] = "MB"
        units[f"{layer}.task_skew"] = "ratio"
        units[f"{layer}.exchanges"] = "count"
    for b in ["DedupIndex", "LshIndex", "Retrieval", "Similarity"]:
        units[f"{b}.build_s"] = "s"
    units.update({
        "GraftSession.start_s": "s", "GraftSession.warmup_s": "s",
        "plan.nlj": "count",
        "stream.latestOffset_ms": "ms", "stream.planning_ms": "ms",
        "stream.addBatch_ms": "ms", "stream.walCommit_ms": "ms",
        "stream.commitOffsets_ms": "ms", "stream.state_commit_ms": "ms",
        "stream.state_mb": "MB",
        "ThrottledLinesSource.offset_slope_ms_per_kline": "ms/kline",
        "npm-stream.scaling": "ratio", "layout.bytes_per_input_byte": "ratio",
        "layout.ingest_s": "s", "trace.overhead": "ratio"})
    return units


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ---------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(REPO, "src/main/scala/**/*.scala"), recursive=True)
                   + glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True)
                   + [os.path.join(HERE, "build.sbt"),
                      os.path.join(HERE, "project/build.properties")])
    for f in files:
        h.update(os.path.relpath(f, REPO).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile engine + harness with sbt unless the sources are unchanged."""
    stamp_file = os.path.join(OUT, "build", "stamp")
    cp_file = os.path.join(OUT, "build", "classpath")
    stamp = source_stamp()
    if (os.path.exists(stamp_file) and os.path.exists(cp_file)
            and open(stamp_file).read() == stamp):
        return open(cp_file).read()
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    env = dict(os.environ, COURSIER_MODE="offline")
    tmp = os.path.join(OUT, "build", "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] = (env.get("SBT_OPTS") or (
        "-Dsbt.override.build.repos=true -Dsbt.repository.config="
        + os.path.expanduser("~/.sbt/repositories") + " -Dsbt.offline=true -Xmx2g")
        + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    t0 = time.time()
    p = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], cwd=HERE, env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       timeout=850, stdin=subprocess.DEVNULL)
    lines = [l for l in p.stdout.splitlines() if "scala-2.13/classes" in l
             and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed", 3)
    os.makedirs(os.path.dirname(cp_file), exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return lines[-1].strip()


# --------------------------------------------------------------- inputs

def make_inputs(workload, seed):
    """Seeded inputs for one workload, cached per seed."""
    import inputs
    size = SIZES[workload]
    # inputs are cached per generator version, sizes and seed
    with open(os.path.join(HERE, "inputs.py"), "rb") as f:
        version = hashlib.sha256(f.read() + json.dumps(size, sort_keys=True).encode())
    root = os.path.join(OUT, "inputs", workload, version.hexdigest()[:12], f"seed-{seed}")
    if os.path.exists(os.path.join(root, ".done")):
        return root
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    if workload == "npm-stream":
        inputs.write_tables(f"{root}/tables", seed, size["sf"])
        expected = inputs.write_npm(f"{root}/npm", seed, size["lines"], size["pool"])
        with open(f"{root}/npm/expected.json", "w") as f:
            json.dump(expected, f, sort_keys=True)
    elif workload == "batch-analytics":
        inputs.write_tables(f"{root}/tables", seed, size["sf"])
    else:
        inputs.write_tables(f"{root}/full", seed, size["sf"])
        inputs.split_corpus(f"{root}/full", f"{root}/core", f"{root}/heldout.parquet",
                            seed, size["heldout"])
    open(os.path.join(root, ".done"), "w").close()
    return root


# ---------------------------------------------------------------- checks

def _norm(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, 4)
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((str(k), _norm(x)) for k, x in v.items()))
    return v


def _rows(con, sql):
    rel = con.sql(sql)
    cols = list(rel.columns)
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [tuple(_norm(r[i]) for i in order) for r in rel.fetchall()]
    return [cols[i] for i in order], sorted(rows, key=repr)


def _connect(data_dir):
    import duckdb
    con = duckdb.connect()
    con.sql("SET threads TO 2")
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def oracle_rows(key, data_dir, sql):
    """Oracle answer of `key` over `data_dir`, cached next to the inputs."""
    cache = os.path.join(data_dir + ".oracle", key + ".pkl")
    if os.path.exists(cache):
        with open(cache, "rb") as f:
            return pickle.load(f)
    con = _connect(data_dir)
    ans = _rows(con, sql)
    con.close()
    os.makedirs(os.path.dirname(cache), exist_ok=True)
    with open(cache, "wb") as f:
        pickle.dump(ans, f)
    return ans


def check_results(raw, run_dir, root):
    """Map result key -> (ok, detail) for every first-pass result."""
    import duckdb
    sqls = json.load(open(os.path.join(run_dir, "oracle_sql.json")))
    verdict = {}
    con = duckdb.connect()
    for key, m in raw["results"].items():
        try:
            kind = m.get("check")
            if kind == "npm":
                verdict[key] = check_npm(con, m["parquet"], root)
                continue
            got_cols, got = _rows(con, f"SELECT * FROM '{m['parquet']}/*.parquet'")
            exp_cols, exp = oracle_rows(m["oracle_key"], m["dir"], sqls[m["oracle_key"]])
            if got_cols != exp_cols:
                verdict[key] = (False, f"columns {got_cols} vs oracle {exp_cols}")
            elif kind == "subset":
                pool = {}
                for r in exp:
                    pool[r] = pool.get(r, 0) + 1
                extra = 0
                for r in got:
                    if pool.get(r, 0) > 0:
                        pool[r] -= 1
                    else:
                        extra += 1
                verdict[key] = (extra == 0, f"{len(got)} rows, {extra} not in the exact bridge")
            elif got == exp:
                verdict[key] = (True, f"{len(got)} rows match the oracle")
            else:
                only_g = [r for r in got if r not in set(exp)][:2]
                only_e = [r for r in exp if r not in set(got)][:2]
                verdict[key] = (False, f"rows {len(got)} vs oracle {len(exp)}; "
                                       f"spark-only={only_g} oracle-only={only_e}")
        except Exception as e:  # a check that cannot run is a failed check
            verdict[key] = (False, f"check error: {type(e).__name__}: {e}")
    con.close()
    return verdict


def check_npm(con, parquet, root):
    """The accumulated npm result against a plain fold of the snapshot."""
    expected = json.load(open(os.path.join(root, "npm", "expected.json")))
    got = {}
    for pkg, versions in con.sql(
            f"SELECT package, versions FROM '{parquet}/*.parquet'").fetchall():
        # DuckDB returns a MAP as parallel key and value lists
        got[pkg] = {k: [v["dependencies"], v["devDependencies"]]
                    for k, v in zip(versions["key"], versions["value"])}
    if got == expected:
        return True, f"{len(got)} packages match the snapshot fold"
    diff = sorted(set(got) ^ set(expected))[:3] or \
        [p for p in sorted(got) if got[p] != expected.get(p)][:3]
    return False, f"{len(got)} packages vs fold {len(expected)}; differ: {diff}"


# --------------------------------------------------------------- metrics

def tail(values):
    """Highest percentile with at least 10 samples beyond it."""
    xs = sorted(values)
    n = len(xs)
    for p in (99.9, 99.0, 95.0, 90.0, 75.0, 50.0):
        if n * (1 - p / 100.0) >= 10:
            return xs[min(n - 1, int(math.ceil(p / 100.0 * n)) - 1)], p, n
    return xs[-1], 100.0, n


def end_to_end(raw, ops):
    ok_ms = [o["ms"] for o in ops if o["ok"]]
    by_key = {}
    for o in ops:
        if o["ok"]:
            by_key.setdefault(o["key"], []).append(o["ms"])
    t, p, n = tail(ok_ms) if ok_ms else (0.0, 0.0, 0)
    e = raw["e2e"]
    metrics = {
        "setup_s": e["setup_s"], "wall_s": e["wall_s"], "cpu_s": e["cpu_s"],
        "op_p50_ms": statistics.median(ok_ms) if ok_ms else 0.0,
        "query_geomean_ms": math.exp(statistics.fmean(
            math.log(max(1e-6, statistics.median(v))) for v in by_key.values()))
        if by_key else 0.0,
        "rows_per_s": e["rows_per_s"], "live_heap_peak_mb": e["live_heap_peak_mb"]}
    return metrics, {"op_tail_ms": t, "tail_percentile": p, "tail_n": n}


# ------------------------------------------------------------------ main

def prune_runs(keep=24):
    runs = sorted(glob.glob(os.path.join(OUT, "runs", "*")), key=os.path.getmtime)
    for d in runs[:-keep]:
        shutil.rmtree(d, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(REPO, "src", "main", "scala", "graft")):
        fail(f"engine sources not found under {REPO}/src/main/scala")

    classpath = build()
    t0 = time.time()
    root = make_inputs(a.workload, a.seed)
    gen_s = time.time() - t0
    run_dir = os.path.join(OUT, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    cores = len(os.sched_getaffinity(0))
    size = SIZES[a.workload]
    cmd = (["java", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={run_dir}/tmp", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Harness",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--inputs", root, "--out", run_dir, "--cores", str(cores),
              "--lines-per-trigger", str(size.get("per_trigger", 0)),
              "--ingest-batches", str(size.get("batches", 1))])
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_") and k not in ("SPARK_LOCAL_DIRS", "SPARK_CONF_DIR")}
    log_path = os.path.join(run_dir, "jvm.log")
    t_jvm = time.time()
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, env=env, start_new_session=True)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = "timeout"
    raw_path = os.path.join(run_dir, "raw.json")
    if rc != 0 or not os.path.exists(raw_path):
        sys.stderr.write(open(log_path).read()[-6000:])
        fail(f"harness JVM exited with {rc}", 4)
    jvm_s = time.time() - t_jvm
    raw = json.load(open(raw_path))
    shutil.rmtree(os.path.join(run_dir, "tmp"), ignore_errors=True)

    # correctness, outside all timing
    t_check = time.time()
    verdict = check_results(raw, run_dir, root)
    check_s = time.time() - t_check
    ops = raw["ops"]
    wrong_keys = {k for k, (ok, _) in verdict.items() if not ok}
    failed = wrong = 0
    bad_ops = []
    for o in ops:
        if not o["ok"]:
            failed += 1
            bad_ops.append(f"{o['key']} (pass {o['pass']}): {o['error']}")
        elif not o["consistent"] or o["key"] in wrong_keys:
            wrong += 1
            bad_ops.append(f"{o['key']} (pass {o['pass']}): wrong rows")
    attempted = max(1, len(ops))
    errors = failed + wrong
    for k, (ok, detail) in sorted(verdict.items()):
        print(f"check {k}: {'ok' if ok else 'WRONG'} - {detail}")
    for b in bad_ops[:20]:
        print(f"error: {b}")

    if a.trace:
        per = raw["per_layer"]
        for o in ops:
            if o["ok"] and o["consistent"] and o["key"] in wrong_keys:
                per[f"{o['layer']}.errors"] += 1
        units = per_layer_units()
        metrics = {k: {"value": float(per.get(k, 0.0)), "unit": u} for k, u in units.items()}
        with open(os.path.join(run_dir, "per_layer.json"), "w") as f:
            json.dump(per, f, indent=1, sort_keys=True)
        print(f"trace: overhead {per.get('trace.overhead', 0.0):+.3f}, "
              f"spans in {run_dir}/spans.jsonl")
    else:
        values, tail_info = end_to_end(raw, ops)
        metrics = {k: {"value": float(values[k]), "unit": u} for k, u in END_TO_END.items()}
        extra = raw.get("extra", {})
        print(f"summary: workload {a.workload} seed {a.seed} cores {cores} "
              f"passes {len(raw['passes'])} ops {len(ops)} error_rate {errors / attempted:.4f} "
              f"op_tail_ms {tail_info['op_tail_ms']:.1f} (p{tail_info['tail_percentile']:g} "
              f"of n={tail_info['tail_n']}) "
              f"ingest_s {extra.get('ingest_s', 0.0):.3f} input_gen_s {gen_s:.2f} "
              f"jvm_s {jvm_s:.1f} check_s {check_s:.1f}")
        for k, v in metrics.items():
            print(f"metric {k} = {v['value']:.6g} {v['unit']}")
    result = {"correct": errors == 0, "attempted": attempted, "failed": errors,
              "metrics": metrics}
    with open(os.path.join(run_dir, "result.json"), "w") as f:
        json.dump(result, f)
    prune_runs()
    print(json.dumps(result))


if __name__ == "__main__":
    main()
