#!/usr/bin/env python3
"""Benchmark for the graft Spark engine: one command per workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Run from the repository root. The command

  1. builds the library from `src/main/scala` together with the harness in
     `perfbench/src` (sbt, offline; cached under `.bench_build/` and rebuilt
     when a source changes);
  2. generates the workload's inputs (`gen.py`) under `.bench_build/data/`:
     fixed sf0.1 tables whose query order `--seed` shuffles, or seeded
     forecast fetches;
  3. runs one JVM (`graft.perfbench.Main`, session `local[<cores>]`, 8 GB
     heap) that sets up several times, then drives one closed-loop client
     (each op starts when the previous one has finished) for a whole
     number of rounds: as many as the workload's nominal round time on a
     4-core host needs to cover `--seconds`. A fixed count, not a
     deadline, so that every run and every commit measures the same ops:
     the sample count, and with it the tail percentile, do not change
     with the host's speed;
  4. checks every op's output outside the timed region (DuckDB oracle for
     queries; key sets, row counts and a recomputed weekly report for the
     weather pipeline); an op that threw or returned a wrong result counts
     as failed;
  5. prints every metric by name with its unit, then one JSON line:
     {"correct", "attempted", "failed", "metrics"}; with --trace 0 the
     metrics are the end-to-end ones, with --trace 1 the per-layer ones.

Workloads are defined in WORKLOADS below. BENCHMARK.json at the
repository root lists the timed ones and why each exists;
perfbench/layers.json defines the metrics and maps each layer metric to
the end-to-end metric it should move; perfbench/baseline.json holds a
baseline for a 4-core host.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.join(ROOT, "tools"))  # check_oracle.compare

DEADLINE_S = 170  # the whole command, build excluded

# Query sets. Each is fixed; the seed changes the order of every pass (and
# perturbs llm_scaleup's replicated documents and vectors).
# SUITE: every 50th name of the sorted headline set (graft.Bench.headline,
# 305 oracle-backed queries): 7 queries from 7 of the 16 Queries files.
# A full pass of the headline set takes about two minutes on 4 cores, and
# every set-up runs one pass over the suite, so the suite runs this fixed
# stratified sample.
SUITE_QUERIES = [
    "a1_weekly_avg", "dq6_correlation", "j15_asof_nearest",
    "sk5_quantile_sketch", "stor24_restore", "v5_neardup_lsh", "x5_vocab_topk"]
# LLM: the pair-expansion and model-building queries of the dedup, vector,
# text and graph families, the ones whose executor time grows with data.
LLM_QUERIES = [
    "d5_simhash_pairs", "d17_prefix_filter", "d25_dup_spans",
    "v5_neardup_lsh", "d16_semantic_clusters", "v14_pq_adc",
    "x16_cooccur_topk", "x8_tfidf_topk", "d19_common_neighbors"]

# setups: set-ups per run (setup_s is their median); llm_scaleup sets up
# once, as its set-up pass over the heavy queries is long. round_s: the
# nominal time of one round (a pass over the queries, or a checkpoint
# period of cycles, plus the full GC that ends it) on a 4-core host.
WORKLOADS = {
    "suite_sf0.1": {"kind": "queries", "sf": 0.1, "copies": 1, "setups": 3,
                    "round_s": 4.2},
    "llm_scaleup": {"kind": "queries", "sf": 0.1, "copies": 2, "setups": 1,
                    "round_s": 18.0},
    "weather_hourly": {"kind": "weather", "cities": 200, "checkpoint_every": 2,
                       "setups": 3, "round_s": 4.2},
}

END_TO_END = [("setup_s", "s"), ("op_p50_s", "s"), ("op_tail_s", "s"),
              ("ops_per_s", "1/s"), ("peak_heap_mb", "MB")]

FAMILIES = ["reference", "relational", "text", "dedup", "vector", "streaming",
            "functions", "sketch", "curation", "events", "graph", "timeseries",
            "profile", "sql", "storage", "ml"]

PER_LAYER = (
    [("session.start_s", "s"), ("session.warmup_s", "s"),
     ("queries.construct_s", "s"), ("queries.construct_jobs", "count"),
     ("queries.construct_driver_s", "s"), ("queries.execute_s", "s")] +
    [(f"queries.{f}.wall_s", "s") for f in FAMILIES] +
    [("catalyst.analysis_s", "s"), ("catalyst.optimization_s", "s"),
     ("catalyst.planning_s", "s"), ("catalyst.outside_jobs_s", "s"),
     ("catalyst.aqe_updates", "count"),
     ("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"),
     ("exec.task_s", "s"), ("exec.task_cpu_s", "s"), ("exec.gc_s", "s"),
     ("exec.task_overhead_s", "s"), ("exec.job_wall_s", "s"),
     ("exec.driver_gap_s", "s"), ("exec.core_util", "ratio"),
     ("exec.shuffle_read_mb", "MB"), ("exec.shuffle_write_mb", "MB"),
     ("exec.spill_mb", "MB"), ("exec.peak_task_mem_mb", "MB"),
     ("exec.max_task_skew", "ratio"),
     ("caches.build_s", "s"), ("caches.builds", "count"),
     ("caches.storage_mb", "MB"),
     ("pipeline.parse_s", "s"), ("pipeline.load_s", "s"),
     ("pipeline.dedup_keep_ratio", "ratio"),
     ("sinks.bytes_written", "B"), ("sinks.files", "count"),
     ("sinks.read_s", "s"),
     ("storage.append_s", "s"), ("storage.checkpoint_s", "s"),
     ("storage.read_s", "s"), ("storage.scan_s", "s"),
     ("storage.manifests_since_checkpoint", "count"),
     ("storage.live_files", "count"), ("storage.log_bytes", "B"),
     ("stored_bytes_per_input_byte", "ratio"),
     ("op.wall_s", "s"), ("op.unattributed_s", "s"),
     ("trace.overhead_p50_s", "s"), ("trace.spans", "count")])


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"ERROR: {msg}")
    sys.exit(code)


# ---------------------------------------------------------------- build

def _tree_hash(paths):
    h = hashlib.sha256()
    for base in paths:
        if os.path.isfile(base):
            files = [base]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(base)
                           for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile library + harness; return the runtime classpath."""
    lib = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isfile(os.path.join(lib, "graft", "SparkEntry.scala")):
        fail("library sources not found under src/main/scala; run from the "
             "repository root")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")
    stamp = _tree_hash([lib, os.path.join(HERE, "src"),
                        os.path.join(HERE, "build.sbt")])
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.isfile(cp_file):
        with open(cp_file) as f:
            saved = f.read().split("\n", 1)
        if saved[0] == stamp:
            return saved[1].strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx3g"]
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building (sbt compile) ...")
    t0 = time.monotonic()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "classes" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + cp + "\n")
    log(f"built in {time.monotonic() - t0:.1f}s")
    return cp


# ----------------------------------------------------------------- inputs

def _dir_bytes(d):
    return sum(os.path.getsize(os.path.join(a, f))
               for a, _, fs in os.walk(d) for f in fs)


# The query workloads run on fixed tables, as the headline set runs on one
# sf0.1 dataset; their seed shuffles the query order (suite_sf0.1) and
# perturbs the replicated documents and vectors (llm_scaleup).
TABLE_SEED = 42


def make_inputs(name, seed, smoke, rounds):
    """Generate the inputs; return a dict of paths. The fixed tables are
    kept between runs (keyed by gen.py's hash), seeded inputs are
    regenerated every run."""
    import gen
    w = WORKLOADS[name]
    t0 = time.monotonic()
    if w["kind"] == "queries":
        sf = 0.001 if smoke else w["sf"]
        base = os.path.join(BUILD, "data", f"tables-sf{sf}")
        marker = os.path.join(base, "DONE")
        stamp = _tree_hash([os.path.join(HERE, "gen.py")])
        if not (os.path.isfile(marker) and open(marker).read() == stamp):
            shutil.rmtree(base, ignore_errors=True)
            gen.tables(base, sf, TABLE_SEED)
            with open(marker, "w") as f:
                f.write(stamp)
        paths = {"data": base}
        if w["copies"] > 1:
            paths["data"] = os.path.join(BUILD, "data", name)
            shutil.rmtree(paths["data"], ignore_errors=True)
            gen.scaleup(base, paths["data"], w["copies"], seed)
    else:
        root = os.path.join(BUILD, "data", name)
        shutil.rmtree(root, ignore_errors=True)
        paths = {"data": os.path.join(root, "fetches"),
                 "warm": os.path.join(root, "warm")}
        gen.forecast(paths["warm"], seed + 1, 10, 2)
        # a traced run of one round runs two (one untraced, one traced)
        gen.forecast(paths["data"], seed, 12 if smoke else w["cities"],
                     (rounds + 1) * w["checkpoint_every"])
    log(f"inputs ready in {time.monotonic() - t0:.1f}s")
    return paths


# ------------------------------------------------------------------- run

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def run_jvm(cp, args, out, timeout):
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + [x for p in JDK_OPENS
                       for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Xmx8g", "-XX:ReservedCodeCacheSize=512m",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-cp", cp, "graft.perfbench.Main"] +
           [f"{k}={v}" for k, v in args.items()])
    logf = open(os.path.join(out, "jvm.log"), "w")
    p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                         start_new_session=True)
    try:
        rc = p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        logf.close()
        fail(f"JVM exceeded {timeout:.0f}s; log in {out}/jvm.log")
    logf.close()
    res = os.path.join(out, "result.json")
    if rc != 0 or not os.path.isfile(res):
        with open(os.path.join(out, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"JVM exited with {rc}")
    with open(res) as f:
        return json.load(f)


# ----------------------------------------------------------------- stats

def hd_quantile(values, p):
    """Harrell-Davis estimate of the p-quantile: a Beta((n+1)p, (n+1)(1-p))
    weighted mean of the order statistics. Unlike a single order
    statistic it does not jump across the gaps between the latency
    clusters of a mixed workload (one cluster per query)."""
    v = sorted(values)
    n = len(v)
    a, b = (n + 1) * p, (n + 1) * (1 - p)
    lb = math.lgamma(a) + math.lgamma(b) - math.lgamma(a + b)
    steps = 4000
    w = [0.0] * n
    for k in range(steps):
        x = (k + 0.5) / steps
        w[min(n - 1, int(x * n))] += math.exp(
            (a - 1) * math.log(x) + (b - 1) * math.log(1 - x) - lb)
    return sum(wi * vi for wi, vi in zip(w, v)) / sum(w)


def tail(values):
    """The highest percentile with at least 10 samples above it, its
    Harrell-Davis value and n. With 10 or fewer samples there is no such
    percentile; the maximum is reported and the percentile reads 100."""
    n = len(values)
    if n <= 10:
        return max(values), 100.0, n
    p = (n - 10) / n
    return hd_quantile(values, p), 100.0 * p, n


def e2e_metrics(res, ops):
    """End-to-end metrics over the untraced ops. The loop stops only at
    the end of a round, so every run measures the same mix of ops."""
    walls = [o["wall_s"] for o in ops]
    t, pct, n = tail(walls)
    m = {"setup_s": statistics.median(s["setup_s"] for s in res["setups"]),
         "op_p50_s": hd_quantile(walls, 0.5), "op_tail_s": t,
         "ops_per_s": sum(o["ok"] for o in ops) / sum(walls),
         "peak_heap_mb": res["peak_heap_mb"]}
    return m, pct, n


# ---------------------------------------------------------------- checks

def check_queries(res, data_dir):
    """DuckDB oracle compare with tools/check_oracle.py's `compare`
    (column-name-sorted multisets, floats at 9dp). Returns {query: error
    or ""}.
    Oracle results over the fixed tables are kept between runs, keyed by
    the tables' stamp, their directory and the SQL."""
    import duckdb
    import pickle
    from check_oracle import compare
    marker = os.path.join(data_dir, "DONE")
    stamp = open(marker).read() if os.path.isfile(marker) else None
    cache = os.path.join(BUILD, "oracle")
    os.makedirs(cache, exist_ok=True)

    def oracle_df(sql):
        if stamp is None:
            return con.execute(sql).fetchdf()
        key = hashlib.sha256((stamp + data_dir + sql).encode()).hexdigest()
        f = os.path.join(cache, key + ".pkl")
        if os.path.isfile(f):
            with open(f, "rb") as fh:
                return pickle.load(fh)
        df = con.execute(sql).fetchdf()
        with open(f, "wb") as fh:
            pickle.dump(df, fh)
        return df

    con = duckdb.connect()
    con.execute("SET threads=4")
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(data_dir, t + '.parquet')}'")
    rdir = res["summary"]["results_dir"]
    verdict = {}
    for q, sql in res["summary"]["oracle"].items():
        if not sql:
            verdict[q] = "no oracle"
            continue
        try:
            oracle = oracle_df(sql)
            spark = con.execute(
                f"SELECT * FROM '{os.path.join(rdir, q)}/*.parquet'").fetchdf()
            ok, msg = compare(spark, oracle)
            verdict[q] = "" if ok else msg
        except Exception as e:  # noqa: BLE001 - any error is a failed check
            verdict[q] = f"check error: {e}"
    return verdict


def check_weather(res, fetch_dir):
    """Fact keys = distinct generated keys; commit-log rows = rows appended;
    weekly report = DuckDB recomputation. Returns a list of errors."""
    import duckdb
    from check_oracle import compare
    s = res["summary"]
    cycles = s["cycles"]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW exp AS SELECT * FROM "
                f"'{os.path.join(fetch_dir, 'expected.parquet')}' "
                f"WHERE cycle < {cycles}")
    errors = []
    appended = con.execute("SELECT count(*) FROM exp").fetchone()[0]
    if s["commit_log_rows"] != appended:
        errors.append(f"commit-log rows {s['commit_log_rows']} != appended "
                      f"{appended}")
    fact = f"'{s['fact_dir']}/*.parquet'"
    diff = con.execute(f"""
        WITH g AS (SELECT DISTINCT country, city, dt FROM exp),
             f AS (SELECT DISTINCT country, city,
                          CAST(epoch(weatherDate) AS BIGINT) AS dt FROM {fact})
        SELECT (SELECT count(*) FROM (SELECT * FROM g EXCEPT SELECT * FROM f)),
               (SELECT count(*) FROM (SELECT * FROM f EXCEPT SELECT * FROM g))
    """).fetchone()
    if diff != (0, 0):
        errors.append(f"fact keys differ from generated keys: {diff[0]} missing, "
                      f"{diff[1]} unexpected")
    # weeklyAvg per fetch: cents mean of round(K - 273.15, 2), rounded half
    # away from zero in integer cents, grouped by (country, city, ISO week)
    oracle = con.execute("""
        WITH c AS (
          SELECT cycle, country, city,
                 weekofyear(to_timestamp(dt)) AS week,
                 CAST(floor(round(temp - 273.15, 2) * 100 + 0.5) AS BIGINT) AS v
          FROM exp),
        a AS (SELECT cycle, country, city, week, sum(v) AS s, count(v) AS n
              FROM c GROUP BY ALL)
        SELECT country, city, CAST(week AS INTEGER) AS week,
               CAST(CASE WHEN s < 0 THEN -((-s + n // 2) // n)
                         ELSE (s + n // 2) // n END AS DOUBLE) / 100.0
                 AS average_temperature
        FROM a""").fetchdf()
    weekly = con.execute(
        f"SELECT * FROM '{s['weekly_dir']}/*.parquet'").fetchdf()
    ok, msg = compare(weekly, oracle)
    if not ok:
        errors.append(f"weekly report differs from recomputation: {msg}")
    return errors


# ------------------------------------------------------------------ main

def run(args):
    if args.workload not in WORKLOADS:
        fail(f"unknown workload {args.workload}; one of {sorted(WORKLOADS)}")
    w = WORKLOADS[args.workload]
    cp = build()
    t_build = time.monotonic()
    rounds = max(1, math.ceil(args.seconds / w["round_s"]))
    paths = make_inputs(args.workload, args.seed, args.smoke, rounds)
    out = os.path.join(BUILD, "runs", f"{args.workload}-t{args.trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    jargs = {"workload": w["kind"], "out": out, "rounds": rounds,
             "trace": args.trace, "seed": args.seed,
             "setups": 1 if args.smoke else w["setups"],
             "cores": os.cpu_count(), "corrupt": int(args.corrupt),
             "data": paths["data"], "warm": paths.get("warm", "")}
    if w["kind"] == "queries":
        jargs["queries"] = ",".join(SUITE_QUERIES if args.workload == "suite_sf0.1"
                                    else LLM_QUERIES)
    else:
        jargs["checkpoint_every"] = w["checkpoint_every"]
    budget = DEADLINE_S - (time.monotonic() - t_build) - 20
    t_jvm = time.monotonic()
    res = run_jvm(cp, jargs, out, budget)
    log(f"inputs {t_jvm - t_build:.1f}s, jvm {time.monotonic() - t_jvm:.1f}s")
    t_check = time.monotonic()

    ops = res["ops"]
    if not ops:
        fail("no op completed")
    # ---- correctness, outside the timed region
    if w["kind"] == "queries":
        verdict = check_queries(res, paths["data"])
        for o in ops:
            if o["ok"] and verdict.get(o["name"]):
                o["ok"] = False
                o["error"] = verdict[o["name"]]
        bad = {q: v for q, v in verdict.items() if v}
    else:
        errors = check_weather(res, paths["data"])
        if errors:
            for o in ops:
                o["ok"] = False
        bad = {"weather": "; ".join(errors)} if errors else {}
    failed = [o for o in ops if not o["ok"]]
    log(f"checks {time.monotonic() - t_check:.1f}s")
    for q, v in sorted(bad.items()):
        log(f"WRONG OUTPUT {q}: {v[:300]}")
    for o in failed:
        if o["error"] and o["name"] not in bad:
            log(f"FAILED {o['name']}: {o['error'][:300]}")

    untraced = [o for o in ops if o["phase"] == "untraced"]
    m, pct, n = e2e_metrics(res, untraced)
    rows, input_bytes = input_size(paths["data"], w["kind"], res)
    print(f"workload {args.workload}: seed {args.seed}, {res['cores']} cores, "
          f"heap {res['heap_max_mb']:.0f} MB, closed loop with 1 client, "
          f"{rounds} rounds in {res['loop_s']:.1f} s")
    print(f"input: {rows} rows, {input_bytes} bytes; "
          f"caches.storage_mb {res['caches_storage_mb']:.1f}")
    extra = {"failed_frac": (len(failed) / len(ops), "ratio"),
             "op_tail_percentile": (pct, "%"),
             "op_samples": (n, "count"),
             "process_start_to_first_op_s": (res["jvm_start_to_first_op_s"], "s")}
    if w["kind"] == "weather":
        stored = (_dir_bytes(res["summary"]["root_dir"]) /
                  max(1, fetch_bytes(paths["data"], res["summary"]["cycles"])))
        extra["stored_bytes_per_input_byte"] = (stored, "ratio")
    for k, u in END_TO_END:
        print(f"{k}: {m[k]:.6g} {u}")
    for k, (v, u) in extra.items():
        print(f"{k}: {v:.6g} {u}")

    if args.trace:
        layers = per_layer(res, ops, w["kind"], paths, out)
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u}
                   for k, u in PER_LAYER}
        for k, u in PER_LAYER:
            print(f"{k}: {layers.get(k, 0.0):.6g} {u}")
    else:
        metrics = {k: {"value": float(m[k]), "unit": u} for k, u in END_TO_END}
    print(json.dumps({"correct": not failed, "attempted": len(ops),
                      "failed": len(failed), "metrics": metrics}))


def input_size(data_dir, kind, res):
    """Rows and bytes of the input the run read: the tables, or the
    forecast points and JSON of the cycles that ran."""
    import pyarrow.parquet as pq
    if kind == "weather":
        cycles = res["summary"]["cycles"]
        exp = pq.read_table(os.path.join(data_dir, "expected.parquet"),
                            columns=["cycle"]).column("cycle").to_pylist()
        return sum(c < cycles for c in exp), fetch_bytes(data_dir, cycles)
    return (sum(pq.ParquetFile(os.path.join(data_dir, f)).metadata.num_rows
                for f in os.listdir(data_dir) if f.endswith(".parquet")),
            _dir_bytes(data_dir))


def fetch_bytes(fetch_dir, cycles):
    return sum(os.path.getsize(os.path.join(fetch_dir, f"cycle_{c:05d}.json"))
               for c in range(cycles))


def per_layer(res, ops, kind, paths, out):
    """Per-layer metrics of the traced rounds, plus what the checker derives."""
    layers = dict(res["layers"])
    traced = [o for o in ops if o["phase"] == "traced"]
    untraced = [o for o in ops if o["phase"] == "untraced"]
    if traced and untraced:
        if kind == "queries":
            both = ({o["name"] for o in traced} & {o["name"] for o in untraced})
            med = lambda os_, n: statistics.median(
                o["wall_s"] for o in os_ if o["name"] == n)
            layers["trace.overhead_p50_s"] = statistics.median(
                med(traced, n) - med(untraced, n) for n in both) if both else 0.0
        else:
            layers["trace.overhead_p50_s"] = (
                statistics.median(o["wall_s"] for o in traced) -
                statistics.median(o["wall_s"] for o in untraced))
    spans = [json.loads(l) for l in open(os.path.join(out, "trace.jsonl"))]
    selft = self_times(spans)
    if kind == "weather":
        s = res["summary"]
        parsed = sum(o.get("parsed_rows", 0) for o in ops)
        layers["pipeline.dedup_keep_ratio"] = s["fact_rows"] / max(1, parsed)
        sink_bytes = sum(_dir_bytes(s[d]) for d in ["fact_dir", "weekly_dir"]) + \
            _dir_bytes(os.path.join(s["root_dir"], "humidity"))
        layers["sinks.bytes_written"] = sink_bytes / len(ops)
        layers["sinks.files"] = sum(
            len(fs) for d in ["fact", "weekly", "humidity"]
            for _, _, fs in os.walk(os.path.join(s["root_dir"], d))) / len(ops)
        for k in ["storage.manifests_since_checkpoint", "storage.live_files",
                  "storage.log_bytes"]:
            layers[k] = s[k]
        layers["stored_bytes_per_input_byte"] = (
            _dir_bytes(s["root_dir"]) / max(1, fetch_bytes(paths["data"], s["cycles"])))
    top = sorted(selft.items(), key=lambda kv: -kv[1])[:12]
    print("self time by span (s, set-ups and traced rounds): " +
          ", ".join(f"{k}={v:.3f}" for k, v in top))
    if kind == "queries" and "op.wall_s" in layers:
        print(f"per-op wall {layers['op.wall_s']:.4f}s = jobs "
              f"{layers.get('exec.job_wall_s', 0):.4f}s + catalyst outside jobs "
              f"{layers.get('catalyst.outside_jobs_s', 0):.4f}s + "
              f"construct outside jobs and catalyst "
              f"{layers.get('queries.construct_driver_s', 0):.4f}s + "
              f"unattributed {layers.get('op.unattributed_s', 0):.4f}s")
    print(f"trace written to {os.path.relpath(os.path.join(out, 'trace.jsonl'), ROOT)}")
    return layers


def self_times(spans):
    """Total self time per span name: duration minus the part its children
    cover (children of one span never overlap: the client is sequential)."""
    child = {}
    for s in spans:
        child.setdefault(s["parent"], 0.0)
        child[s["parent"]] += s["end_s"] - s["start_s"]
    out = {}
    for s in spans:
        own = (s["end_s"] - s["start_s"]) - child.get(s["id"], 0.0)
        out[s["name"]] = out.get(s["name"], 0.0) + own
    return out


def selftest():
    """Smoke every workload, then show that a corrupted output is caught."""
    me = [sys.executable, os.path.abspath(__file__)]
    ok = True
    for name in WORKLOADS:
        for corrupt in (0, 1):
            cmd = me + ["--workload", name, "--seed", "7", "--seconds", "4",
                        "--trace", "1", "--smoke"] + (["--corrupt"] if corrupt else [])
            p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
            last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
            r = json.loads(last) if last.startswith("{") else {}
            good = (p.returncode == 0 and r.get("attempted", 0) > 0 and
                    (r.get("correct") is False and r.get("failed", 0) > 0
                     if corrupt else r.get("correct") is True and r.get("failed") == 0))
            ok &= good
            print(f"selftest {name} corrupt={corrupt}: "
                  f"{'ok' if good else 'FAIL'} {last[:160]}")
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="sf0.001 / a few cycles, one set-up")
    ap.add_argument("--corrupt", action="store_true",
                    help="corrupt one output after the run (negative check)")
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    if args.selftest:
        sys.exit(selftest())
    if not args.workload:
        ap.error("--workload is required")
    run(args)


if __name__ == "__main__":
    main()
