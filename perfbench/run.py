#!/usr/bin/env python3
"""graft benchmark: full results of two workloads, end to end and per layer.

Usage (from the repository root):

    python3 perfbench/run.py --workload analytics|etl \\
        --seed N --seconds S --trace 0|1

Builds the engine with the benchmark program (`perfbench/jvm`, once per
source change, into `.bench_build/`), lays out the workload's inputs (the
engine's sf0.01 test tables, and a season generated from the seed), runs
one JVM on `local[<all cores>]` with one client in a closed
loop, checks every output untimed, and prints one line per metric followed
by one JSON object on the last line. `--trace 0` reports the end-to-end
metrics, `--trace 1` the per-layer ones (from a traced pass between two
untraced ones) and writes the spans as JSONL. Exits non-zero if any
output is wrong. See perfbench/README.md for the workloads and metrics.
"""
import argparse
import glob
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
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
JVM_PROJECT = os.path.join(HERE, "jvm")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
# The engine's sf0.01 test tables (TESTDATA.md), byte for byte: 60k
# lineitem, 15k orders, 10k events, 500 documents, 500 embeddings.
FIXTURE = os.path.join(HERE, "data", "sf0.01")
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

# Per workload: the fixture tables it reads, and the rounds of its season.
WORKLOADS = {
    # all ten tables: q_sql_tpch_q3 registers the whole SQL catalog
    "analytics": {"tables": TABLES, "rounds": 0},
    "etl": {"tables": ["documents"], "rounds": 2},
}
JVM_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        sys.exit("perfbench: no Spark install found (set SPARK_HOME)")
    return home


def build(home):
    """Compile the engine and `perfbench.Main` into one jar unless the sources
    are unchanged since the last build; returns the JVM classpath."""
    srcs = sorted(glob.glob(f"{ENGINE_SRC}/**/*.scala", recursive=True) +
                  glob.glob(f"{JVM_PROJECT}/src/**/*.scala", recursive=True) +
                  [f"{JVM_PROJECT}/build.sbt", f"{JVM_PROJECT}/project/build.properties"])
    h = hashlib.sha256()
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(BUILD, "stamp")
    jar = os.path.join(JVM_PROJECT, "target", "perfbench.jar")
    if not (os.path.exists(stamp) and os.path.exists(jar) and
            open(stamp).read() == h.hexdigest()):
        log("perfbench: building the engine and perfbench.Main with sbt")
        # offline: every artifact the build needs is already in the local caches
        env = dict(os.environ, SPARK_HOME=home)
        env.setdefault("COURSIER_MODE", "offline")
        env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true")
        r = subprocess.run(["sbt", "-batch", "package"], cwd=JVM_PROJECT, env=env,
                           stdout=sys.stderr, stderr=sys.stderr, timeout=840)
        if r.returncode != 0:
            sys.exit("perfbench: build failed")
        os.makedirs(BUILD, exist_ok=True)
        with open(stamp, "w") as f:
            f.write(h.hexdigest())
    return f"{jar}:{home}/jars/*"


def generate(workload, seed, data):
    """The workload's inputs: a copy of the fixture tables it reads, and
    for `etl` the season the seed generates (returned)."""
    sys.path.insert(0, HERE)
    import season
    w = WORKLOADS[workload]
    os.makedirs(f"{data}/tables")
    for t in w["tables"]:
        shutil.copyfile(f"{FIXTURE}/{t}.parquet", f"{data}/tables/{t}.parquet")
    if w["rounds"]:
        return season.land(f"{data}/season", seed, w["rounds"])
    return None


def jvm(cp, args, out, timeout):
    """Runs perfbench.Main in `out`, its output in `out`.log; exits on
    failure or after `timeout` seconds, once the JVM has ended."""
    tmp = os.path.join(out, "tmp")  # Spark's local dirs and native libs
    os.makedirs(tmp, exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    # a fixed set of JIT compiler threads, so their CPU time can be told
    # apart from the work's (perfbench.Cpu)
    cmd = (["java", "-Xmx2g", "-XX:+UseG1GC", "-XX:-UseDynamicNumberOfCompilerThreads",
            "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-Duser.timezone=UTC",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] +
           [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", cp, "perfbench.Main", "--cores", str(cores)] + args)
    with open(f"{out}.log", "w") as logf:
        p = subprocess.Popen(cmd, cwd=out, stdout=logf, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:  # on a timeout, or when this script is stopped
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if rc != 0:
        with open(f"{out}.log") as f:
            log(f.read()[-4000:])
        sys.exit(f"perfbench: JVM run failed ({rc})")


def run_jvm(cp, workload, seed, seconds, trace, data, out):
    jvm(cp, ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
             "--trace", "1" if trace else "0", "--data", data, "--out", out], out,
        timeout=140 + seconds)
    with open(f"{out}/raw.json") as f:
        return json.load(f)


# -- output check -------------------------------------------------------

def _norm(v):
    import numpy as np
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "NULL"
    if isinstance(v, (np.floating, float)):
        return repr(float(v))
    if isinstance(v, (np.integer, int)) and not isinstance(v, (bool, np.bool_)):
        return repr(int(v)) + "i"
    if isinstance(v, (bool, np.bool_)):
        return repr(bool(v))
    return repr(str(v))


def _rows(df):
    """Order-free form of a result: columns by name, rows sorted; values
    go through pandas on both sides, as the engine's oracle check does."""
    cols = sorted(df.columns)
    df = df[cols].sort_values(cols).reset_index(drop=True)
    return cols, [tuple(_norm(v) for v in r) for r in df.itertuples(index=False)]


def oracle_rows(con, sql, data_dir):
    """Order-free rows of an oracle query, cached under `.bench_build` by
    the SQL and the input tables. The inputs are the same fixture in every
    run, and the `etl` gate's oracle, a self-join of all shingle sets,
    takes DuckDB about 15 s on a 4-core host."""
    h = hashlib.sha256(sql.encode())
    for t in TABLES:
        p = f"{data_dir}/{t}.parquet"
        if os.path.exists(p):
            h.update(t.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    path = os.path.join(BUILD, "oracle", h.hexdigest() + ".json")
    if os.path.exists(path):
        with open(path) as f:
            cols, rows = json.load(f)
        return cols, [tuple(r) for r in rows]
    cols, rows = _rows(con.execute(sql).df())
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump([cols, rows], f)
    os.replace(path + ".tmp", path)
    return cols, rows


def check_keys(results, oracle, data_dir):
    """Registry keys whose full result differs from their DuckDB oracle."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        p = f"{data_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    bad = []
    for key, sql in sorted(oracle.items()):
        try:
            got = _rows(con.execute(f"SELECT * FROM '{results}/{key}/*.parquet'").df())
            if sql is not None and got != oracle_rows(con, sql, data_dir):
                bad.append(key)
        except Exception as e:  # a result that cannot be read is wrong too
            log(f"perfbench: check of {key} failed: {e}")
            bad.append(key)
    con.close()
    return bad


# -- metrics ------------------------------------------------------------

def median(xs):
    return statistics.median(xs) if xs else float("nan")


def tail(ops, medians):
    """Each op's time over its op type's median; the highest percentile
    with at least ten samples beyond it (the 11th largest ratio)."""
    ratios = sorted(o["s"] / medians[o["kind"]] for o in ops)
    if len(ratios) < 11:
        return ratios[-1], 100.0, len(ratios)
    return ratios[-11], 100.0 * (len(ratios) - 10) / len(ratios), len(ratios)


def drift(passes):
    """Median of the second half of the timed passes over the first half's,
    minus one: a run still on the warm-up slope shows a negative drift."""
    xs = [p["seconds"] for p in passes]
    h = len(xs) // 2
    return median(xs[len(xs) - h:]) / median(xs[:h]) - 1 if h else 0.0


def op_stats(passes, field):
    """Median pass total and geometric mean of the per-op-type medians of
    an op measure (`s`: wall seconds, `cpu_s`: work CPU seconds)."""
    ops = [o for p in passes for o in p["ops"]]
    kinds = sorted({o["kind"] for o in ops})
    medians = {k: median([o[field] for o in ops if o["kind"] == k]) for k in kinds}
    run = median([sum(o[field] for o in p["ops"]) for p in passes])
    return run, math.exp(statistics.fmean(math.log(medians[k]) for k in kinds)), medians


def measured(raw):
    """The first `timed` timed passes: the same pass positions in every
    run, whatever passes `--seconds` added after them."""
    return raw["passes"][:raw["timed"]]


def end_to_end(raw, setup_s):
    plain = [p for p in measured(raw) if not p["traced"]]
    run_cpu, geo_cpu, _ = op_stats(plain, "cpu_s")
    run_wall, geo_wall, medians = op_stats(plain, "s")
    ops = [o for p in plain for o in p["ops"]]
    ratio, pct, n = tail(ops, medians)
    return {
        "setup_s": (setup_s, "s"),
        "run_cpu_s": (run_cpu, "s"),
        "op_geomean_cpu_s": (geo_cpu, "s"),
        "op_tail_ratio": (ratio, "ratio"),
        "retained_heap_mb": (raw["heap_mb"], "MiB"),
    }, {"tail_percentile": round(pct, 1), "tail_samples": n, "ops": len(ops),
        "passes": len(plain), "run_s": run_wall, "op_geomean_s": geo_wall,
        "steal": median([p["steal"] for p in plain])}


def per_layer(raw, fail_share):
    t = raw["trace"]
    c = t["counts"]
    traced = [p for p in measured(raw) if p["traced"]]
    plain = [p for p in measured(raw) if not p["traced"]]
    n = len(traced)
    per = lambda k: c.get(k, 0.0) / n
    wall = sum(p["seconds"] for p in traced)
    cores = raw["cores"]
    run_wall, geo_wall, _ = op_stats(plain, "s")
    m = {
        "wall.run_s": (run_wall, "s"),
        "wall.op_geomean_s": (geo_wall, "s"),
        "queries.construct_s": (per("queries.construct_s"), "s"),
        "queries.eager_jobs": (per("queries.eager_jobs"), "count"),
        "plans.analysis_ms": (per("plans.analysis_ms"), "ms"),
        "plans.optimization_ms": (per("plans.optimization_ms"), "ms"),
        "plans.planning_ms": (per("plans.planning_ms"), "ms"),
        "plans.nodes": (per("plans.nodes"), "count"),
        "plans.exchanges": (per("plans.exchanges"), "count"),
        "plans.sorts": (per("plans.sorts"), "count"),
        "plans.chars": (per("plans.chars"), "count"),
        "exec.jobs": (per("exec.jobs"), "count"),
        "exec.stages": (per("exec.stages"), "count"),
        "exec.tasks": (per("exec.tasks"), "count"),
        "exec.sched_delay_s": (per("exec.sched_delay_s"), "s"),
        "exec.task_busy_s": (per("exec.task_busy_s"), "s"),
        "exec.busy_share": (c.get("exec.task_busy_s", 0.0) / (wall * cores), "ratio"),
        "exec.shuffle_write_mb": (per("exec.shuffle_write_mb"), "MiB"),
        "exec.shuffle_read_mb": (per("exec.shuffle_read_mb"), "MiB"),
        "exec.spill_mb": (per("exec.spill_mb"), "MiB"),
        "exec.input_mb": (per("exec.input_mb"), "MiB"),
        "exec.gc_s": (per("exec.gc_s"), "s"),
        "exec.failed_tasks": (per("exec.failed_tasks"), "count"),
        "pipelines.transform_s": (per("pipelines.transform_s"), "s"),
        "sinks.upsert_s": (per("sinks.upsert_s"), "s"),
        "sinks.overwrite_s": (per("sinks.overwrite_s"), "s"),
        "sinks.files_written": (per("sinks.files_written"), "count"),
        "sinks.rewrite_ratio": (c["sinks.written_mb"] / c["sinks.new_mb"]
                                if c.get("sinks.new_mb") else 0.0, "ratio"),
        "streaming.batches": (per("streaming.batches"), "count"),
        "streaming.batch_p50_s": (median(t["batch_s"]) if t["batch_s"] else 0.0, "s"),
        "streaming.add_batch_s": (per("streaming.add_batch_s"), "s"),
        "streaming.query_planning_s": (per("streaming.query_planning_s"), "s"),
        "streaming.wal_commit_s": (per("streaming.wal_commit_s"), "s"),
        "streaming.store_mb": (raw["extra"].get("streaming.store_mb", 0.0), "MiB"),
        "store_amp": (raw["extra"].get("store_amp", 0.0), "ratio"),
        "driver.cpu_s": (per("driver.work_cpu_s") - per("exec.task_cpu_s"), "s"),
        "driver.gc_s": (per("driver.gc_s"), "s"),
        "op_fail_share": (fail_share, "ratio"),
        "trace.overhead_ratio": (median([p["seconds"] for p in traced]) /
                                 median([p["seconds"] for p in plain]), "ratio"),
    }
    for k, v in sorted(t["kernels"].items()):
        m[k] = (v, "ns")
    return m


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("perfbench: stopped"))
    if not (os.path.isdir(ENGINE_SRC) and os.path.isfile(f"{JVM_PROJECT}/build.sbt")):
        sys.exit("perfbench: run from the root of a graft checkout (engine sources missing)")

    cp = build(spark_home())
    start = time.time()
    work = os.path.join(BUILD, f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    data, out = f"{work}/data", f"{work}/out"
    os.makedirs(out)
    season_data = generate(a.workload, a.seed, data)
    raw = run_jvm(cp, a.workload, a.seed, a.seconds, a.trace, data, out)
    setup_s = raw["timing_start_ms"] / 1e3 - start

    # untimed output check
    with open(f"{out}/oracle.json") as f:
        bad = check_keys(f"{out}/results", json.load(f), f"{data}/tables")
    if season_data is not None:
        import season
        bad += season.check(f"{out}/stores", season_data)
    bad += sorted({o["kind"] for p in raw["warm"] for o in p["ops"] if o["error"]})
    ops = [o for p in raw["passes"] for o in p["ops"]]
    failed = sum(1 for o in ops if o["error"] or o["kind"] in bad)
    correct = failed == 0 and not bad
    for o in ops:
        if o["error"]:
            log(f"perfbench: {o['kind']} failed: {o['error']}")

    e2e, info = end_to_end(raw, setup_s)
    metrics = per_layer(raw, failed / len(ops)) if a.trace else e2e
    warm = [round(p["seconds"], 3) for p in raw["warm"]]
    print(f"workload {a.workload}  seed {a.seed}  cores {raw['cores']}  "
          f"passes {info['passes']}  ops {info['ops']}  closed loop, one client")
    print(f"setup: session {raw['session_s']:.2f} s, "
          f"warm-up {raw['warm_s']:.2f} s over {len(warm)} passes {warm}")
    print(f"timed passes: {len(raw['passes'])}, of which the first {raw['timed']} are measured; "
          f"warm-up drift (2nd half / 1st half of timed passes - 1): "
          f"{drift([p for p in raw['passes'] if not p['traced']]):+.3f}")
    print(f"op_tail_ratio is p{info['tail_percentile']} of {info['tail_samples']} op samples")
    print(f"wall clock: run_s {info['run_s']:.4f} s, op_geomean_s {info['op_geomean_s']:.4f} s; "
          f"hypervisor steal {100 * info['steal']:.1f}% of CPU time")
    print(f"op_fail_share {failed / len(ops):.4f} ratio ({failed} of {len(ops)} ops)"
          + (f"; wrong outputs: {sorted(set(bad))}" if bad else ""))
    if "store_amp" in raw["extra"]:
        print(f"store_amp {raw['extra']['store_amp']:.4f} bytes/byte")
    for k, (v, u) in e2e.items():
        print(f"{k} {v:.4f} {u}")
    if a.trace:
        for k, (v, u) in metrics.items():
            print(f"{k} {v:.6g} {u}")
        print(f"spans: {out}/spans.jsonl; plan digests: {out}/plans.json")
        with open(f"{out}/plans.json", "w") as f:
            json.dump({"digests": raw["trace"]["digests"],
                       "stable": raw["trace"]["digest_stable"]}, f, indent=1, sort_keys=True)
    print(json.dumps({"correct": correct, "attempted": len(ops), "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
