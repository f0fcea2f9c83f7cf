#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as the last stdout line.

Usage (from the repository root):
  python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds on first use (see build.py), launches one JVM running
`perfbench.Main` in a fresh run directory, checks every op's output, and
prints two JSON lines: the run's environment, then
{"correct", "attempted", "failed", "metrics"} with the end-to-end metrics
(--trace 0) or the per-layer metrics (--trace 1). The full record (env,
per-op log, spans) is kept in .bench_build/perfbench/artifacts/.
See perfbench/README.md for the workloads and metric definitions.
"""
import argparse
import glob
import hashlib
import importlib.util
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("registry_mix", "lineage_chain", "stream_microbatch")
CORES = 4
HEAP = "3g"
DEADLINE_S = 170  # a run must end within 180 s; leave room to clean up

sys.path.insert(0, HERE)
import stats  # noqa: E402

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def load_1m():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def run_jvm(classpath, data, run_dir, workload_args, **kwargs):
    """Runs perfbench.Main in `run_dir`, which holds every file the JVM and
    Spark write (temp files, shuffle and block spills, outputs)."""
    cmd = ["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", *ADD_OPENS,
           f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-cp", classpath, "perfbench.Main", *workload_args, "--data", data,
           "--run", run_dir, "--out", os.path.join(run_dir, "raw.json"), "--cores", str(CORES)]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    return subprocess.run(cmd, cwd=run_dir, env=env, **kwargs)


def launch(args, classpath, data, run_dir, budget_s):
    raw_path = os.path.join(run_dir, "raw.json")
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        proc = run_jvm(classpath, data, run_dir,
                       ["--workload", args.workload, "--seed", str(args.seed),
                        "--seconds", str(args.seconds), "--trace", str(args.trace)],
                       stdout=log, stderr=subprocess.STDOUT, timeout=budget_s)
    if proc.returncode != 0 or not os.path.exists(raw_path):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"perfbench: JVM exited with {proc.returncode}")
    with open(raw_path) as f:
        return json.load(f)


def oracle_checks(raw):
    """Registry outputs vs DuckDB running the registry's oracle SQL, with the
    rendering and comparison rules of tools/oracle_check.py. DuckDB's result
    for a query is kept in the build directory, keyed by the SQL, the
    fixtures and oracle_check.py, so later runs load it instead."""
    oc_path = os.path.join(ROOT, "tools", "oracle_check.py")
    spec = importlib.util.spec_from_file_location("oracle_check", oc_path)
    oc = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(oc)
    import duckdb
    import pandas as pd
    fixtures = raw["env"]["fixture_dir"]
    with open(oc_path, "rb") as f, open(fixtures + ".stamp", "rb") as g:
        inputs = f.read() + g.read()
    cache = os.path.join(OUT, "oracle")
    os.makedirs(cache, exist_ok=True)
    con = None

    def expected(sql):
        nonlocal con
        path = os.path.join(cache, hashlib.sha256(inputs + sql.encode()).hexdigest() + ".pkl")
        if os.path.exists(path):
            return pd.read_pickle(path)
        if con is None:
            con = duckdb.connect()
            for t in oc.TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{fixtures}/{t}.parquet')")
        frame = oc.canon(con.execute(sql).df())
        frame.to_pickle(path + ".tmp")
        os.replace(path + ".tmp", path)
        return frame

    checks = {}
    for name, sql in sorted(raw["oracle_sql"].items()):
        try:
            expect = expected(sql)
            got = oc.canon(pd.read_parquet(os.path.join(raw["check_dir"], name)))
            if list(expect.columns) != list(got.columns) or len(expect) != len(got):
                raise AssertionError(f"shape {got.shape} != {expect.shape}")
            pd.testing.assert_frame_equal(got, expect, check_exact=True)
            checks[name] = {"ok": True, "detail": f"{len(got)} rows"}
        except Exception as e:  # noqa: BLE001 - any failure fails the check
            checks[name] = {"ok": False, "detail": f"{type(e).__name__}: {str(e)[:300]}"}
    return checks


def secs(op):
    return (op["t1"] - op["t0"]) / 1000.0


def end_to_end(raw, ops):
    walls = [secs(op) for op in ops]
    p90, q90, n = stats.tail_quantile(walls)
    timed_s = (raw["timed_t1"] - raw["timed_t0"]) / 1000.0
    return {
        "setup_s": (ops[0]["t0"] - raw["jvm_start_ms"]) / 1000.0,
        "op_p50_s": stats.median(walls),
        "op_p90_s": p90,
        "ops_per_s": len(ops) / timed_s,
    }, {"op_samples": n, "op_p90_quantile": q90}


def per_op_features(raw, traced):
    """Joins listener records and spans to the traced ops they belong to."""
    feats = {op["id"]: {"op": op, "spans": [], "jobs": [], "stages": [], "execs": [],
                        "batches": []} for op in traced}

    def place(items, key):
        for it in items:
            oid = it.get("op") or stats.owner(it["t0"], traced)
            if oid in feats:
                feats[oid][key].append(it)

    place(raw["spans"], "spans")
    place(raw["jobs"], "jobs")
    place(raw["stages"], "stages")
    place(raw["executions"], "execs")
    place(raw["batches"], "batches")
    for f in feats.values():
        op = f["op"]
        kids = f["spans"] + [dict(j, kind="job") for j in f["jobs"]] + \
            [dict(s, kind="stage") for s in f["stages"]] + \
            [{"kind": "microbatch", "t0": b["t0"], "t1": b["t0"] + b["trigger_ms"]}
             for b in f["batches"]]
        f["self"] = stats.self_times(op["t0"], op["t1"], kids)
        construct = [(s["t0"], s["t1"]) for s in f["spans"] if s["kind"] == "construct"]
        f["construct_ms"] = sum(b - a for a, b in construct)
        f["construct_jobs"] = sum(1 for j in f["jobs"]
                                  if any(a <= j["t0"] <= b + 1 for a, b in construct))
        busy = construct + [(s["t0"], s["t1"]) for s in f["stages"]]
        f["driver_gap_ms"] = max(0.0, (op["t1"] - op["t0"]) -
                                 stats.union_length(busy, op["t0"], op["t1"]))
    return feats


def per_layer(raw, ops, tmp_dirs_left):
    traced = [op for op in ops if op["traced"]]
    untraced = [op for op in ops if not op["traced"]]
    feats = per_op_features(raw, traced)
    n = max(1, len(traced))
    fs = list(feats.values())

    def per_op(fn):
        return sum(fn(f) for f in fs) / n

    def total(key, field):
        return sum(x[field] for f in fs for x in f[key])

    stages = [s for f in fs for s in f["stages"]]
    stage_wall = sum(s["t1"] - s["t0"] for s in stages)
    spans = [s for f in fs for s in f["spans"]]
    fetches = [s for s in spans if s["kind"] == "fetch"]
    tg = {k: [s["t1"] - s["t0"] for s in spans if s.get("name") == k]
          for k in ("addTable", "addChain", "getTable")}
    fetch_stages = {s["stage"] for s in fetches}
    url_lookups = sum(op.get("urls", 0) for op in traced)
    batches = [b for f in fs for b in f["batches"]]
    last_batch = max(batches, key=lambda b: b["batch"]) if batches else {}
    self_total = {}
    for f in fs:
        for k, v in f["self"].items():
            self_total[k] = self_total.get(k, 0.0) + v
    wall_total = sum(op["t1"] - op["t0"] for op in traced)

    def p50(kind):
        return stats.median([secs(op) for op in ops if op["type"] == kind])

    def mean_ms(xs):
        return sum(xs) / len(xs) / 1000.0 if xs else 0.0

    def in_flight_max(spans_):
        edges = sorted([(s["t0"], 1) for s in spans_] + [(s["t1"], -1) for s in spans_])
        cur = best = 0
        for _, d in edges:
            cur += d
            best = max(best, cur)
        return best

    m = {
        "SparkEntry.construct_s": per_op(lambda f: f["construct_ms"]) / 1000.0,
        "SparkEntry.construct_jobs": per_op(lambda f: f["construct_jobs"]),
        "catalyst.analysis_s": total("execs", "analysis_ms") / n / 1000.0,
        "catalyst.optimizer_s": total("execs", "optimization_ms") / n / 1000.0,
        "catalyst.planning_s": total("execs", "planning_ms") / n / 1000.0,
        "catalyst.plan_nodes": total("execs", "plan_nodes") / n,
        "catalyst.exchanges": total("execs", "exchanges") / n,
        "scheduler.jobs": per_op(lambda f: len(f["jobs"])),
        "scheduler.stages": len(stages) / n,
        "scheduler.tasks": total("stages", "tasks") / n,
        "scheduler.driver_gap_s": per_op(lambda f: f["driver_gap_ms"]) / 1000.0,
        "exec.stage_wall_s": stage_wall / n / 1000.0,
        "exec.task_run_s": total("stages", "run_ms") / n / 1000.0,
        "exec.task_cpu_s": total("stages", "cpu_ns") / n / 1e9,
        "exec.busy_cores": total("stages", "run_ms") / stage_wall if stage_wall else 0.0,
        "exec.max_task_share": total("stages", "max_task_ms") / stage_wall if stage_wall else 0.0,
        "shuffle.write_bytes": total("stages", "shuffle_write") / n,
        "shuffle.read_bytes": total("stages", "shuffle_read") / n,
        "shuffle.spill_bytes": total("stages", "spill") / n,
        "stager.persisted_rdds": sum(op["persisted"] for op in traced) / n,
        "sources.fetch_calls": len(fetches) / n,
        "sources.fetch_s": sum(s["t1"] - s["t0"] for s in fetches) / n / 1000.0,
        "sources.fetch_in_flight_max": in_flight_max(fetches),
        "sources.url_cache_hit_ratio": 1.0 - len(fetches) / url_lookups if url_lookups else 0.0,
        "Chain.fetch_stage_tasks": sum(s["tasks"] for s in stages if s["stage"] in fetch_stages)
        / len(fetch_stages) if fetch_stages else 0.0,
        "Chain.fanout": stats.median(raw.get("fanout", [])),
        "TableGraph.add_table_s": mean_ms(tg["addTable"]),
        "TableGraph.add_chain_s": mean_ms(tg["addChain"]),
        "TableGraph.get_table_s": mean_ms(tg["getTable"]),
        "TableGraph.fresh_hit_ratio": raw.get("fresh_hits", 0) / raw["fresh_calls"]
        if raw.get("fresh_calls") else 0.0,
        "TableGraph.checkpoint_bytes": raw.get("checkpoint_bytes", 0),
        "NlCompiler.compile_s": mean_ms(raw.get("nl_compile_ms", [])),
        "Streams.trigger_s": mean_ms([b["trigger_ms"] for b in batches]),
        "Streams.add_batch_s": mean_ms([b["add_batch_ms"] for b in batches]),
        "Streams.query_planning_s": mean_ms([b["query_planning_ms"] for b in batches]),
        "Streams.wal_commit_s": mean_ms([b["wal_commit_ms"] for b in batches]),
        "Streams.state_rows": last_batch.get("state_rows", 0),
        "Streams.state_bytes": last_batch.get("state_bytes", 0),
        "jvm.gc_s": raw["gc_ms"] / len(ops) / 1000.0,
        "jvm.jit_s": raw["jit_ms"] / len(ops) / 1000.0,
        "jvm.codecache_mb": raw["codecache_mb"],
        "jvm.rss_peak_mb": raw["rss_peak_mb"],
        "fs.tmp_dirs_left": tmp_dirs_left,
        "lineage.cold_p50_s": p50("cold"),
        "lineage.urlhit_p50_s": p50("urlhit"),
        "lineage.warm_p50_s": p50("warm"),
        "lineage.transform_p50_s": p50("transform"),
        "trace.overhead_s": stats.median([secs(op) for op in traced]) -
        stats.median([secs(op) for op in untraced]),
        "trace.accounted_frac": sum(self_total.values()) / wall_total if wall_total else 0.0,
    }
    for name, ms in raw.get("operators_ms", {}).items():
        m[f"operators.{name}_s"] = ms / 1000.0
    for kind in stats.DEPTH:
        m[f"self.{kind}_s"] = self_total.get(kind, 0.0) / n / 1000.0
    log = [{"name": f["op"]["name"], "type": f["op"]["type"], "wall_s": secs(f["op"]),
            "construct_s": f["construct_ms"] / 1000.0, "driver_gap_s": f["driver_gap_ms"] / 1000.0,
            "jobs": len(f["jobs"]), "stages": len(f["stages"]),
            "tasks": sum(s["tasks"] for s in f["stages"]),
            "stage_wall_s": sum(s["t1"] - s["t0"] for s in f["stages"]) / 1000.0,
            "plan_nodes": sum(e["plan_nodes"] for e in f["execs"]),
            "exchanges": sum(e["exchanges"] for e in f["execs"]),
            "self_s": {k: v / 1000.0 for k, v in f["self"].items()}} for f in fs]
    return m, log


UNITS = {"_s": "s", "_bytes": "B", "_mb": "MB"}


def unit(name):
    if name == "ops_per_s":
        return "1/s"
    for suffix, u in UNITS.items():
        if name.endswith(suffix):
            return u
    return "ratio" if name.endswith(("_ratio", "_frac", "_share", "fanout", "busy_cores")) else "count"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops its JVM and removes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        sys.exit("perfbench: engine sources (src/main/scala) not found beside perfbench/")
    import build
    classpath, data = build.ensure(OUT)
    started = time.time()
    load_before = load_1m()
    run_dir = os.path.join(OUT, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    try:
        raw = launch(args, classpath, data, run_dir,
                     max(30.0, DEADLINE_S - (time.time() - started)))
        checks = oracle_checks(raw) if "oracle_sql" in raw else raw["checks"]
        tmp_dirs_left = len(glob.glob(os.path.join(run_dir, "tmp", "graft_*")))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    ops = raw["ops"]
    failed = stats.failure_count(ops, checks)
    e2e, sampling = end_to_end(raw, ops)
    env = dict(raw["env"], nproc=os.cpu_count(), workload=args.workload, seed=args.seed,
               seconds=args.seconds, trace=args.trace, inputs=raw.get("inputs"),
               load_1m_before=load_before, load_1m_after=load_1m(), **sampling)
    if args.trace:
        metrics, log = per_layer(raw, ops, tmp_dirs_left)
        metrics["failed_frac"] = failed / len(ops)
    else:
        metrics, log = e2e, []
    artifact = {"env": env, "metrics": metrics, "end_to_end": e2e, "warm_errors": raw["warm_errors"],
                "failed_checks": {k: c for k, c in checks.items() if not c["ok"]},
                "ops": [{k: op.get(k) for k in ("id", "type", "name", "t0", "t1", "traced", "error")}
                        for op in ops], "op_log": log, "spans": raw["spans"]}
    os.makedirs(os.path.join(OUT, "artifacts"), exist_ok=True)
    with open(os.path.join(OUT, "artifacts",
                           f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(artifact, f)
    print(json.dumps({"env": env}))
    print(json.dumps({
        "correct": failed == 0 and not raw["warm_errors"] and all(c["ok"] for c in checks.values()),
        "attempted": len(ops), "failed": failed,
        "metrics": {k: {"value": v, "unit": unit(k)} for k, v in metrics.items()}}))


if __name__ == "__main__":
    main()
