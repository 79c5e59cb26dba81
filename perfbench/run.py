#!/usr/bin/env python3
"""Benchmark entry point. Run from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

It builds the program from the checkout's sources (once; the build is reused
while the sources are unchanged), generates the workload's inputs from the
seed, runs the workload in one JVM at local[<cores>], checks the outputs,
and prints one JSON object as the last line of standard output:
`correct`, `attempted`, `failed` and `metrics` (end-to-end metrics with
`--trace 0`, per-layer metrics with `--trace 1`, as BENCHMARK.json lists
them). Everything it writes goes under `.bench_build/` in the checkout.
"""
import argparse
import hashlib
import json
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

import gen  # noqa: E402

# Workload sizes. `--seconds` scales the stream: 10,000 records per second of
# run length, admitted 500 per shard (one shard per core) per micro-batch, is
# about 50 micro-batches at 10 s on 4 cores. The TPC-H workload runs its 22
# queries exactly once per run, so its size is the query list at sf0.1.
STREAM_RECORDS_PER_SECOND = 10_000
STREAM_CAP_PER_SHARD = 500
STREAM_WARM_RECORDS = 4_000
SETUP_ROUNDS = 3
JVM_HEAP = "3g"
JVM_TIMEOUT_S = 170


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cores():
    return len(os.sched_getaffinity(0))


# ------------------------------------------------------------------- build

def source_stamp():
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the program and the benchmark with sbt (offline) and return
    the JVM launch arguments."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        raise SystemExit("perfbench: the program's sources (build.sbt, src/main/scala) "
                         "are not in this checkout")
    stamp = source_stamp()
    launch = os.path.join(BUILD, "launch.txt")
    stamp_file = os.path.join(BUILD, "launch.stamp")
    if os.path.isfile(launch) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(launch) as g:
                    return [line for line in g.read().splitlines() if line]
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts.append(f"-Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = " ".join([env.get("SBT_OPTS", "")] + opts).strip()
    t0 = time.time()
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true",
                              "compile", "launchFile"],
                             cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
    if rc != 0:
        raise SystemExit(f"perfbench: build failed (exit {rc}), see {BUILD}/build.log")
    shutil.copyfile(os.path.join(HERE, "target", "launch.txt"), launch)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    with open(launch) as g:
        return [line for line in g.read().splitlines() if line]


# --------------------------------------------------------------------- run

def run_jvm(launch, workload, work, trace, n_cores):
    """Run the JVM side; return (result dict, peak RSS in MB)."""
    local = os.path.join(work, "local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(n_cores), SPARK_GRAFT_LOCAL_DIR=local)
    cmd = (["java"] + launch + [f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
           "perfbench.PerfBench", workload, work, str(trace), str(n_cores),
           str(SETUP_ROUNDS), str(STREAM_CAP_PER_SHARD)])
    with open(os.path.join(work, "jvm.log"), "w") as out:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)

        def kill(*_):
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        signal.signal(signal.SIGALRM, kill)
        signal.alarm(JVM_TIMEOUT_S)
        signal.signal(signal.SIGTERM, lambda *_: (kill(), sys.exit(1)))
        _, status, usage = os.wait4(p.pid, 0)
        signal.alarm(0)
    if status != 0:
        raise SystemExit(f"perfbench: JVM exited with status {status}, see {work}/jvm.log")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f), usage.ru_maxrss / 1024.0


def check_batch(res):
    """Compare each timed query's output with its DuckDB oracle, with the
    repo's dtype-strict canonicalization. Returns (query, reason) for each
    query that threw, has no oracle, or differs."""
    import duckdb
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from check import canon
    work = os.path.dirname(res["tables_dir"])
    oracles = res["oracles"]
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=2")
    for t in gen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{res['tables_dir']}/{t}.parquet')")
    failed = []
    for q in res["queries"]:
        name = q["name"]
        if q["error"] is not None or name not in oracles:
            failed.append((name, q["error"] or "no oracle"))
            continue
        try:
            got = con.execute(
                f"SELECT * FROM read_parquet('{work}/out/{name}/*.parquet')").arrow()
            want = con.execute(oracles[name]).arrow()
        except Exception as e:  # noqa: BLE001 - any failure is a failed query
            failed.append((name, f"oracle: {e}"))
            continue
        if canon(got) != canon(want):
            failed.append((name, "result differs from the oracle"))
    return failed


def check_stream(res, expected):
    """Count records the consumer got wrong: lost, output twice after dedup,
    sent to the wrong channel, or landing in an earlier micro-batch than a
    lower sequence number of the same shard."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=2")
    con.execute(f"CREATE VIEW sink AS SELECT * FROM read_parquet('{res['sink']}/*.parquet')")
    con.execute(f"CREATE VIEW truth AS SELECT * FROM read_csv('{expected}', header=true, "
                "columns={'partitionKey': 'VARCHAR', 'channel': 'VARCHAR'})")
    lost, = con.execute("SELECT count(*) FROM truth t WHERE NOT EXISTS "
                        "(SELECT 1 FROM sink s WHERE s.partitionKey = t.partitionKey)").fetchone()
    twice, = con.execute("SELECT coalesce(sum(n - 1), 0) FROM (SELECT count(*) n FROM sink "
                         "GROUP BY partitionKey, payload HAVING n > 1)").fetchone()
    wrong, = con.execute("SELECT count(DISTINCT s.partitionKey) FROM sink s JOIN truth t "
                         "USING (partitionKey) WHERE s.channel <> t.channel").fetchone()
    unknown, = con.execute("SELECT count(*) FROM sink s WHERE NOT EXISTS "
                           "(SELECT 1 FROM truth t WHERE t.partitionKey = s.partitionKey)"
                           ).fetchone()
    reordered, = con.execute(
        "SELECT count(*) FROM (SELECT batch_ts, max(batch_ts) OVER (PARTITION BY shardId "
        "ORDER BY sequenceNumber ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) prev "
        "FROM sink) WHERE batch_ts < prev").fetchone()
    return {"lost": lost, "output_twice": int(twice), "wrong_channel": wrong,
            "unknown": unknown, "reordered": reordered}


def exec_counters(c, exec_s, n_cores):
    """Per-layer `exec.*` figures from one phase's listener counters."""
    return {
        "exec.jobs": c["jobs"],
        "exec.stages": c["stages"],
        "exec.tasks": c["tasks"],
        "exec.task_run_s": c["runMs"] / 1e3,
        "exec.task_deser_s": c["deserMs"] / 1e3,
        "exec.shuffle_write_bytes": c["shuffleWrite"],
        "exec.shuffle_read_bytes": c["shuffleRead"],
        "exec.spill_bytes": c["spill"],
        "exec.peak_exec_mem_bytes": c["peakExecMem"],
        "exec.failed_tasks": c["failedTasks"],
        "exec.core_busy_frac": c["runMs"] / 1e3 / (exec_s * n_cores),
    }


def query_wall(q):
    return q["constructS"] + q["planS"] + q["execS"]


def stream_layers(res, n_cores):
    """Per-layer figures of a traced `stream_ingest` run."""
    bs = res["batches"]

    def med(k):
        return statistics.median(b[k] for b in bs)
    rows = sum(b["rows"] for b in bs)
    parts = ["latestOffset", "getBatch", "queryPlanning", "walCommit", "addBatch",
             "commitOffsets"]
    wall = res["drain_s"]
    return {
        # the source's calls mostly take under 1 ms, which Spark reports as
        # 0, so their median reads 0: report the per-batch mean instead
        "source.latestOffset_ms": statistics.mean(b["latestOffset"] for b in bs),
        "source.getBatch_ms": statistics.mean(b["getBatch"] for b in bs),
        "source.records_read": rows,
        "source.read_events_per_s": rows / res["source_only_s"],
        "decode.events_per_s": rows / res["decode_only_s"],
        "decode.dead_letter_records": res["dead_letters"],
        "microbatch.queryPlanning_ms": med("queryPlanning"),
        "microbatch.walCommit_ms": med("walCommit"),
        "microbatch.commitOffsets_ms": med("commitOffsets"),
        "microbatch.addBatch_ms": med("addBatch"),
        "microbatch.batches": len(bs),
        "state.commit_ms": med("stateCommit"),
        "state.updates_ms": med("stateUpdates"),
        "state.rows_total": max(b["stateRows"] for b in bs),
        "state.memory_bytes": max(b["stateMemoryBytes"] for b in bs),
        "state.rows_dropped_by_watermark": sum(b["stateDroppedByWatermark"] for b in bs),
        "exec.exec_s": wall,
        "exec.speedup_vs_1core": res["one_core_s"] / wall,
        "trace.work_s": wall,
        "trace.batch_cover": (sum(b[k] for b in bs for k in parts)
                              / sum(b["triggerExecution"] for b in bs)),
        **exec_counters(res["counters"]["stream"], wall, n_cores),
    }


def tpch_layers(res, n_cores):
    """Per-layer figures of a traced `tpch_queries` run."""
    qs = res["queries"]
    cons = sum(q["constructS"] for q in qs)
    plan = sum(q["planS"] for q in qs)
    exe = sum(q["execS"] for q in qs)
    return {
        "operators.construct_s": cons,
        "operators.construct_jobs": res["counters"]["construct"]["jobs"],
        "plans.plan_s": plan,
        "exec.exec_s": exe,
        "exec.codegen_compile_s": sum(q["codegenS"] for q in qs),
        "exec.codegen_compiles": sum(q["codegenCompiles"] for q in qs),
        "exec.speedup_vs_1core": (sum(query_wall(q) for q in res["one_core"])
                                  / (cons + plan + exe)),
        "trace.work_s": cons + plan + exe,
        "trace.phase_cover": (cons + plan + exe) / sum(q["spanS"] for q in qs),
        **exec_counters(res["counters"]["exec"], exe, n_cores),
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["stream_ingest", "tpch_queries"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    launch = build()
    n_cores = cores()
    runs = os.path.join(BUILD, "runs")
    shutil.rmtree(runs, ignore_errors=True)
    work = os.path.join(runs, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)

    stream = args.workload == "stream_ingest"
    if stream:
        expected = gen.shard_logs(args.seed, os.path.join(work, "logs"),
                                  STREAM_RECORDS_PER_SECOND * args.seconds, n_cores,
                                  truth=os.path.join(work, "truth.csv"))
        gen.shard_logs(args.seed + 1_000_003, os.path.join(work, "warm_logs"),
                       STREAM_WARM_RECORDS, n_cores)
    else:
        first = os.path.join(work, "tables_1")
        gen.tables(args.seed, first)
        for i in range(2, SETUP_ROUNDS + (2 if args.trace else 1)):
            shutil.copytree(first, os.path.join(work, f"tables_{i}"))

    os.sync()  # write the inputs back now, not in the middle of the timed region
    res, rss_mb = run_jvm(launch, args.workload, work, args.trace, n_cores)

    calib_ms = statistics.median(res["calib_ms"])
    detail = {"workload": args.workload, "seed": args.seed, "cores": n_cores,
              "setup_rounds_s": res["setup_rounds_s"], "peak_rss_mb": rss_mb,
              "calib_ms": calib_ms}
    if stream:
        batches = [b["triggerExecution"] for b in res["batches"]]
        errors = check_stream(res, os.path.join(work, "truth.csv"))
        attempted = expected["distinct"]
        work_s = res["drain_s"]
        # the source must read every line once; the traced pass must also
        # dead-letter exactly the poison records
        counts = [(sum(b["rows"] for b in res["batches"]), expected["records_written"])]
        if args.trace:
            counts.append((res["dead_letters"], expected["poison"]))
        errors["count_mismatch"] = sum(int(abs(got - want)) for got, want in counts)
        failed = min(attempted, sum(errors.values()))
        detail.update(expected=expected, errors=errors, batches=len(batches),
                      events_per_s=expected["records_written"] / work_s,
                      batch_ms_p50=statistics.median(batches),
                      batch_ms_p90=statistics.quantiles(batches, n=10, method="inclusive")[8])
        ops_ms = batches
    else:
        failures = check_batch(res)
        attempted = len(res["queries"])
        failed = len(failures)
        walls = [query_wall(q) for q in res["queries"]]
        work_s = sum(walls)
        detail.update(failed_queries=failures, warmup_failed=res["warmup_failed"],
                      queries_s=work_s, query_s_p50=statistics.median(walls),
                      queries={q["name"]: query_wall(q) for q in res["queries"]})
        ops_ms = [w * 1000 for w in walls]
    detail["error_frac"] = failed / attempted

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.trace:
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        layers = (stream_layers if stream else tpch_layers)(res, n_cores)
        layers.update({"jvm.peak_rss_mb": rss_mb, "host.calib_ms": calib_ms})
        metrics = {k: {"value": layers.get(k, 0.0), "unit": u} for k, u in units.items()}
        detail["layers_not_on_this_workload"] = sorted(set(units) - set(layers))
    else:
        values = {
            "setup_s": statistics.median(res["setup_rounds_s"]),
            "work_s": work_s,
            "op_ms_p50": statistics.median(ops_ms),
            "op_ms_p75": statistics.quantiles(ops_ms, n=4, method="inclusive")[2],
            "ok_frac": 1.0 - failed / attempted,
        }
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    with open(os.path.join(work, "summary.json"), "w") as f:
        json.dump({"detail": detail, "metrics": metrics}, f, indent=1)
    log(json.dumps(detail))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
