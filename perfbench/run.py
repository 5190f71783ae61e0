#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload sql_mix --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The first run builds the engine and the
harness (sbt, offline), generates the fixture tables and computes the
DuckDB oracle results; all of that is cached under `.bench_build/`.
Each run then starts one fresh JVM at `local[nproc]` that executes the
seeded op plan in a closed loop (one client thread) and checks every
op's output. The last stdout line is the result JSON; with `--trace 0`
it carries the end-to-end metrics, with `--trace 1` the per-layer ones.
See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402

BUILD = ".bench_build"
DATA_SEED = 42
DEADLINE_S = 170

# Short relational keys, one per relational shape (filter, top-k, limit,
# aggregate, anti and theta join, union, string/JSON/regexp/date
# functions, explode): the per-query floor (Catalyst, schema
# resolution, job launch, scan) sets their time; operators do little.
SQL_KEYS = [
    "q27_predicates", "q22_topk", "q58_limit_offset", "q57_having", "q5_anti_join",
    "q8_theta_join", "q59_union_coercion", "q61_string_agg", "q49_json_struct",
    "q45_regexp", "q65_lateral_explode", "q50_date_arith"]
# Driver-bound operator keys: eager build, cuts, job count and shuffle.
CURATION_KEYS = [
    "c53_rrf_fusion", "c94_recall_curve", "c2_dedup_minhash", "c57_pagerank",
    "q102_topk_per_group", "q107_winsorize"]
# A stream replay run to completion: its foreachBatch MERGE writes
# versioned parquet
STREAM_KEYS = ["s22_cdc_apply"]
ADDRESS_ROWS = 100_000

# Scale factor of the measured and of the warm pass per workload, the
# nominal seconds one measured pass takes at 4 cores, and the fewest
# passes a run makes: --seconds fixes the number of whole passes, never
# "as many ops as fit". sql_mix needs 100 timed queries for its p90.
WORKLOADS = {
    "sql_mix": {"sf": 0.1, "warm_sf": 0.1, "pass_s": 2.0, "min_passes": 9},
    "curation_mix": {"sf": 0.01, "warm_sf": 0.001, "pass_s": 35.0, "min_passes": 1},
}
# curation_mix warms only the JVM, with Bench's own warm-up query, and
# measures its keys' first execution: at 4 cores compiling the iterative
# operators' plans costs about as much as running them, a fresh JVM per
# job (the reference tool's model) pays it every time, and a warm pass of
# the keys as well did not fit the run budget.
CURATION_WARM = "q1_agg"

END_TO_END = [("setup_s", "s"), ("wall_s", "s"), ("op_p50_ms", "ms"),
              ("op_p90_ms", "ms"), ("rows_per_s", "1/s"), ("rss_peak_mb", "MB")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"error: {msg}")
    sys.exit(code)


def tree_hash(paths, extra=""):
    h = hashlib.sha1(extra.encode())
    for top in paths:
        if os.path.isfile(top):
            files = [top]
        else:
            files = []
            for d, dirs, names in os.walk(top):
                dirs[:] = sorted(x for x in dirs if x not in ("target", ".bench_build"))
                files += [os.path.join(d, n) for n in sorted(names)]
        for f in files:
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


# The engine's -Xmx comes from SPARK_DRIVER_MEM when build.sbt loads; the
# benchmark pins it instead of deriving it from the machine's RAM. With
# room to grow (2-7 GiB) the heap's size, and so peak RSS, followed the
# GC's sizing choices more than the work. No -Xms: first-touch page
# faults are slow on the VMs this was tuned on (see build.sbt), and a
# heap that starts large keeps allocating into fresh pages.
DRIVER_MEM = "1g"


def ensure_build(src_hash, mem):
    launch = os.path.abspath(f"{BUILD}/launch-{src_hash}.txt")
    if not os.path.exists(launch):
        log("building engine and harness (sbt) ...")
        # sbt's own temp files (file watcher, server socket, JNA, JVM
        # perf data) stay in the build directory too
        tmp = os.path.abspath(f"{BUILD}/sbt-tmp")
        os.makedirs(tmp, exist_ok=True)
        env = dict(os.environ, SPARK_DRIVER_MEM=mem, TMPDIR=tmp,
                   JAVA_TOOL_OPTIONS="-XX:-UsePerfData")
        env.setdefault("COURSIER_MODE", "offline")
        t0 = time.time()
        with open(f"{BUILD}/build.log", "w") as out:
            rc = subprocess.call(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                 f"-J-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}",
                 f"-Dperfbench.launch={launch}.tmp", "exportLaunch"],
                cwd=os.path.join(HERE, "harness"), env=env, stdout=out,
                stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        if rc != 0 or not os.path.exists(launch + ".tmp"):
            fail(f"build failed (rc={rc}); see {BUILD}/build.log")
        os.replace(launch + ".tmp", launch)
        log(f"built in {time.time() - t0:.0f} s")
    cp, opts = "", []
    for line in open(launch):
        k, _, v = line.rstrip("\n").partition("=")
        if k == "classpath":
            cp = v
        elif k == "javaopt":
            opts.append(v)
    return cp, opts


def ensure_data(sf):
    d = os.path.abspath(f"{BUILD}/data/sf{sf}-{tree_hash([os.path.join(HERE, 'gen.py')])}")
    if not os.path.isdir(d):
        os.makedirs(os.path.dirname(d), exist_ok=True)
        t0 = time.time()
        gen.generate(sf, d, DATA_SEED)
        log(f"generated sf{sf} tables in {time.time() - t0:.1f} s")
    return d


def java_cmd(cp, opts, work, main, *args):
    return (["java"] + opts +
            ["-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
             f"-Dderby.system.home={work}/derby",
             f"-Dderby.stream.error.file={work}/derby.log",
             "-cp", cp, main] + list(args))


def oracle_sql(cp, opts, work, src_hash, keys):
    cache = f"{BUILD}/oracle-sql-{src_hash}.json"
    have = json.load(open(cache)) if os.path.exists(cache) else {}
    if any(k not in have.get("asked", []) for k in keys):
        asked = sorted(set(have.get("asked", [])) | set(keys))
        out = subprocess.run(java_cmd(cp, opts, work, "perfbench.OracleSql", *asked),
                             capture_output=True, text=True, cwd=work, timeout=120)
        if out.returncode != 0:
            fail(f"oracle SQL dump failed: {out.stderr[-2000:]}")
        have = {"asked": asked, "sql": json.loads(out.stdout.strip().splitlines()[-1])}
        with open(cache + ".tmp", "w") as f:
            json.dump(have, f)
        os.replace(cache + ".tmp", cache)
    return have["sql"]


def ensure_oracles(sqls, keys, data_dir, sf):
    """DuckDB oracle results, cached per key and SQL text."""
    import duckdb
    out = {}
    con = None
    for k in keys:
        if k not in sqls:
            continue
        sql = sqls[k]
        path = os.path.abspath(f"{BUILD}/oracle/sf{sf}/{k}-{hashlib.sha1(sql.encode()).hexdigest()[:12]}"
                               f"-{os.path.basename(data_dir)}.parquet")
        if not os.path.exists(path):
            if con is None:
                con = duckdb.connect()
                con.execute(f"SET temp_directory='{os.path.abspath(BUILD)}/duckdb_tmp'")
                for t in gen.TABLES:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
            os.makedirs(os.path.dirname(path), exist_ok=True)
            t0 = time.time()
            con.execute(f"COPY ({sql}) TO '{path}.tmp' (FORMAT PARQUET)")
            os.replace(path + ".tmp", path)
            log(f"oracle {k} in {time.time() - t0:.1f} s")
        out[k] = path
    return out


def pinned(sf):
    """Expected fingerprints of keys with no DuckDB oracle, pinned from HEAD."""
    return json.load(open(os.path.join(HERE, "pinned.json"))).get(f"sf{sf}", {})


# ---------------------------------------------------------------- plans

ADDR_COLS = "id,street_address,city,state,postal_code,country"
ORDER_COLS = "o_orderkey,o_custkey,o_orderstatus,o_totalprice,o_orderdate,o_orderpriority"
ADDRX_DDL = ("CREATE TABLE addrx (id INTEGER PRIMARY KEY, street_address VARCHAR(100), "
             "city VARCHAR(50), state VARCHAR(50), postal_code VARCHAR(20), country VARCHAR(50))")
ORDERS_X_DDL = ("CREATE TABLE ORDERS_X (O_ORDERKEY BIGINT, O_CUSTKEY BIGINT, "
                "O_ORDERSTATUS VARCHAR(1), O_TOTALPRICE DOUBLE, O_ORDERDATE TIMESTAMP, "
                "O_ORDERPRIORITY VARCHAR(15))")
# (source, key column, columns, parquet target, JDBC target, share of the
# source's key range a job copies at most)
ETL_SOURCES = [("addresses", "id", ADDR_COLS, "addresses_copy", "addrx", 1.0),
               ("orders", "o_orderkey", ORDER_COLS, "orders_copy", "ORDERS_X", 0.5)]


def etl_block(tag, rows, rng, lo, hi):
    """The reference's job triple through EtlRunner: reset the JDBC
    targets, run the DDL job, then one parquet and one JDBC load job per
    source in seeded order. Each job copies a seeded share in [lo, hi)
    of its source's key range (`rows`)."""
    lines = [[tag, "jdbc", "DROP TABLE addrx"], [tag, "jdbc", "DROP TABLE ORDERS_X"],
             [tag, "jdbc", ORDERS_X_DDL], [tag, "ddl", "tableCreate", ADDRX_DDL]]
    jobs = []
    for (src, key, cols, pq_target, jdbc_target, share), n in zip(ETL_SOURCES, rows):
        for fmt, target, mode in (("parquet", pq_target, "overwrite"),
                                  ("jdbc", jdbc_target, "append")):
            cut = int(n * share * rng.uniform(lo, hi))
            extract = f"SELECT {cols.replace(',', ', ')} FROM {src} WHERE {key} < {cut}"
            jobs.append([tag, "etl", f"{src}_{fmt}", fmt, target, mode, cols, extract])
    return lines + rng.sample(jobs, len(jobs))


def sql_plan(rng, passes, rows):
    lines = [["source", "addresses", "gen", str(rows[0])],
             ["source", "orders", "file", "orders"]]
    lines += [["warm", "query", k] for k in rng.sample(SQL_KEYS, len(SQL_KEYS))]
    lines += etl_block("warm", rows, rng, 0.02, 0.03)
    etl_at = rng.randrange(passes)
    for p in range(passes):
        lines += [[str(p), "query", k] for k in rng.sample(SQL_KEYS, len(SQL_KEYS))]
        if p == etl_at:
            # a narrow band keeps the rows a run moves within ~1.5 % of
            # each other across seeds
            lines += etl_block(str(p), rows, rng, 0.9, 1.0)
    return lines


def curation_plan(passes):
    """Fixed order: each key's first execution compiles code the keys
    after it reuse, so with a seeded order the op latencies moved with
    the seed (p50 4.4 s against 5.5 s on two seeds)."""
    ops = [("query", k) for k in CURATION_KEYS] + [("stream", k) for k in STREAM_KEYS]
    lines = [["warm", "query", CURATION_WARM]]
    for p in range(passes):
        lines += [[str(p), kind, k] for kind, k in ops]
    return lines


# -------------------------------------------------------------- metrics

def pct(values, q):
    s = sorted(values)
    if len(s) == 1:
        return s[0]
    return statistics.quantiles(s, n=100, method="inclusive")[q - 1]


def etl_counts(ops, data_dir, work):
    """DuckDB's count of each ETL job's extract over the same sources."""
    import duckdb
    con = duckdb.connect()
    con.execute(f"CREATE VIEW addresses AS SELECT * FROM read_parquet('{work}/src/addresses/*.parquet')")
    con.execute(f"CREATE VIEW orders AS SELECT * FROM read_parquet('{data_dir}/orders.parquet')")
    cache = {}
    for o in ops:
        if o["kind"] == "etl" and o["ok"]:
            sql = o["extract"]
            if sql not in cache:
                cache[sql] = con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]
            if not (o["readback"] == o["written"] == cache[sql]):
                o["ok"] = False
                o["err"] = (f"read-back {o['readback']} / written {o['written']} "
                            f"!= DuckDB count {cache[sql]}")


def end_to_end(res, workload):
    """sql_mix: an op is one query, and rows_per_s is the reference's own
    throughput figure, rows landed by the ETL jobs over their summed job
    seconds. curation_mix: an op is one curation key or stream replay,
    and rows_per_s is result rows over summed op seconds."""
    ops = res["ops"]
    lat = [o for o in ops if o["kind"] in (("query",) if workload == "sql_mix"
                                           else ("query", "stream"))]
    ms = [o["ms"] for o in lat]
    if workload == "sql_mix":
        etl = [o for o in ops if o["kind"] in ("etl", "ddl")]
        rows, secs, n_rows = sum(o.get("written", 0) for o in etl), sum(o.get("job_s", 0) for o in etl), len(etl)
    else:
        rows, secs, n_rows = sum(o["rows"] for o in lat), sum(ms) / 1e3, len(lat)
    return {
        "setup_s": (res["setup_s"], 1),
        "wall_s": (res["wall_s"], len(ops)),
        "op_p50_ms": (pct(ms, 50), len(ms)),
        "op_p90_ms": (pct(ms, 90), len(ms)),
        "rows_per_s": (rows / secs if secs else 0.0, n_rows),
        "rss_peak_mb": (res["rss_peak_mb"], 1),
    }


def per_layer(res, cores):
    ops = res["ops"]
    s = lambda k, kinds=None: sum(o.get(k, 0) for o in ops if kinds is None or o["kind"] in kinds)
    wall_ms = res["wall_s"] * 1e3
    run_ms = s("run_ms")
    skews = [o["task_skew"] for o in ops if o.get("task_skew", 0) > 0]
    etl = [o for o in ops if o["kind"] == "etl"]
    waits = {f: sum(o["returned_ms"] - o["etl_spark_last_ms"] for o in etl
                    if o["format"] == f and o.get("etl_spark_last_ms", 0) > 0)
             for f in ("parquet", "jdbc")}
    streams = [o for o in ops if o["kind"] == "stream"]
    setup = res["setup_layers_ms"]
    host = res["host"]
    m = {
        "session.build_ms": (setup["session.build_ms"], "ms", "lower"),
        "inputs.prep_ms": (setup["inputs.prep_ms"], "ms", "lower"),
        "tables.load_ms": (setup["tables.load_ms"], "ms", "lower"),
        "warm_ms": (setup["warm_ms"], "ms", "lower"),
        "queries.build_ms": (s("build_ms"), "ms", "lower"),
        "queries.sink_ms": (s("sink_ms"), "ms", "lower"),
        "catalyst.analysis_ms": (s("analysis_ms"), "ms", "lower"),
        "catalyst.optimization_ms": (s("optimization_ms"), "ms", "lower"),
        "catalyst.planning_ms": (s("planning_ms"), "ms", "lower"),
        "catalyst.qe_n": (s("qe_n"), "count", "lower"),
        "exec.jobs": (s("jobs"), "count", "lower"),
        "exec.stages": (s("stages"), "count", "lower"),
        "exec.tasks": (s("tasks"), "count", "lower"),
        "exec.run_ms": (run_ms, "ms", "lower"),
        "exec.cpu_ms": (s("cpu_ms"), "ms", "lower"),
        "exec.driver_gap_ms": (wall_ms - run_ms / cores, "ms", "lower"),
        "exec.busy_ratio": (run_ms / (cores * wall_ms) if wall_ms else 0.0, "ratio", "higher"),
        "exec.shuffle_read_bytes": (s("shuffle_read"), "bytes", "lower"),
        "exec.shuffle_write_bytes": (s("shuffle_write"), "bytes", "lower"),
        "exec.spill_bytes": (s("spill"), "bytes", "lower"),
        "exec.task_skew": (statistics.median(skews) if skews else 0.0, "ratio", "lower"),
        "exec.failed_tasks": (s("failed_tasks"), "count", "lower"),
        "ops.failed": (sum(1 for o in ops if not o["ok"]), "count", "lower"),
        "ckpt.release_ms": (s("release_ms"), "ms", "lower"),
        "ckpt.released_n": (s("released"), "count", "lower"),
        "ckpt.leaked_rdds": (s("leaked"), "count", "lower"),
        "etl.job_ms": (1e3 * s("job_s"), "ms", "lower"),
        "etl.spark_ms": (sum(o["etl_spark_last_ms"] - o["etl_spark_first_ms"] for o in etl
                             if o.get("etl_spark_last_ms", 0) > 0), "ms", "lower"),
        "etl.wait_ms": (waits["parquet"] + waits["jdbc"], "ms", "lower"),
        "etl.wait_jdbc_ms": (waits["jdbc"], "ms", "lower"),
        "etl.rows_sent": (s("sent"), "count", "higher"),
        "etl.rows_written": (s("written"), "count", "higher"),
        "etl.output_bytes": (s("output_bytes", ("etl",)), "bytes", "lower"),
        "stream.trigger_ms": (s("trigger_ms"), "ms", "lower"),
        "stream.add_batch_ms": (s("add_batch_ms"), "ms", "lower"),
        "stream.query_planning_ms": (s("query_planning_ms"), "ms", "lower"),
        "stream.wal_commit_ms": (s("wal_commit_ms"), "ms", "lower"),
        "stream.commit_offsets_ms": (s("commit_offsets_ms"), "ms", "lower"),
        "stream.state_rows": (s("state_rows"), "count", "lower"),
        "stream.state_mem_bytes": (s("state_mem_bytes"), "bytes", "lower"),
        "stream.batches": (s("batches"), "count", "lower"),
        "stream.start_stop_ms": (sum(o["ms"] - o.get("trigger_ms", 0) for o in streams), "ms", "lower"),
        "jvm.cpu_s": (host["jvm.cpu_s"], "s", "lower"),
        "jvm.gc_ms": (host["jvm.gc_ms"], "ms", "lower"),
        "jvm.gc_n": (host["jvm.gc_n"], "count", "lower"),
        "jvm.minflt": (host["jvm.minflt"], "count", "lower"),
        "host.steal_pct": (host["host.steal_pct"], "%", "lower"),
        "trace.wall_s": (res["wall_s"], "s", "lower"),
    }
    return m


# ----------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description="perfbench: one workload, one seed")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=20,
                    help="target length of the measured phase; fixes the pass count")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="smallest scale (sf0.001), one pass")
    ap.add_argument("--keep", action="store_true", help="keep the run's work directory")
    a = ap.parse_args()
    t_start = time.time()

    root = os.getcwd()
    for need in ("build.sbt", "src/main/scala/graft", "perfbench/harness/build.sbt"):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"run from the root of a checkout of the engine: {need} is missing")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        fail("java and sbt must be on PATH")

    cores = len(os.sched_getaffinity(0))
    mem = DRIVER_MEM
    wl = WORKLOADS[a.workload]
    sf = 0.001 if a.smoke else wl["sf"]
    passes = 1 if a.smoke else max(wl["min_passes"], int(a.seconds // wl["pass_s"]))

    os.makedirs(BUILD, exist_ok=True)
    src_hash = tree_hash(["build.sbt", "project/build.properties", "src/main",
                          os.path.join(HERE, "harness")], extra=mem)
    cp, opts = ensure_build(src_hash, mem)
    data_dir = ensure_data(sf)
    warm_dir = ensure_data(sf if a.smoke else wl["warm_sf"])
    work = os.path.abspath(f"{BUILD}/work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "derby", "spark-local"):
        os.makedirs(os.path.join(work, d))

    rng = random.Random(a.seed)
    if a.workload == "sql_mix":
        keys = SQL_KEYS
        rows = (ADDRESS_ROWS if not a.smoke else 2_000, gen.sizes(sf)["orders"])
        plan = sql_plan(rng, passes, rows)
    else:
        keys = CURATION_KEYS + STREAM_KEYS
        plan = curation_plan(passes)
    sqls = oracle_sql(cp, opts, work, src_hash, keys)
    oracles = ensure_oracles(sqls, keys, data_dir, sf)
    pins = pinned(sf)
    expects = []
    for k in keys:
        if k in oracles:
            expects.append(["expect", k, "oracle", oracles[k]])
        elif k in pins:
            expects.append(["expect", k, "pin", pins[k]])
    with open(os.path.join(work, "plan.tsv"), "w") as f:
        for line in expects + plan:
            f.write("\t".join(line) + "\n")

    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores), TMPDIR=os.path.join(work, "tmp"),
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    out_json = os.path.join(work, "result.json")
    t_jvm = time.time()
    # a run that built first may take longer overall; the JVM itself
    # always gets most of the per-run deadline
    budget = max(150, DEADLINE_S - (t_jvm - t_start))
    cmd = java_cmd(cp, opts, work, "perfbench.Main", os.path.join(work, "plan.tsv"),
                   data_dir, warm_dir, work, out_json, str(a.trace))
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=logf,
                                stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=max(10, budget))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"run exceeded {DEADLINE_S} s; log kept in {work}/jvm.log")
    if rc != 0 or not os.path.exists(out_json):
        tail = open(os.path.join(work, "jvm.log")).read()[-3000:]
        fail(f"JVM exited {rc}:\n{tail}")
    t_post = time.time()
    res = json.load(open(out_json))
    if a.workload == "sql_mix":
        etl_counts(res["ops"], data_dir, work)
    if a.trace:
        os.makedirs(f"{BUILD}/traces", exist_ok=True)
        shutil.copy(os.path.join(work, "trace.json"),
                    f"{BUILD}/traces/{a.workload}-seed{a.seed}.json")

    for o in res["warm_ops"]:
        if not o["ok"]:
            log(f"warm-up op {o['name']} failed (not counted)")
    ops = res["ops"]
    failed = [o for o in ops if not o["ok"]]
    host = res["host"]
    print(f"env: workload={a.workload} seed={a.seed} sf={sf} passes={passes} cpus={cores} "
          f"driver_mem={mem} source={src_hash} spark={res['env']['spark']} "
          f"java={res['env']['java']} steal_pct={host['host.steal_pct']:.2f} "
          f"iowait_pct={host['host.iowait_pct']:.2f}")
    print("jvm_flags: " + " ".join(res["env"]["jvm_flags"]))
    for o in failed:
        print(f"FAILED op {o['id']} {o['name']} (pass {o['pass']}): {o['err'][:400]}")
    if a.trace:
        metrics = {k: {"value": v, "unit": u} for k, (v, u, _) in per_layer(res, cores).items()}
        print("spans (self ms): " + ", ".join(
            f"{n}={s['self_ms']:.0f}" for n, s in sorted(res["spans"].items())))
    else:
        e2e = end_to_end(res, a.workload)
        units = dict(END_TO_END)
        print("metrics: " + ", ".join(f"{k}={v:.4f} {units[k]} (n={n})" for k, (v, n) in e2e.items()))
        metrics = {k: {"value": v, "unit": units[k]} for k, (v, _) in e2e.items()}
    if not a.keep:
        shutil.rmtree(work, ignore_errors=True)
    log(f"prepare {t_jvm - t_start:.1f} s, jvm {t_post - t_jvm:.1f} s, "
        f"check {time.time() - t_post:.1f} s")
    print(json.dumps({"correct": not failed, "attempted": len(ops), "failed": len(failed),
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
