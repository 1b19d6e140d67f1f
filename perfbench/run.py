#!/usr/bin/env python3
"""The graft benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload etl --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The engine is built from the checkout's
own sources (perfbench/build.sbt), the workload's inputs are generated
from the seed (gen.py), the expected outputs are computed by DuckDB from
the engine's oracle SQL, and the engine runs in fresh JVMs on local[4]:
a set-up probe and the measured process. Everything the run writes
stays under .bench_build/ in the checkout.

Workloads (see WORKLOADS and README.md):
  etl          11 IMPC reference dataflow queries on a x4 corpus
  curate       curation and fixpoint builders (a Targets DAG, persist,
               fixpoint loops, hash and text expressions)
  interactive  a warm session queried in a closed loop (one client, no
               think time) with a Zipf-skewed draw over small queries

etl and curate first run one untimed pass of their queries in the fresh
process (class loading, JIT, first codegen), then time warm passes.
--seconds sets the amount of timed work: about one etl or curate pass
per 10 seconds (at least one), and 4 interactive executions per second.

The last stdout line is {"correct", "attempted", "failed", "metrics"}:
--trace 0 reports the end-to-end metrics, --trace 1 runs the same work
with the tracing listeners and reports the per-layer ones. The line
before it carries the host facts. The full dump of every run goes to .bench_build/results/.
"""
import argparse
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
WORK = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)
import gen  # noqa: E402

CORES = 4
JVM_HEAP = "3g"
MAIN = "org.apache.spark.sql.perfbench.Main"
TABLES = gen.TABLES

ETL = ("q_pipeline_e2e q_observations q_derive_runtime q_asof_plan q_doc_assembly "
       "q_scd2 q_agg_pricing q_unique_id q_xml_observations q_json_extract "
       "q_stream_sessions").split()
CURATE = "q_ingest_night q_shingle_clusters q_pagerank".split()
# Small queries of the other families: each runs in well under a second
# on the interactive corpus and passes the output check on every seed.
INTERACTIVE = [l.strip() for l in open(os.path.join(HERE, "interactive_pool.txt"))
               if l.strip() and not l.startswith("#")]

WORKLOADS = {
    "etl": dict(scale=0.001, copies=4, plan=ETL),
    "curate": dict(scale=0.001, copies=1, plan=CURATE),
    "interactive": dict(scale=0.001, copies=1, plan=None),
}
INTERACTIVE_PER_SECOND = 4
INTERACTIVE_WARMUP = 12
ZIPF_S = 1.1
RUN_BUDGET_S = 170
BUILD_SETTLE_S = 10
# set-ups measured per run besides the measured process's own; each costs
# a JVM start and session creation (~5 s), and every run pays it
SETUP_PROBES = 1

JAVA_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class BenchError(Exception):
    pass


# ---------------------------------------------------------------- build

def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        sub = shutil.which("spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(sub))) if sub else None
    jars = os.path.join(home, "jars") if home else None
    if not jars or not os.path.isdir(jars):
        raise BenchError("no Spark installation found (set SPARK_HOME)")
    return home, jars


def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the engine + benchmark harness once per source state."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise BenchError("engine sources (src/main/scala/graft) not found in the checkout")
    home, jars = spark_jars()
    sbt = shutil.which("sbt")
    if not sbt or not shutil.which("java"):
        raise BenchError("sbt and java are required")
    classes = os.path.join(WORK, "sbt", "scala-2.13", "classes")
    stamp_file = os.path.join(WORK, "build.stamp")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp \
            and os.path.isdir(classes):
        return classes, jars
    os.makedirs(WORK, exist_ok=True)
    t0 = time.time()
    env = dict(os.environ, SPARK_HOME=home)
    # resolve only from local caches: the build must never reach a network
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    # keep sbt's scratch files (server sockets, JVM perf data) in the checkout
    tmp = os.path.join(WORK, "tmp", "sbt")
    os.makedirs(tmp, exist_ok=True)
    env.update(TMPDIR=tmp, JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
    with open(os.path.join(WORK, "build.log"), "w") as lf:
        r = subprocess.run([sbt, "--batch", "-Dsbt.server.autostart=false",
                            "-Dsbt.log.noformat=true", "compile"],
                           cwd=HERE, env=env, stdout=lf, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL)
    if r.returncode != 0:
        raise BenchError(f"build failed, see {os.path.join(WORK, 'build.log')}")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    # let the host settle after the compiler's JVM exits before measuring
    time.sleep(BUILD_SETTLE_S)
    return classes, jars


# ---------------------------------------------------------------- jvm

def run_jvm(cp, conf, tag, deadline):
    """Run Main with a key=value config, killing it at the `deadline`
    (epoch s); returns (spawn epoch s, result)."""
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    tmp = os.path.join(WORK, "tmp", tag)
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    conf = dict(conf, out=os.path.join(tmp, "out.json"))
    cfg = os.path.join(tmp, "conf.txt")
    with open(cfg, "w") as f:
        f.writelines(f"{k}={v}\n" for k, v in conf.items())
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData", *JAVA_OPENS,
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
           f"-Dderby.system.home={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", cp, MAIN, cfg]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(CORES))
    for k in ("SPARK_GRAFT_ONLY", "SPARK_GRAFT_NEARDUP", "SPARK_GRAFT_CURATE_BUDGET",
              "SPARK_GRAFT_CURATE_KEEPPPM", "SPARK_GRAFT_SHUFFLE_PARTITIONS"):
        env.pop(k, None)
    with open(os.path.join(WORK, f"jvm-{tag}.log"), "w") as lf:
        spawn = time.time()
        p = subprocess.Popen(cmd, cwd=tmp, env=env, stdout=lf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise BenchError(f"JVM '{tag}' timed out")
    if rc != 0 or not os.path.exists(conf["out"]):
        raise BenchError(f"JVM '{tag}' exited {rc}, see {lf.name}")
    with open(conf["out"]) as f:
        res = json.load(f)
    shutil.rmtree(tmp, ignore_errors=True)
    return spawn, res


def oracle_sql(cp):
    path = os.path.join(WORK, "oracle_sql.json")
    stamp = open(os.path.join(WORK, "build.stamp")).read()
    if os.path.exists(path):
        with open(path) as f:
            d = json.load(f)
        if d.get("stamp") == stamp:
            return d["sql"]
    _, sql = run_jvm(cp, {"mode": "oracles", "data": "."}, "oracles", time.time() + 120)
    with open(path, "w") as f:
        json.dump({"stamp": stamp, "sql": sql}, f)
    return sql


# ---------------------------------------------------------------- inputs

def make_inputs(wl, seed):
    """Generate the workload's corpus once per seed; returns (dir, seconds
    the generation took)."""
    spec = WORKLOADS[wl]
    d = os.path.join(WORK, "data", f"s{spec['scale']}-x{spec['copies']}-seed{seed}")
    stamp = os.path.join(d, "gen_s.txt")
    if not os.path.exists(stamp):
        t0 = time.time()
        gen.write(gen.derive(gen.base_tables(spec["scale"], seed), spec["copies"]), d)
        with open(stamp, "w") as f:
            f.write(repr(time.time() - t0))
    with open(stamp) as f:
        return d, float(f.read())


def zipf_sequence(pool, n, seed):
    """n draws over pool with Zipf(ZIPF_S) popularity; the rank order of
    the pool is itself shuffled by the seed."""
    import numpy as np
    rng = np.random.default_rng(seed)
    ranked = list(rng.permutation(pool))
    w = 1.0 / np.arange(1, len(ranked) + 1) ** ZIPF_S
    idx = rng.choice(len(ranked), n, p=w / w.sum())
    return [ranked[i] for i in idx]


def plan_for(wl, seed, seconds):
    """(warmup, plan, passes) of one run."""
    if wl == "interactive":
        seq = zipf_sequence(INTERACTIVE, INTERACTIVE_WARMUP + INTERACTIVE_PER_SECOND * seconds, seed)
        return seq[:INTERACTIVE_WARMUP], seq[INTERACTIVE_WARMUP:], 1
    plan = WORKLOADS[wl]["plan"]
    return plan, plan, max(1, round(seconds / 10))


def run_oracles(sqls, queries, data_dir):
    """DuckDB results of the oracle-backed queries, as parquet files."""
    import duckdb
    out = os.path.join(data_dir, "oracle")
    os.makedirs(out, exist_ok=True)
    todo = [q for q in queries if sqls.get(q) and not os.path.exists(os.path.join(out, f"{q}.parquet"))]
    if todo:
        con = duckdb.connect()
        con.execute(f"SET threads TO {CORES}")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(data_dir, t + '.parquet')}')")
        for q in todo:
            tmp = os.path.join(out, f".{q}.tmp.parquet")
            con.execute(f"COPY ({sqls[q]}) TO '{tmp}' (FORMAT PARQUET)")
            os.replace(tmp, os.path.join(out, f"{q}.parquet"))
        con.close()
    return out


# ---------------------------------------------------------------- checks

def load_expected(wl):
    p = os.path.join(HERE, "expected", f"{wl}.json")
    if os.path.exists(p):
        with open(p) as f:
            return json.load(f)
    return {}


def check(res, wl, seed):
    """Per-execution verdicts: an execution fails if it raised, if its
    digest differs from another execution of the same query, from the
    DuckDB oracle's, or from the digest recorded for this seed."""
    expected = load_expected(wl).get(str(seed), {})
    allx = res["warmup"] + res["execs"]
    first = {}
    for e in allx:
        if e["error"] is None:
            first.setdefault(e["query"], e["digest"])
    def verdict(e):
        q = e["query"]
        if e["error"] is not None:
            return f"{q}: raised {e['error']}"
        if e["digest"] != first[q]:
            return f"{q}: digest {e['digest']} differs from an earlier run's {first[q]}"
        if q in res["oracle"] and res["oracle"][q] != e["digest"]:
            return f"{q}: digest {e['digest']} != DuckDB oracle {res['oracle'][q]}"
        if q in expected and expected[q] != e["digest"]:
            return f"{q}: digest {e['digest']} != recorded {expected[q]}"
        return None

    bad_warm = [v for v in map(verdict, res["warmup"]) if v]
    verdicts = [verdict(e) for e in res["execs"]]
    problems = sorted(set(bad_warm + [v for v in verdicts if v]))
    failed = sum(1 for v in verdicts if v) + len(bad_warm)
    return failed, problems


# ---------------------------------------------------------------- metrics

def pct(xs, p):
    """Nearest-rank percentile."""
    s = sorted(xs)
    k = max(0, min(len(s) - 1, int(-(-p * len(s) // 100)) - 1))
    return s[k]


def best_pass(res, cost):
    """Σ over the plan's queries of each query's lowest `cost` over the
    timed passes. Bursts of host contention only ever add time, so the
    minimum is the steady figure. One pass (an interactive sequence, with
    its repeats) counts as it ran."""
    if len(res["passes"]) == 1:
        return sum(cost(e) for e in res["execs"])
    best = {}
    for e in res["execs"]:
        best[e["query"]] = min(cost(e), best.get(e["query"], float("inf")))
    return sum(best.values())


def wall(res):
    """Seconds from the first query submitted to the last result, without
    the harness's clean-up (per query, as in best_pass)."""
    return best_pass(res, lambda e: e["build_s"] + e["sink_s"])


def latency(res):
    """(p50, p90) of the timed executions' build + sink seconds."""
    lat = [e["build_s"] + e["sink_s"] for e in res["execs"]]
    return pct(lat, 50), pct(lat, 90)


def end_to_end(res, setups, wl):
    m = {
        "setup_s": (statistics.median(setups), "s"),
        "wall_s": (wall(res), "s"),
    }
    if wl == "interactive":
        p50, p90 = latency(res)
        m.update(query_p50_s=(p50, "s"), query_p90_s=(p90, "s"))
    return m


PER_LAYER_UNITS = {
    "session.create_s": "s", "session.warm_s": "s", "input.gen_s": "s",
    "build.s": "s", "build.self_s": "s", "build.jobs": "count", "sink.s": "s", "sink.self_s": "s",
    "plan.analysis_s": "s", "plan.optimizer_s": "s", "plan.physical_s": "s",
    "plan.executions": "count",
    "codegen.compile_s": "s", "codegen.compiles": "count", "codegen.pipeline_s": "s",
    "scan.s": "s", "scan.bytes": "bytes", "scan.files": "count", "scan.rows": "count",
    "shuffle.write_bytes": "bytes", "shuffle.records": "count", "shuffle.write_s": "s",
    "shuffle.fetch_wait_s": "s",
    "exec.sort_s": "s", "exec.agg_s": "s", "exec.spill_bytes": "bytes",
    "exec.peak_task_mem_mb": "MB", "broadcast.bytes": "bytes", "broadcast.build_s": "s",
    "asof.rows": "count",
    "sched.jobs": "count", "sched.stages": "count", "sched.tasks": "count",
    "sched.task_run_s": "s", "sched.task_cpu_s": "s", "sched.task_gc_s": "s",
    "sched.busy_frac": "ratio", "sched.stage_skew": "ratio",
    "cache.bytes_peak": "bytes", "cache.blocks_left": "count", "cache.read_bytes": "bytes",
    "targets.stage_s": "s", "targets.critical_path_s": "s", "targets.write_bytes": "bytes",
    "stream.batches": "count", "stream.batch_s": "s", "stream.plan_s": "s",
    "stream.commit_s": "s", "stream.state_rows": "count",
    "jvm.cpu_s": "s", "jvm.gc_s": "s", "jvm.heap_peak_mb": "MB", "jvm.rss_peak_mb": "MB",
    "harness.clear_s": "s", "harness.gap_s": "s",
    "query.p50_s": "s", "query.p90_s": "s",
    "trace.wall_s": "s",
}


def per_layer(res, gen_s):
    tot = res["trace"]["totals"]
    walls = [p["elapsed_s"] - p["clear_s"] for p in res["passes"]]
    execs = sum(e["build_s"] + e["sink_s"] for e in res["execs"])
    vals = {k: tot.get(k, 0.0) for k in PER_LAYER_UNITS}
    vals.update({
        "session.create_s": res["session_create_s"],
        "session.warm_s": res["session_warm_s"],
        "input.gen_s": gen_s,
        "jvm.cpu_s": best_pass(res, lambda e: e["cpu_s"]),
        "jvm.gc_s": res["jvm"]["gc_s"],
        "jvm.heap_peak_mb": res["jvm"]["heap_peak_mb"],
        "jvm.rss_peak_mb": res["jvm"]["rss_hwm_mb"],
        "harness.clear_s": sum(p["clear_s"] for p in res["passes"]),
        "harness.gap_s": max(0.0, sum(walls) - execs),
        "query.p50_s": latency(res)[0],
        "query.p90_s": latency(res)[1],
        "trace.wall_s": wall(res),
    })
    return {k: (v, PER_LAYER_UNITS[k]) for k, v in vals.items()}


# ---------------------------------------------------------------- main

def loadavg():
    try:
        return list(os.getloadavg())
    except OSError:
        return None


def run(args):
    wl, seed, seconds, trace = args.workload, args.seed, args.seconds, args.trace == 1
    load_before = loadavg()
    classes, jars = build()
    # everything after the build must end within RUN_BUDGET_S
    deadline = time.time() + RUN_BUDGET_S
    cp = f"{classes}{os.pathsep}{os.path.join(jars, '*')}"
    sqls = oracle_sql(cp)
    warmup, plan, passes = plan_for(wl, seed, seconds)
    unknown = sorted(set(warmup + plan) - set(sqls))
    if unknown:
        raise BenchError(f"unknown queries: {unknown}")
    data_dir, gen_s = make_inputs(wl, seed)
    oracle_dir = run_oracles(sqls, sorted(set(warmup + plan)), data_dir)
    setups = []
    for i in range(SETUP_PROBES):
        spawn, probe = run_jvm(cp, {"mode": "probe", "data": data_dir}, f"probe{i}", deadline)
        setups.append(probe["ready_epoch_ms"] / 1e3 - spawn)
    conf = {"mode": "run", "data": data_dir, "oracle": oracle_dir, "cores": CORES,
            "trace": int(trace), "plan": ",".join(plan), "passes": passes,
            "warmup": ",".join(warmup)}
    spawn, res = run_jvm(cp, conf, "main", deadline)
    setups.append(res["ready_epoch_ms"] / 1e3 - spawn)
    failed, problems = check(res, wl, seed)
    for p in problems:
        log(f"CHECK FAILED {p}")
    attempted = len(res["execs"])
    metrics = per_layer(res, gen_s) if trace else end_to_end(res, setups, wl)
    host = dict(res["host"], load_before=load_before, load_after=loadavg(),
                setup_samples_s=setups, input_gen_s=gen_s, timed_s=res["timed_s"],
                executions=attempted, distinct_queries=len(set(plan)))
    dump = dict(workload=wl, seed=seed, seconds=seconds, trace=int(trace), host=host,
                problems=problems, metrics={k: v for k, (v, _) in metrics.items()},
                result=res)
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results",
                           f"{wl}-seed{seed}-trace{int(trace)}-{int(time.time() * 1000)}.json"), "w") as f:
        json.dump(dump, f)
    if args.record:
        record(wl, seed, res, problems)
    print(json.dumps({"host": host}))
    line = {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    print(json.dumps(line), flush=True)
    return 0 if failed == 0 else 1


def record(wl, seed, res, problems):
    """Store this run's digests as the recorded expectation for the seed."""
    if problems:
        raise BenchError("refusing to record digests of a run that failed its checks")
    p = os.path.join(HERE, "expected", f"{wl}.json")
    exp = load_expected(wl)
    exp[str(seed)] = {e["query"]: e["digest"] for e in res["warmup"] + res["execs"]}
    os.makedirs(os.path.dirname(p), exist_ok=True)
    with open(p, "w") as f:
        json.dump(exp, f, indent=1, sort_keys=True)


def main(argv=None):
    ap = argparse.ArgumentParser(description="graft benchmark: one workload, one seed")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="store this run's output digests as the seed's expected values")
    args = ap.parse_args(argv)
    try:
        return run(args)
    except BenchError as e:
        log(f"error: {e}")
        return 2


if __name__ == "__main__":
    sys.exit(main())
