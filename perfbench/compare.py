#!/usr/bin/env python3
"""Compare benchmark result sets, and read a traced run layer by layer.

  compare.py diff BASE NEW        per workload and end-to-end metric:
                                  medians, quartiles, change, pairs won
  compare.py top DUMP [-q Q] [-n N]
                                  a traced run's top layers per query
  compare.py overhead DIR...      traced minus untraced wall_s per
                                  workload (the tracing overhead)

BASE, NEW and DIR are result dumps (.bench_build/results/*.json) or
directories of them. Pairs are formed by workload and seed; a pair is
won by the side whose value is better in the metric's direction (from
BENCHMARK.json); ties count for neither.
"""
import argparse
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(paths):
    """Result dumps from files and directories."""
    out = []
    for p in paths:
        files = sorted(glob.glob(os.path.join(p, "*.json"))) if os.path.isdir(p) else [p]
        for f in files:
            with open(f) as fh:
                d = json.load(fh)
            if "workload" in d and "metrics" in d:
                out.append(d)
    return out


def directions():
    """metric -> 'lower' | 'higher', from BENCHMARK.json when present."""
    p = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
    dirs = {}
    if os.path.exists(p):
        with open(p) as f:
            b = json.load(f)
        for m in b.get("end_to_end", []) + b.get("per_layer", []):
            dirs[m["name"]] = m.get("better", "lower")
    return dirs


def quartiles(xs):
    """(q1, median, q3) as statistics.quantiles(n=4) gives them."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def pairs_won(base, new, better="lower"):
    """(new wins, base wins, ties) over seed-matched pairs; base and new
    map seed -> value."""
    won = lost = tie = 0
    for s in sorted(set(base) & set(new)):
        a, b = base[s], new[s]
        if a == b:
            tie += 1
        elif (b < a) == (better == "lower"):
            won += 1
        else:
            lost += 1
    return won, lost, tie


def by_workload(dumps, trace):
    """workload -> metric -> seed -> value (the last dump per seed wins)."""
    out = {}
    for d in dumps:
        if d.get("trace", 0) != trace:
            continue
        w = out.setdefault(d["workload"], {})
        for k, v in d["metrics"].items():
            w.setdefault(k, {})[d["seed"]] = v
    return out


def diff(base_dumps, new_dumps, trace=0, out=sys.stdout):
    dirs = directions()
    a, b = by_workload(base_dumps, trace), by_workload(new_dumps, trace)
    rows = []
    for wl in sorted(set(a) & set(b)):
        for m in sorted(set(a[wl]) & set(b[wl])):
            av, bv = list(a[wl][m].values()), list(b[wl][m].values())
            aq, bq = quartiles(av), quartiles(bv)
            better = dirs.get(m, "lower")
            won, lost, tie = pairs_won(a[wl][m], b[wl][m], better)
            change = (bq[1] - aq[1]) / aq[1] if aq[1] else float("nan")
            spread = (aq[2] - aq[0]) / aq[1] if aq[1] else float("nan")
            rows.append((wl, m, aq, bq, change, spread, won, won + lost + tie, better))
    print(f"{'workload':<12} {'metric':<16} {'base median [q1, q3]':>30} "
          f"{'new median [q1, q3]':>30} {'change':>8} {'base IQR':>8} {'new won':>8}", file=out)
    for wl, m, aq, bq, ch, sp, won, n, better in rows:
        fmt = lambda q: f"{q[1]:.4g} [{q[0]:.4g}, {q[2]:.4g}]"
        print(f"{wl:<12} {m:<16} {fmt(aq):>30} {fmt(bq):>30} {ch:>+8.1%} {sp:>8.1%} "
              f"{won:>4}/{n:<3}", file=out)
    return rows


TIME_LAYERS = ("plan.analysis_s", "plan.optimizer_s", "plan.physical_s", "codegen.compile_s",
               "codegen.pipeline_s", "scan.s", "shuffle.write_s", "shuffle.fetch_wait_s",
               "exec.sort_s", "exec.agg_s", "broadcast.build_s", "sched.task_run_s",
               "sched.task_gc_s", "stream.batch_s", "targets.stage_s",
               "build.self_s", "sink.self_s")


def top_layers(dump, query=None, n=6):
    """[(query, executions, build_s, sink_s, explained, [(layer, s)])]:
    per query, the layers with the most seconds over its timed
    executions. build + sink splits into Spark job time (the union of
    job intervals) and driver self time (no job running), which holds
    planning, driver-side codegen and the builder's own code between
    jobs; `explained` is (jobs + self) / (build + sink)."""
    tr = dump["result"].get("trace")
    if not tr:
        raise ValueError("not a traced run (use --trace 1)")
    agg = {}
    for e in tr["execs"]:
        if not e["timed"] or (query and e["query"] != query):
            continue
        a = agg.setdefault(e["query"], {"n": 0})
        a["n"] += 1
        for k, v in e["layers"].items():
            a[k] = a.get(k, 0.0) + v
    out = []
    for q, a in agg.items():
        total = a.get("build.s", 0.0) + a.get("sink.s", 0.0)
        parts = a.get("jobs.wall_s", 0.0) + a.get("build.self_s", 0.0) + a.get("sink.self_s", 0.0)
        explained = parts / total if total else 0.0
        layers = sorted(((k, a.get(k, 0.0)) for k in TIME_LAYERS),
                        key=lambda kv: -kv[1])[:n]
        plan = sum(a.get(k, 0.0) for k in ("plan.analysis_s", "plan.optimizer_s", "plan.physical_s"))
        layers += [("jobs.wall_s", a.get("jobs.wall_s", 0.0)), ("plan.total_s", plan)]
        out.append((q, a["n"], a.get("build.s", 0.0), a.get("sink.s", 0.0), explained, layers))
    return sorted(out, key=lambda r: -(r[2] + r[3]))


def overhead(dumps):
    """workload -> (traced median wall_s, untraced median wall_s, share)."""
    traced, plain = {}, {}
    for d in dumps:
        if d["trace"] == 1:
            traced.setdefault(d["workload"], []).append(d["metrics"]["trace.wall_s"])
        else:
            plain.setdefault(d["workload"], []).append(d["metrics"]["wall_s"])
    out = {}
    for wl in sorted(set(traced) & set(plain)):
        t, p = statistics.median(traced[wl]), statistics.median(plain[wl])
        out[wl] = (t, p, (t - p) / p if p else float("nan"))
    return out


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    d = sub.add_parser("diff")
    d.add_argument("base")
    d.add_argument("new")
    d.add_argument("--trace", type=int, default=0)
    t = sub.add_parser("top")
    t.add_argument("dump")
    t.add_argument("-q", "--query")
    t.add_argument("-n", type=int, default=6)
    o = sub.add_parser("overhead")
    o.add_argument("paths", nargs="+")
    a = ap.parse_args(argv)
    if a.cmd == "diff":
        diff(load([a.base]), load([a.new]), a.trace)
    elif a.cmd == "top":
        for q, n, b, s, ex, layers in top_layers(load([a.dump])[0], a.query, a.n):
            print(f"{q}  x{n}  build {b:.3f} s  sink {s:.3f} s  explained {ex:.0%}")
            for k, v in layers:
                print(f"    {k:<22} {v:9.3f} s")
    else:
        for wl, (t, p, share) in overhead(load(a.paths)).items():
            print(f"{wl:<12} traced {t:.3f} s  untraced {p:.3f} s  overhead {share:+.1%}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
