#!/usr/bin/env python3
"""Layered benchmark of the graft engine: one client thread in a closed loop
against one JVM running Spark local[<cores>], every result checked against
DuckDB. See perfbench/NOTES.md.

Usage: python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
The last line of standard output is the result JSON.
"""
import argparse
import json
import math
import os
import random
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import prepare  # noqa: E402

HEAP = "4g"
JAVA_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def cores():
    return len(os.sched_getaffinity(0))


def jvm(classpath, args, log, timeout):
    """Run the benchmark client in a fresh JVM; returns (spawn epoch ms, rc)."""
    scratch = os.path.join(build.OUT, "spark-tmp")
    os.makedirs(scratch, exist_ok=True)
    env = dict(os.environ)
    # Spark's scratch space (shuffle, spill, warehouse) stays in the checkout
    env["SPARK_LOCAL_DIRS"] = scratch
    env["SPARK_GRAFT_CONF"] = "spark.sql.warehouse.dir=" + os.path.join(scratch, "warehouse")
    env["SPARK_GRAFT_CPUS"] = str(cores())
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss8m"] + JAVA_OPENS + [
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={scratch}", "-cp", classpath] + args
    with open(log, "w") as fh:
        spawn_ms = time.time() * 1000.0
        proc = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT, cwd=build.ROOT, env=env)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            raise SystemExit(f"perfbench: JVM exceeded {timeout:.0f} s, see {log}")
        finally:  # also when this process is stopped
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    return spawn_ms, rc


# Fixture of each workload; sf1 is built from sf0.1 by graft.tools.ScaleUp
WORKLOAD_FIXTURE = {"presto_corpus": "sf0.01", "tpc_sf1": "sf1", "llm_pipeline": "sf0.01"}
# Mean latency of an entry in the timed loop, in seconds, measured on the
# 4-core box of NOTES.md; it sizes the run set to the measured seconds.
ENTRY_S = {"presto_corpus": 0.95, "tpc_sf1": 4.0, "llm_pipeline": 2.2}
# Untimed warm-up before the loop: light entries, held out of the run set.
# llm_pipeline warms up on one entry of each kernel family of its run set.
WARMUP = {"presto_corpus": ["r130_ref_grouped_join_agg"], "tpc_sf1": ["h13_order_distribution"],
          "llm_pipeline": ["t09_sequence_pack", "d13_passage_dedup", "s03_ann_lsh"]}
BLOCK = 3  # the seed orders entries within blocks of this size (see sequence)
JVM_TIMEOUT_S = 150


def workload_fixture(workload, classpath):
    """(directory, content id, build seconds) of the workload's fixture."""
    name = WORKLOAD_FIXTURE[workload]
    if name == "sf1":
        d, manifest = prepare.scaled_fixture(classpath, jvm)
        return d, manifest["source"], manifest["build_s"]
    d = prepare.committed_fixture(name)
    return d, prepare.content_id(d), 0.0


def prepare_inputs(workload, classpath, seconds):
    """Pools, fixtures and the expected result of every entry a run of any
    workload executes, so that only a checkout's first run builds them;
    returns the workload's."""
    pools = prepare.pools(classpath, jvm)
    out = None
    for w in sorted(WORKLOAD_FIXTURE):
        fixture, fixture_id, build_s = workload_fixture(w, classpath)
        runnable = {n: pools[w][n] for n in run_set(w, pools[w], seconds)}
        expected = prepare.expected(w, fixture_id, fixture, runnable)
        if w == workload:
            out = pools[w], fixture, build_s, expected
    return out


def spread(names, n):
    """n entries evenly spread over the list, in its order."""
    return [names[i * len(names) // n] for i in range(n)]


def run_set(workload, pool, seconds):
    """The entries the timed loop runs, each once: as many as take about
    `seconds` at the workload's mean entry latency, evenly spread over the
    pool, less the warm-up entries. A pass over a whole pool takes minutes."""
    n = max(1, min(len(pool), round(seconds / ENTRY_S[workload])))
    return [e for e in spread(list(pool), n) if e not in WARMUP[workload]]


def warmup(workload):
    """Untimed executions before the loop, so that the JVM's cold start does
    not land on whichever entry the seed puts first. The warm-up entries are
    not in the run set, so the generated code of the timed entries is still
    uncompiled, as it is for a new query; tpc_sf1 warms up on the small sf0.01
    fixture."""
    lines = f"warmup {' '.join(WARMUP[workload])}\n"
    if workload == "tpc_sf1":
        lines = f"warmup-dir {prepare.committed_fixture('sf0.01')}\n" + lines
    return lines


def sequence(workload, seed, pool, seconds):
    """Order of the run set, drawn from the seed. The seed shuffles the run
    set within consecutive blocks of BLOCK entries: the JVM is still warming
    up during the loop, and a free shuffle would let the seed decide which
    heavy entries pay for that."""
    rng = random.Random(f"{workload}:{seed}")
    names = run_set(workload, pool, seconds)
    order = []
    for i in range(0, len(names), BLOCK):
        block = names[i:i + BLOCK]
        rng.shuffle(block)
        order += block
    return order


LAYER_UNITS = {
    "session.spark_s": "s", "session.engine_s": "s", "session.catalog_s": "s",
    "frontend.s": "s", "frontend.analysis_s": "s",
    "optimizer.s": "s", "optimizer.plan_nodes": "count",
    "planner.s": "s", "planner.aqe_updates": "count",
    "codegen.compiles": "count", "codegen.compile_s": "s",
    "sched.jobs": "count", "sched.stages": "count", "sched.tasks": "count",
    "sched.task_overhead_s": "s", "driver.s": "s",
    "exec.run_s": "s", "exec.cpu_s": "s", "exec.gc_s": "s", "exec.deser_s": "s",
    "exec.core_util": "ratio",
    "scan.files": "count", "scan.rows": "count", "scan.bytes": "bytes", "scan.time_s": "s",
    "exchange.write_bytes": "bytes", "exchange.write_s": "s",
    "exchange.read_bytes": "bytes", "exchange.fetch_wait_s": "s",
    "join.build_s": "s", "join.broadcast_s": "s",
    "agg.time_s": "s", "agg.peak_mem_bytes": "bytes",
    "sort.time_s": "s", "spill.bytes": "bytes",
    "result.rows": "count", "mem.retained_heap_mb": "MB",
}
# Recorded but not reported: they read exactly 0 on whole workloads (a local
# shuffle never waits on a fetch, sorts end within the millisecond timer, and
# nothing spills), and a metric that never moves cannot show a change.
RECORD_ONLY = {"exchange.fetch_wait_s", "sort.time_s", "spill.bytes"}
PHASES = ["frontend", "optimizer", "planner", "execute"]


def union_ms(intervals, lo=None, hi=None):
    """Length of the union of [start, end) intervals, clipped to [lo, hi)."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        s = s if lo is None else max(s, lo)
        e = e if hi is None else min(e, hi)
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            total += 0.0 if cur_e is None else cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + (0.0 if cur_e is None else cur_e - cur_s)


def hd_quantile(xs, p):
    """Harrell-Davis estimate of the p-quantile: every order statistic,
    weighted by a Beta((n+1)p, (n+1)(1-p)) distribution. With the few
    executions of a run, the sample median jumps between neighbouring
    entries' latencies; this estimate moves smoothly with all of them."""
    xs = sorted(xs)
    n, steps = len(xs), 400  # midpoint rule, `steps` points per order statistic
    a, b = (n + 1) * p, (n + 1) * (1 - p)
    ts = [(k + 0.5) / (n * steps) for k in range(n * steps)]
    log_pdf = [(a - 1) * math.log(t) + (b - 1) * math.log(1 - t) for t in ts]
    top = max(log_pdf)
    pdf = [math.exp(v - top) for v in log_pdf]
    weights = [sum(pdf[i * steps:(i + 1) * steps]) for i in range(n)]
    return sum(w * x for w, x in zip(weights, xs)) / sum(weights)


def latency_s(q):
    p = q["phase_epoch_ms"]
    return (p[4] - p[0]) / 1000.0


def query_jobs(run):
    """{qid: [job]} for the jobs of the timed loop that finished."""
    out = {}
    for j in run["jobs"]:
        tag = j.get("tag") or ""
        if tag.startswith("q") and tag[1:].isdigit() and "end_ms" in j:
            out.setdefault(int(tag[1:]), []).append(j)
    return out


def stage_owner(run, jobs_by_q):
    """Each stage attempt that ran, under the first job that lists it."""
    ran = {}
    for s in run["stages"]:
        if "end_ms" in s and s["tasks"] > 0:
            ran.setdefault(s["stage"], []).append(s)
    owned = {}
    for qid, jobs in jobs_by_q.items():
        for j in sorted(jobs, key=lambda j: j["job"]):
            for sid in j["stages"]:
                if sid in ran and sid not in owned:
                    owned[sid] = (qid, j["job"])
    return ran, owned


def layers(run, n_cores):
    """Per-layer metrics of a traced run: per query means over the timed loop
    (set-up and retained heap are per run)."""
    qs = run["queries"]
    n = max(len(qs), 1)
    jobs_by_q = query_jobs(run)
    ran, owned = stage_owner(run, jobs_by_q)
    stage_of_q = {}
    for sid, (qid, _) in owned.items():
        stage_of_q.setdefault(qid, []).extend(ran[sid])
    aqe = run["aqe_updates"]
    m = dict.fromkeys(LAYER_UNITS, 0.0)
    setup = run["setup"]
    m["session.spark_s"] = setup["spark_s"]
    m["session.engine_s"] = setup["engine_s"]
    m["session.catalog_s"] = setup["catalog_s"]
    job_wall_ms = 0.0
    for q in qs:
        p = q["phase_epoch_ms"]
        for i, name in enumerate(["frontend.s", "optimizer.s", "planner.s"]):
            m[name] += (p[i + 1] - p[i]) / 1000.0
        for k, v in q["counters"].items():
            m[k] += v
        m["codegen.compiles"] += sum(q["compiles"])
        m["codegen.compile_s"] += sum(q["compile_s"])
        jobs = jobs_by_q.get(q["qid"], [])
        m["sched.jobs"] += len(jobs)
        execs = {j["exec"] for j in jobs if j["exec"] >= 0}
        m["planner.aqe_updates"] += sum(aqe.get(str(e), 0) for e in execs)
        spans = [(j["start_ms"], j["end_ms"]) for j in jobs]
        covered = union_ms(spans, p[0], p[4])
        job_wall_ms += union_ms(spans)
        m["driver.s"] += (p[4] - p[0] - covered) / 1000.0
        for s in stage_of_q.get(q["qid"], []):
            m["sched.stages"] += 1
            m["sched.tasks"] += s["tasks"]
            m["sched.task_overhead_s"] += (s["duration_ms"] - s["run_ms"]) / 1000.0
            m["exec.run_s"] += s["run_ms"] / 1000.0
            m["exec.cpu_s"] += s["cpu_ns"] / 1e9
            m["exec.gc_s"] += s["gc_ms"] / 1000.0
            m["exec.deser_s"] += s["deser_ms"] / 1000.0
        m["result.rows"] += max(q["rows"], 0)
    per_run = {"session.spark_s", "session.engine_s", "session.catalog_s", "mem.retained_heap_mb"}
    for k in m:
        if k not in per_run:
            m[k] /= n
    m["exec.core_util"] = (m["exec.run_s"] * n * 1000.0 / (job_wall_ms * n_cores)
                           if job_wall_ms else 0.0)
    m["mem.retained_heap_mb"] = run["retained_heap_mb"]
    return m


def spans(run):
    """Span tree of the timed loop: query → frontend/optimizer/planner/
    execute → job → stage. A job hangs under the innermost benchmark span open
    when it started; a stage under the first job that lists it."""
    jobs_by_q = query_jobs(run)
    ran, owned = stage_owner(run, jobs_by_q)
    out = []

    def add(kind, label, start, end, parent, counters=None):
        out.append({"id": len(out), "parent": parent, "kind": kind, "label": label,
                    "start_ms": start, "end_ms": end, "counters": counters or {}})
        return len(out) - 1

    for q in run["queries"]:
        p = q["phase_epoch_ms"]
        root = add("query", q["name"], p[0], p[4], None,
                   {"rows": q["rows"], "error": q["error"], "cpu_s": q["cpu_s"],
                    "result.rows": q["rows"], **{k: v for k, v in q["counters"].items()
                                                 if k.startswith("optimizer.")}})
        kids = []
        for i, name in enumerate(PHASES):
            counters = {"codegen.compiles": q["compiles"][i], "codegen.compile_s": q["compile_s"][i]}
            if name == "frontend" and "frontend.analysis_s" in q["counters"]:
                counters["frontend.analysis_s"] = q["counters"]["frontend.analysis_s"]
            if name == "execute":
                counters.update({k: v for k, v in q["counters"].items()
                                 if k.split(".")[0] in ("scan", "exchange", "join", "agg",
                                                        "sort", "spill")})
            kids.append((p[i], p[i + 1], add(name, name, p[i], p[i + 1], root, counters)))
        for j in sorted(jobs_by_q.get(q["qid"], []), key=lambda j: j["job"]):
            inside = [k for k in kids if k[0] <= j["start_ms"] < k[1]]
            parent = (inside[-1] if inside else
                      min(kids, key=lambda k: min(abs(j["start_ms"] - k[0]),
                                                  abs(j["start_ms"] - k[1]))))[2]
            jid = add("job", f"job {j['job']}", j["start_ms"], j["end_ms"], parent)
            for sid in j["stages"]:
                if owned.get(sid) == (q["qid"], j["job"]):
                    for s in ran[sid]:
                        add("stage", f"stage {sid}.{s['attempt']}", s["start_ms"], s["end_ms"], jid,
                            {k: s[k] for k in ("tasks", "run_ms", "cpu_ns", "gc_ms", "deser_ms",
                                               "duration_ms", "shuffle_write_bytes",
                                               "shuffle_read_bytes", "spill_bytes")})
    children = {}
    for s in out:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    for s in out:
        kids = [(c["start_ms"], c["end_ms"]) for c in children.get(s["id"], [])]
        s["self_ms"] = s["end_ms"] - s["start_ms"] - union_ms(kids, s["start_ms"], s["end_ms"])
    return out


DEPTH = {"query": 0, "frontend": 1, "optimizer": 1, "planner": 1, "execute": 1,
         "job": 2, "stage": 3}


def accounting(run, tree):
    """Self time of each layer against the wall time of the timed loop. Each
    instant of a query goes to the deepest layer active then, once however
    many of its spans run concurrently, so the layers add up to the queries'
    time; the slack is the client's bookkeeping between queries."""
    wall_ms = run["loop"]["wall_s"] * 1000.0
    by_kind = dict.fromkeys(DEPTH, 0.0)
    groups = {}
    for s in tree:
        root = s["id"] if s["parent"] is None else tree[s["parent"]]["root"]
        s["root"] = root
        groups.setdefault(root, []).append(s)
    for root, members in groups.items():
        lo, hi = tree[root]["start_ms"], tree[root]["end_ms"]
        cuts = sorted({min(max(t, lo), hi) for s in members for t in (s["start_ms"], s["end_ms"])})
        for a, b in zip(cuts, cuts[1:]):
            mid = (a + b) / 2
            active = [s["kind"] for s in members if s["start_ms"] <= mid < s["end_ms"]]
            by_kind[max(active, key=DEPTH.get)] += b - a
    total = sum(by_kind.values())
    return {"loop_wall_s": wall_ms / 1000.0,
            "self_s": {k: v / 1000.0 for k, v in by_kind.items()},
            "self_total_s": total / 1000.0,
            "slack_s": (wall_ms - total) / 1000.0,
            "slack_frac": (wall_ms - total) / wall_ms if wall_ms else 0.0}


def check_outputs(run, expected, corrupt=None):
    """Every timed execution against DuckDB: [(qid, name, reason)] of failures."""
    dc = prepare._driver_check()
    failures = []
    for q in run["queries"]:
        if q["error"]:
            failures.append((q["qid"], q["name"], f"{q['error']} ({q['root_error']}): {q['message']}"))
            continue
        try:
            verdict = prepare.check(os.path.join(run["dir"], "results", f"q{q['qid']}"),
                                    expected[q["name"]], dc, corrupt == q["name"])
        except Exception as e:  # an unreadable or unsortable result fails its entry
            verdict = f"check {type(e).__name__}: {str(e)[:160]}"
        if verdict:
            failures.append((q["qid"], q["name"], verdict))
    return failures


def end_to_end(run, setup_s, failures):
    qs = run["queries"]
    lat = sorted(latency_s(q) for q in qs)
    n = len(qs)
    metrics = {
        "setup_s": (setup_s, "s"),
        "queries_per_s": ((n - len(failures)) / run["loop"]["wall_s"], "1/s"),
        "latency_p50_s": (hd_quantile(lat, 0.5), "s"),
        "cpu_s_per_query": (run["loop"]["cpu_s"] / n, "s"),
    }
    detail = {"failed_frac": len(failures) / n, "samples": n}
    if n >= 100:
        detail["latency_p90_s"] = hd_quantile(lat, 0.9)
    return metrics, detail


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOAD_FIXTURE))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt-expected", metavar="QUERY",
                    help="self-test: corrupt this query's expected result")
    args = ap.parse_args()
    # a stop request unwinds, so that the JVM is stopped with this process
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t_start = time.time()
    load_start = os.getloadavg()[0]

    stamps = {"start": t_start}
    classpath = build.build()
    stamps["built"] = time.time()
    pool_sql, fixture, fixture_build_s, expected = prepare_inputs(args.workload, classpath,
                                                                  args.seconds)
    stamps["prepared"] = time.time()

    rundir = os.path.join(build.OUT, "runs", f"{args.workload}-seed{args.seed}-trace{args.trace}")
    shutil.rmtree(rundir, ignore_errors=True)
    os.makedirs(rundir)
    order = sequence(args.workload, args.seed, pool_sql, args.seconds)
    seq_path = os.path.join(rundir, "sequence.txt")
    with open(seq_path, "w") as fh:
        fh.write(warmup(args.workload) + f"run {' '.join(order)}\n")

    spawn_ms, rc = jvm(classpath, ["perfbench.PerfBench", "run", args.workload, fixture, seq_path,
                                   str(args.trace), rundir, str(cores())],
                       os.path.join(rundir, "jvm.log"), JVM_TIMEOUT_S)
    if rc != 0:
        raise SystemExit(f"perfbench: run failed (exit {rc}), see {rundir}/jvm.log")
    with open(os.path.join(rundir, "run.json")) as fh:
        run = json.load(fh)
    run["dir"] = rundir
    # one cold start per run: a second one would cost as much as the loop
    setup_s = (run["setup"]["ready_epoch_ms"] - spawn_ms) / 1000.0
    stamps["ran"] = time.time()

    failures = check_outputs(run, expected, args.corrupt_expected)
    stamps["checked"] = time.time()
    e2e, detail = end_to_end(run, setup_s, failures)
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "fixture": os.path.relpath(fixture, build.ROOT),
              "fixture_build_s": fixture_build_s, "cores": cores(), "heap": HEAP,
              "loadavg_start": load_start, "loadavg_end": os.getloadavg()[0],
              "warmup_s": run["warmup_s"], "loop": run["loop"], "end_to_end": {k: v for k, (v, _) in e2e.items()},
              **detail, "failures": failures}
    if args.trace:
        tree = spans(run)
        per_layer = layers(run, cores())
        record["per_layer"] = per_layer
        record["accounting"] = accounting(run, tree)
        with open(os.path.join(rundir, "spans.json"), "w") as fh:
            json.dump(tree, fh)
        metrics = {k: {"value": v, "unit": LAYER_UNITS[k]} for k, v in per_layer.items()
                   if k not in RECORD_ONLY}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    record["wall_s"] = time.time() - t_start
    record["stage_s"] = {k: stamps[k] - t_start for k in stamps}
    with open(os.path.join(rundir, "record.json"), "w") as fh:
        json.dump(record, fh, indent=1)

    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace}: "
          f"{len(run['queries'])} executions in {run['loop']['wall_s']:.1f} s, "
          f"{len(failures)} failed, loadavg {load_start:.2f} -> {record['loadavg_end']:.2f}, "
          f"record {os.path.relpath(rundir, build.ROOT)}/record.json")
    for qid, name, reason in failures[:20]:
        print(f"  FAIL q{qid} {name}: {reason}")
    for k, (v, u) in e2e.items():
        print(f"  {k} = {v:.6g} {u}")
    print(f"  failed_frac = {detail['failed_frac']:.4g} (n = {detail['samples']})")
    if "latency_p90_s" in detail:
        print(f"  latency_p90_s = {detail['latency_p90_s']:.6g} s (n = {detail['samples']})")
    print(json.dumps({"correct": not failures, "attempted": len(run["queries"]),
                      "failed": len(failures), "metrics": metrics}))


if __name__ == "__main__":
    main()
