#!/usr/bin/env python3
"""graft benchmark: CDC freshness and micro-batch latency, batch query time.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a graft checkout. The first run builds the harness
(perfbench/build.sbt compiles graft's sources together with the harness);
later runs reuse the build while the sources are unchanged. CDC inputs
are generated from --seed under perfbench/.work/ and removed afterwards;
the batch queries read the sf0.01 tables in perfbench/data/sf0.01.

Workloads (see BENCHMARK.json and NOTES.md):
  cdc_trickle      open loop: one wire file lands every 200 ms on schedule
  batch_analytics  closed loop, one client: passes over 6 batch queries

The last stdout line is one JSON object: correct, attempted, failed and
metrics (end-to-end metrics with --trace 0, per-layer metrics with
--trace 1). The lines before it are a readable report with sample counts.
"""
import argparse
import datetime as dt
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

T0 = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

try:
    import check  # noqa: E402 - imports scripts/selfcheck.py from the checkout
except ImportError as e:
    sys.exit("perfbench: run from the root of a graft checkout (%s)" % e)
import gen  # noqa: E402
import stats  # noqa: E402

CDC_KEYS = {"orders": 15_000, "customer": 1_500}
QUERIES = ("ev_attribution_markov pipe_dup_clusters dedup_minhash "
           "ev_sessionize q9_profit_nation cdc_snapshot_diff").split()
DATA = os.path.join(HERE, "data", "sf0.01")
WORKLOADS = {
    "cdc_trickle": dict(warm_files=1, warm_records=200, interval_ms=200,
                        file_records=200),
    "batch_analytics": dict(),
}
PHASES = ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit",
          "commitOffsets")
END_TO_END = {  # name -> unit
    "setup_s": "s", "complete_s": "s", "op_p50_s": "s",
    "freshness_p50_s": "s"}
JVM_TIMEOUT_S = 165


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def fail_setup(msg):
    log("perfbench: " + msg)
    sys.exit(2)


# ------------------------------------------------------------------ build

def sources_stamp():
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project")):
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base)
            if "target" not in d.split(os.sep) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles graft + harness once per source state; returns the classpath."""
    cache = os.path.join(HERE, "target", "perfbench-classpath.txt")
    stamp = sources_stamp()
    if os.path.exists(cache):
        with open(cache) as f:
            old_stamp, cp = f.read().split("\n", 1)
        if old_stamp == stamp:
            return cp.strip()
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join((
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Xmx2g")))
    log("perfbench: building graft and the harness with sbt ...")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], cwd=HERE, env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=800)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or "classes" not in lines[-1]:
        log(p.stdout[-4000:])
        fail_setup("build failed")
    cp = lines[-1].strip()
    os.makedirs(os.path.dirname(cache), exist_ok=True)
    with open(cache, "w") as f:
        f.write(stamp + "\n" + cp)
    return cp


# ------------------------------------------------------------------ inputs

def cdc_inputs(work, seed, wl, seconds):
    """Writes seed snapshots and wire files; returns the generator and the
    counts the checks and ratios need."""
    g = gen.CdcLog(seed, CDC_KEYS)
    for t in sorted(CDC_KEYS):
        gen.write_lines(os.path.join(work, "seed", "seed-%s.json" % t), g.seed_lines(t))
    for i in range(wl["warm_files"]):
        gen.write_lines(os.path.join(work, "staging", "warm", "w%04d.json" % i),
                        g.next_lines(wl["warm_records"]))
    before = (g.records, g.unrouted, g.malformed)
    n_files = max(1, int(seconds * 1000 / wl["interval_ms"]))
    wire_bytes = 0
    for i in range(n_files):
        wire_bytes += gen.write_lines(
            os.path.join(work, "staging", "timed", "t%05d.json" % i),
            g.next_lines(wl["file_records"]))
    timed = dict(records=g.records - before[0],
                 unrouted=g.unrouted - before[1], malformed=g.malformed - before[2],
                 wire_bytes=wire_bytes)
    timed["routed"] = timed["records"] - timed["unrouted"] - timed["malformed"]
    return g, timed


# ------------------------------------------------------------------ JVM

def cpu_ticks():
    """Aggregate /proc/stat cpu ticks: user nice system idle iowait irq softirq steal."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return None


def run_jvm(cp, work, args, extra):
    # the JVM options of graft's build.sbt: default collector, same heap rule
    cmd = ["java", "-Xmx" + os.environ.get("SPARK_DRIVER_MEM", "8g")]
    for m in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
              "java.net", "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar"):
        cmd += ["--add-opens", "java.base/%s=ALL-UNNAMED" % m]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Dspark.local.dir=" + os.path.join(work, "spark-local"),
            "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
            "-Dderby.system.home=" + work,
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-cp", cp, "graft.perfbench.Main",
            "--workload", args.workload, "--work", work,
            "--seconds", str(args.seconds), "--trace", str(args.trace)]
    for k, v in extra.items():
        cmd += ["--" + k, str(v)]
    os.makedirs(os.path.join(work, "tmp"))
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(os.cpu_count() or 4))
    budget = max(10, JVM_TIMEOUT_S - (time.time() - T0))
    with open(os.path.join(work, "jvm.log"), "w") as out:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=out,
                             stderr=subprocess.STDOUT, start_new_session=True)
        try:
            p.wait(timeout=budget)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    path = os.path.join(work, "jvm.json")
    if not os.path.exists(path):
        with open(os.path.join(work, "jvm.log")) as f:
            log(f.read()[-4000:])
        return {"error": "JVM exited %s without results" % p.returncode}
    with open(path) as f:
        return json.load(f)


# ------------------------------------------------------------------ metrics

def iso_ms(s):
    return dt.datetime.fromisoformat(s.replace("Z", "+00:00")).timestamp() * 1000.0


def setup_seconds(raw):
    """Harness start (after the build) to the first timed operation."""
    return raw["timed_start_ms"] / 1000.0 - T0


def by_batch(progress):
    out = {}
    for p in progress:
        if p.get("numInputRows", 0) > 0 or p["batchId"] not in out:
            out[p["batchId"]] = p
    return out


def cdc_metrics(raw, g, work):
    merges = raw["merges"]
    commits = stats.batch_commits(merges)
    fb = stats.file_batches(raw["checkpoint"])
    landed = [tuple(x) for x in raw["landed"]]
    batches = sorted({fb[n] for n, _, _ in landed if n in fb})
    prog = by_batch(raw["stream_progress"])
    lat = [(commits[b] - iso_ms(prog[b]["timestamp"])) / 1000.0
           for b in batches if b in commits and b in prog]
    fresh = stats.freshness(landed, fb, commits)
    done = max((commits[b] for b in batches if b in commits), default=0)
    complete = (done - raw["timed_start_ms"]) / 1000.0
    failures = []
    missing = [n for n, _, _ in landed if fb.get(n) not in commits]
    if missing:
        failures.append("%d timed files never reached a committed version" % len(missing))
    for t in sorted(CDC_KEYS):
        ok, got, want = check.cdc_table(os.path.join(work, "snap", t), g.expected(t))
        log("check %-8s rows/hash %s oracle %s %s" % (t, got, want, "ok" if ok else "MISMATCH"))
        if not ok:
            failures.append("%s state differs from the oracle" % t)
    for what, got, want in (("unrouted_rows", raw["unrouted"], g.unrouted),
                            ("invalid_records", raw["invalid"], g.malformed)):
        log("check %-15s %d oracle %d" % (what, got, want))
        if got != want:
            failures.append("%s %d != %d" % (what, got, want))
    e2e = {
        "setup_s": setup_seconds(raw),
        "complete_s": complete,
        "op_p50_s": stats.median(lat),
        "freshness_p50_s": stats.median(fresh),
    }
    samples = {"complete_s": 1, "op_p50_s": len(lat), "freshness_p50_s": len(fresh)}
    extra = {}
    report_tail(extra, "op", lat)
    report_tail(extra, "freshness", fresh)
    log("perfbench: micro-batch latencies %s" % " ".join("%.2f" % x for x in lat))
    ctx = dict(merges=merges, commits=commits, fb=fb, landed=landed,
               batches=batches, prog=prog)
    return e2e, samples, extra, len(batches), failures, ctx


def batch_metrics(raw, out_dir):
    q = raw["queries"]
    timed = [r for r in q if r["pass"] >= 1]
    passes = sorted({r["pass"] for r in timed})
    per_query = {}
    for r in timed:
        per_query.setdefault(r["name"], []).append(r["build_s"] + r["exec_s"])
    pass_s, fresh = [], []
    for p in passes:
        rows = sorted((r for r in timed if r["pass"] == p), key=lambda r: r["start_ms"])
        start = rows[0]["start_ms"]
        ends = [r["start_ms"] + 1000.0 * (r["build_s"] + r["exec_s"]) for r in rows]
        pass_s.append((max(ends) - start) / 1000.0)
        fresh += [(e - start) / 1000.0 for e in ends]
    failures = []
    t = time.time()
    verdict = check.batch_queries(DATA, out_dir, raw["oracle_sql"])
    log("perfbench: oracle checks took %.2f s" % (time.time() - t))
    for name, why in sorted(verdict.items()):
        log("check %-24s %s" % (name, "ok" if why is None else "MISMATCH " + why))
        if why is not None:
            failures.append("%s: %s" % (name, why))
    for name in sorted(per_query):  # over every pass, the warm-up included
        build = {r["build_jobs"] for r in q if r["name"] == name}
        execs = {r["exec_jobs"] for r in q if r["name"] == name}
        if len(build) > 1 or len(execs) > 1:
            failures.append("%s job counts differ across passes: build %s exec %s"
                            % (name, sorted(build), sorted(execs)))
    medians = [stats.median(v) for v in per_query.values()]
    geo = (math.exp(sum(map(math.log, medians)) / len(medians))
           if medians else float("nan"))
    e2e = {
        "setup_s": setup_seconds(raw),
        "complete_s": stats.median(pass_s),
        "op_p50_s": stats.median(medians),
        "freshness_p50_s": stats.median(fresh),
    }
    samples = {"complete_s": len(pass_s), "op_p50_s": len(medians),
               "freshness_p50_s": len(fresh)}
    extra = {"query_geomean_s": geo, "passes": len(passes)}
    report_tail(extra, "freshness", fresh)
    return e2e, samples, extra, len(timed), failures, dict(passes=passes, timed=timed)


def report_tail(extra, name, xs):
    t = stats.tail(xs)
    if t:
        extra["%s_p%g_s" % (name, t[0])] = t[1]


# --------------------------------------------------------------- per layer

# name -> (unit, better). Layers a workload does not run report 0.
PER_LAYER = {
    **{"trigger.%s_ms" % p: ("ms", "lower") for p in PHASES},
    "streaming.CdcDemux.self_ms": ("ms", "lower"),
    "streaming.PartitionedTableCdcTarget.merge_ms": ("ms", "lower"),
    "streaming.PartitionedTableCdcTarget.merge_max_ms": ("ms", "lower"),
    "streaming.PartitionedTableCdcTarget.jobs": ("count", "lower"),
    "streaming.PartitionedTableCdcTarget.stages": ("count", "lower"),
    "streaming.PartitionedTableCdcTarget.tasks": ("count", "lower"),
    "streaming.PartitionedTableCdcTarget.executor_cpu_ms_per_krow": ("ms/krow", "lower"),
    "streaming.PartitionedTableCdcTarget.shuffle_write_bytes": ("bytes", "lower"),
    "streaming.PartitionedTableCdcTarget.touched_partitions": ("count", "lower"),
    "streaming.PartitionedTableCdcTarget.rows_rewritten_per_input_row": ("ratio", "lower"),
    "sources.VersionedTable.bytes_written_per_wire_byte": ("ratio", "lower"),
    "sources.VersionedTable.snapshot_read_s": ("s", "lower"),
    "sources.VersionedTable.data_bytes_per_live_row": ("bytes/row", "lower"),
    "sources.VersionedTable.versions": ("count", "lower"),
    "sources.VersionedTable.manifest_bytes": ("bytes", "lower"),
    "sources.VersionedTable.live_data_files": ("count", "lower"),
    "sources.ChangeIngest.decode_rows_per_s": ("1/s", "higher"),
    "spark.jobs_per_batch": ("count", "lower"),
    "spark.no_task_running_s": ("s", "lower"),
    "spark.gc_ms": ("ms", "lower"),
    "generator.lag_max_s": ("s", "lower"),
    "generator.backlog_files_max": ("count", "lower"),
    "operators.build_s": ("s", "lower"),
    "operators.staging_jobs": ("count", "lower"),
    "operators.exec_s": ("s", "lower"),
    "operators.final_jobs": ("count", "lower"),
    "plan.analysis_ms": ("ms", "lower"),
    "plan.optimization_ms": ("ms", "lower"),
    "plan.planning_ms": ("ms", "lower"),
    "spark.stages": ("count", "lower"),
    "spark.tasks": ("count", "lower"),
    "spark.executor_cpu_s": ("s", "lower"),
    "spark.executor_run_s": ("s", "lower"),
    "spark.shuffle_read_bytes": ("bytes", "lower"),
    "spark.shuffle_write_bytes": ("bytes", "lower"),
    "spark.spill_bytes": ("bytes", "lower"),
    "Engine.session_s": ("s", "lower"),
    "jvm.peak_rss_mb": ("MB", "lower"),
}


def cdc_layers(raw, g, timed, ctx, spans):
    tr = raw["trace"]
    jobs = tr["jobs"]
    prog = by_batch(tr["progress"]) or ctx["prog"]
    batches = [b for b in ctx["batches"] if b in prog]
    calls = [m for m in ctx["merges"] if m["batch"] in set(batches)]
    per_call = []
    for m in calls:
        span = "cdc/b%d/merge/%s" % (m["batch"], m["table"])
        js = [j for j in jobs if j["span"] == span]
        per_call.append(dict(m, jobs=len(js), stages=sum(j["stages"] for j in js),
                             tasks=sum(j["tasks"] for j in js),
                             cpu_ns=sum(j["cpu_ns"] for j in js),
                             shuffle_write=sum(j["shuffle_write"] for j in js),
                             bytes_written=sum(j["bytes_written"] for j in js),
                             records_written=sum(j["records_written"] for j in js),
                             wall_ms=m["end_ms"] - m["start_ms"]))
    L = {}
    for p in PHASES:
        L["trigger.%s_ms" % p] = stats.median(
            [prog[b]["durationMs"].get(p, 0) for b in batches])
    self_ms, jobs_pb, idle_pb, gc_pb = [], [], [], []
    recon = []
    for b in batches:
        d = prog[b]["durationMs"]
        start = iso_ms(prog[b]["timestamp"])
        end = start + d.get("triggerExecution", 0)
        merged = sum(c["wall_ms"] for c in per_call if c["batch"] == b)
        self_ms.append(d.get("addBatch", 0) - merged)
        in_b = [j for j in jobs if start <= j["submit_ms"] <= end]
        jobs_pb.append(len(in_b))
        idle_pb.append(stats.idle_seconds(tr["task_spans"], start, end))
        gc_pb.append(sum(j["gc_ms"] for j in in_b))
        recon.append((sum(d.get(p, 0) for p in PHASES), d.get("triggerExecution", 0)))
        kids = [dict(name="trigger." + p, ms=d.get(p, 0)) for p in PHASES]
        kids += [dict(name="merge/" + c["table"], start_ms=c["start_ms"], end_ms=c["end_ms"],
                      jobs=c["jobs"], stages=c["stages"], tasks=c["tasks"],
                      cpu_ms=c["cpu_ns"] / 1e6, shuffle_write=c["shuffle_write"],
                      touched=c["touched"])
                 for c in per_call if c["batch"] == b]
        kids.append(dict(name="CdcDemux.self", ms=self_ms[-1]))
        spans.append(dict(span="batch/%d" % b, start_ms=start, end_ms=end,
                          jobs=len(in_b), stages=sum(j["stages"] for j in in_b),
                          tasks=sum(j["tasks"] for j in in_b), children=kids))
    pt = "streaming.PartitionedTableCdcTarget."
    L["streaming.CdcDemux.self_ms"] = stats.median(self_ms)
    L[pt + "merge_ms"] = stats.median([c["wall_ms"] for c in per_call])
    L[pt + "merge_max_ms"] = max((c["wall_ms"] for c in per_call), default=0)
    for k in ("jobs", "stages", "tasks"):
        L[pt + k] = stats.median([c[k] for c in per_call])
    routed_k = max(1, timed["routed"]) / 1000.0
    L[pt + "executor_cpu_ms_per_krow"] = sum(c["cpu_ns"] for c in per_call) / 1e6 / routed_k
    L[pt + "shuffle_write_bytes"] = stats.median([c["shuffle_write"] for c in per_call])
    L[pt + "touched_partitions"] = stats.median([c["touched"] for c in per_call])
    L[pt + "rows_rewritten_per_input_row"] = (
        sum(c["records_written"] for c in per_call) / max(1, timed["routed"]))
    vt = "sources.VersionedTable."
    L[vt + "bytes_written_per_wire_byte"] = (
        sum(c["bytes_written"] for c in per_call) / max(1, timed["wire_bytes"]))
    L[vt + "snapshot_read_s"] = raw["snapshot_read_s"]
    ts = raw["table_stats"].values()
    live = sum(len(g.expected(t)) for t in CDC_KEYS)
    L[vt + "data_bytes_per_live_row"] = sum(s["data_bytes"] for s in ts) / max(1, live)
    for k in ("versions", "manifest_bytes", "live_data_files"):
        L[vt + k] = sum(s[k] for s in ts)
    valid = g.records - g.malformed + sum(CDC_KEYS.values())  # log + seed lines
    L["sources.ChangeIngest.decode_rows_per_s"] = (
        valid / raw["decode_s"] if raw["decode_s"] > 0 else 0.0)
    L["spark.jobs_per_batch"] = stats.median(jobs_pb)
    L["spark.no_task_running_s"] = stats.median(idle_pb)
    L["spark.gc_ms"] = stats.median(gc_pb)
    landed = ctx["landed"]
    done = {n: ctx["commits"].get(ctx["fb"].get(n), float("inf")) for n, _, _ in landed}
    L["generator.lag_max_s"] = max(((a - d) / 1000.0 for _, d, a in landed), default=0.0)
    L["generator.backlog_files_max"] = stats.backlog_max(landed, done)
    phase_sum = sum(a for a, _ in recon)
    trig = sum(b for _, b in recon)
    add = sum(prog[b]["durationMs"].get("addBatch", 0) for b in batches)
    rec = {"trigger phases / triggerExecution": phase_sum / trig if trig else 0.0,
           "table merges / addBatch": (add - sum(self_ms)) / add if add else 0.0,
           "smallest CdcDemux self ms (>= 0: merges fit in addBatch)": min(self_ms, default=0)}
    return L, rec


def batch_layers(raw, ctx, spans):
    tr = raw["trace"]
    jobs, plans = tr["jobs"], tr["plans"]
    per_pass = {}
    recon = []
    for p in ctx["passes"]:
        rows = [r for r in ctx["timed"] if r["pass"] == p]
        pj = [j for j in jobs if (j["span"] or "").startswith("q/p%d/" % p)]
        start = min(r["start_ms"] for r in rows)
        end = max(r["start_ms"] + 1000.0 * (r["build_s"] + r["exec_s"]) for r in rows)
        pl = [x for x in plans if start <= x["start_ms"] <= end]
        idle = 0.0
        for r in rows:
            qs = r["start_ms"]
            qe = qs + 1000.0 * (r["build_s"] + r["exec_s"])
            idle += stats.idle_seconds(tr["task_spans"], qs, qe)
            span = "q/p%d/%s" % (p, r["name"])
            kids = []
            for part, secs, n in (("build", r["build_s"], r["build_jobs"]),
                                  ("exec", r["exec_s"], r["exec_jobs"])):
                js = [j for j in pj if j["span"] == span + "/" + part]
                kids.append(dict(name=part, s=secs, jobs=n, stages=sum(j["stages"] for j in js),
                                 tasks=sum(j["tasks"] for j in js),
                                 cpu_ms=sum(j["cpu_ns"] for j in js) / 1e6))
            spans.append(dict(span=span, start_ms=qs, end_ms=qe, children=kids))
        wall = (end - start) / 1000.0
        work = sum(r["build_s"] + r["exec_s"] for r in rows)
        recon.append(work / wall if wall else 0.0)
        per_pass[p] = {
            "operators.build_s": sum(r["build_s"] for r in rows),
            "operators.staging_jobs": sum(r["build_jobs"] for r in rows),
            "operators.exec_s": sum(r["exec_s"] for r in rows),
            "operators.final_jobs": sum(r["exec_jobs"] for r in rows),
            "plan.analysis_ms": sum(x["analysis_ms"] for x in pl),
            "plan.optimization_ms": sum(x["optimization_ms"] for x in pl),
            "plan.planning_ms": sum(x["planning_ms"] for x in pl),
            "spark.stages": sum(j["stages"] for j in pj),
            "spark.tasks": sum(j["tasks"] for j in pj),
            "spark.executor_cpu_s": sum(j["cpu_ns"] for j in pj) / 1e9,
            "spark.executor_run_s": sum(j["run_ms"] for j in pj) / 1e3,
            "spark.shuffle_read_bytes": sum(j["shuffle_read"] for j in pj),
            "spark.shuffle_write_bytes": sum(j["shuffle_write"] for j in pj),
            "spark.spill_bytes": sum(j["spill"] for j in pj),
            "spark.gc_ms": sum(j["gc_ms"] for j in pj),
            "spark.no_task_running_s": idle,
        }
    keys = next(iter(per_pass.values())).keys() if per_pass else []
    L = {k: stats.median([v[k] for v in per_pass.values()]) for k in keys}
    return L, {"build + exec / pass wall": stats.median(recon)}


# ------------------------------------------------------------------ main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail_setup("no graft sources next to perfbench/ (run from a graft checkout)")
    cp = build()
    global T0
    T0 = time.time()  # set-up is timed from here: a first run's build is not set-up
    wl = WORKLOADS[args.workload]
    work = os.path.join(HERE, ".work", "%s-s%d-%d" % (args.workload, args.seed, os.getpid()))
    os.makedirs(work)
    try:
        return measure(args, wl, cp, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(args, wl, cp, work):
    g, timed = None, None
    if args.workload == "cdc_trickle":
        g, timed = cdc_inputs(work, args.seed, wl, args.seconds)
        extra_args = {"interval-ms": wl["interval_ms"]}
    else:  # fixed tables: the seed changes nothing here
        extra_args = {"data": DATA, "queries": ",".join(QUERIES)}
    log("perfbench: inputs generated in %.2f s" % (time.time() - T0))
    cpu0 = cpu_ticks()
    raw = run_jvm(cp, work, args, extra_args)
    cpu1 = cpu_ticks()
    log("perfbench: JVM done at %.2f s; session %.2f s, warm-up %.2f s"
        % (time.time() - T0, raw.get("session_s", 0), raw.get("warmup_s", 0)))
    if raw.get("error"):
        log(raw["error"])
        return emit(False, 1, 1, {})
    if g is not None:
        e2e, samples, extra, attempted, failures, ctx = cdc_metrics(raw, g, work)
    else:
        e2e, samples, extra, attempted, failures, ctx = batch_metrics(
            raw, os.path.join(work, "out"))
    for k, v in e2e.items():
        if not v > 0:  # NaN (no samples) or a non-positive time
            failures.append("%s has no valid value (%r)" % (k, v))
            e2e[k] = 0.0
    for f in failures:
        log("FAILED " + f)
    print("workload %s seed %d seconds %g trace %d cpus %s"
          % (args.workload, args.seed, args.seconds, args.trace, raw.get("cpus")))
    for k, v in e2e.items():
        print("  %-18s %12.4f %-3s n=%s" % (k, v, END_TO_END[k], samples.get(k, 1)))
    for k, v in extra.items():
        print("  %-18s %12.4f" % (k, v))
    print("  %-18s %12.4f MB" % ("peak_rss_mb", raw["vm_hwm_kb"] / 1024.0))
    if cpu0 and cpu1:  # noisy neighbours show up as steal; runs with much of it are suspect
        d = [b - a for a, b in zip(cpu0, cpu1)]
        print("  host cpu during the JVM: busy %.1f %%, steal %.1f %%"
              % (100.0 * (sum(d) - d[3] - d[4] - d[7]) / max(1, sum(d)),
                 100.0 * d[7] / max(1, sum(d))))
    cache = os.path.join(HERE, ".work", "untraced", "%s-s%d.json" % (args.workload, args.seed))
    if not args.trace:
        os.makedirs(os.path.dirname(cache), exist_ok=True)
        with open(cache, "w") as f:
            json.dump(e2e, f)
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    else:
        spans = []
        if g is not None:
            L, recon = cdc_layers(raw, g, timed, ctx, spans)
        else:
            L, recon = batch_layers(raw, ctx, spans)
        L["Engine.session_s"] = raw["session_s"]
        L["jvm.peak_rss_mb"] = raw["vm_hwm_kb"] / 1024.0
        trace_file = os.path.join(HERE, ".work", "traces", "%s-s%d.jsonl"
                                  % (args.workload, args.seed))
        os.makedirs(os.path.dirname(trace_file), exist_ok=True)
        with open(trace_file, "w") as f:
            for s in spans:
                f.write(json.dumps(s) + "\n")
        print("  trace: %d spans -> %s" % (len(spans), os.path.relpath(trace_file, ROOT)))
        for k, v in recon.items():
            print("  reconcile %-50s %.4f" % (k, v))
        if os.path.exists(cache):
            with open(cache) as f:
                base = json.load(f)
            for k in ("op_p50_s", "complete_s"):
                print("  tracing overhead %-12s %+.4f s (traced %.4f, untraced %.4f)"
                      % (k, e2e[k] - base[k], e2e[k], base[k]))
        else:
            print("  tracing overhead: run --trace 0 with this seed first to report it")
        metrics = {}
        for k in PER_LAYER:
            v = L.get(k, 0)
            metrics[k] = {"value": float(v) if v == v else 0.0, "unit": PER_LAYER[k][0]}
            print("  %-62s %14.4f %s" % (k, metrics[k]["value"], metrics[k]["unit"]))
    return emit(not failures, attempted, len(failures) if failures else 0, metrics)


def emit(correct, attempted, failed, metrics):
    print(json.dumps({"correct": bool(correct), "attempted": int(max(1, attempted)),
                      "failed": int(failed), "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
