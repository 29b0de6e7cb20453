#!/usr/bin/env python3
"""The repository benchmark: one command per workload run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. It builds the program and the engine side
of the benchmark (perfbench/build.sh), makes the workload's inputs from
the seed, runs the workload, checks the outputs, and prints one JSON
line as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics; with --trace 1
the engine hooks are attached and the metrics are the per-layer ones.
Everything a run leaves behind goes under .bench_build/perfbench/runs;
the full record of a run (all metrics, the host record, failures) is
runs/<workload>[-trace]/record.json. See perfbench/README.md.
"""
import argparse
import calendar
import glob
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen_stream  # noqa: E402
import gen_tables  # noqa: E402

# ---- workloads -----------------------------------------------------------

# SparkEntry queries implemented in pipeline.*, one per module family
# (Validate, Enrich, Temporal, Ingest, Windows, Asof, Aggregate): short,
# fixed-cost dominated scans, joins, windows and small aggregates.
ETL_QUERIES = [
    "q_range_check", "q_dim_enrich", "q_funnel", "q_json_field_agg",
    "q_running_sum", "q_asof_join", "q_hourly_user_agg",
]
STREAM = dict(backlog_events=120_000, backlog_files=48, backlog_hours=1.2,
              rate=2_000, drop_ms=200, wall_s_per_event_hour=1.5)
# the single-core reference drains a quarter of the backlog, spread over
# two event-hours so that one window closes during the drain
REFERENCE_BACKLOG = dict(backlog_events=30_000, backlog_files=12, backlog_hours=2.0)
MAX_FILES_PER_TRIGGER = 10
WARMUP_FILES = 10     # backlog files the first set-up repetition drains: one full trigger
SETUP_REPS = 3
MIN_PASSES = 3        # timed batch passes per run, at least
WARMUP_PASSES = 3     # untimed batch passes before the timed ones, after the check pass
STREAM_SETUP_REPS = 5   # a stream set-up is short; more repetitions steady its median
# CPU share the hypervisor may steal during a run before the run is
# flagged as not comparable
STEAL_LIMIT_PCT = 3.0
WORKLOADS = ("etl_batch", "txn_stream")

END_TO_END = {  # name -> unit
    "setup_s": "s", "pass_s": "s", "latency_p50_ms": "ms",
    "latency_p95_ms": "ms", "latency_geomean_ms": "ms", "heap_live_mb": "MB",
}
PER_LAYER = {
    "sessions.build_ms": "ms", "tables.first_read_ms": "ms",
    "build.ms": "ms", "build.jobs": "count",
    "plan.optimizer_ms": "ms", "plan.physical_ms": "ms",
    "codegen.compiles": "count", "codegen.compile_ms": "ms",
    "sched.jobs": "count", "sched.stages": "count", "sched.tasks": "count",
    "sched.idle_core_ms": "ms", "sched.driver_gap_ms": "ms", "sched.failed_tasks": "count",
    "exec.task_ms": "ms", "exec.cpu_ms": "ms", "exec.gc_ms": "ms",
    "exec.crit_task_ms": "ms", "exec.busy_ratio": "ratio",
    "exec.peak_mem_bytes": "bytes",
    "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes",
    "spill.disk_bytes": "bytes",
    "query.timeouts": "count",
    "source.latest_offset_ms": "ms", "source.get_batch_ms": "ms",
    "source.files_per_trigger": "count",
    "trigger.count": "count", "trigger.rows_mean": "count",
    "trigger.planning_ms": "ms",
    "sink.add_batch_ms": "ms", "sink.files": "count", "sink.bytes_per_event": "bytes",
    "wal.commit_ms": "ms",
    "state.rows": "count", "state.mem_bytes": "bytes", "state.update_ms": "ms",
    "state.commit_ms": "ms", "state.late_dropped": "count",
    "state.window_emit_p50_ms": "ms",
    "gen.lag_p99_ms": "ms", "host.steal_pct": "%",
    "scale.catchup_eps_1core": "1/s", "trace.coverage": "ratio",
}
DURATION_PARTS = ("latestOffset", "getBatch", "queryPlanning", "addBatch",
                  "walCommit", "commitOffsets")


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


class BenchError(Exception):
    pass


# ---- statistics -------------------------------------------------------------

def median(xs):
    return statistics.median(xs) if xs else float("nan")


def percentile(xs, p):
    """Linear-interpolated percentile, p in [0, 100]."""
    xs = sorted(xs)
    if not xs:
        return float("nan")
    k = (len(xs) - 1) * p / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def geomean(xs):
    xs = [x for x in xs if x > 0]
    return math.exp(math.fsum(math.log(x) for x in xs) / len(xs)) if xs else float("nan")


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


# ---- host -------------------------------------------------------------------

def cpu_times():
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v[:8]), v[7] if len(v) > 7 else 0


def mem_total_kb():
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    return 0


def heap_gb():
    return max(2, min(8, mem_total_kb() // (4 * 1024 * 1024)))


# ---- build and engine -------------------------------------------------------

def build(root):
    r = subprocess.run(["bash", os.path.join(HERE, "build.sh")], cwd=root,
                       stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                       timeout=850)
    if r.returncode != 0:
        sys.stderr.write(r.stderr[-4000:])
        raise BenchError("build failed")
    return r.stdout.strip().splitlines()[-1]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise BenchError("SPARK_HOME unset and spark-submit not on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return os.path.join(home, "jars")


ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def engine_cmd(classes, mode, opts, tmp):
    # a fixed-size heap: run-to-run differences in heap growth would
    # otherwise show up as GC time; temp files stay in the run directory
    cmd = ["java", f"-Xms{heap_gb()}g", f"-Xmx{heap_gb()}g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", f"{classes}:{spark_jars()}/*", "perfbench.Main", mode]
    for k, v in opts.items():
        cmd += [f"--{k}", str(v)]
    return cmd


def start_engine(classes, mode, opts, work, cores):
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    logf = open(os.path.join(work, f"engine-{mode}.log"), "w")
    return subprocess.Popen(engine_cmd(classes, mode, opts, tmp), cwd=work, env=env,
                            stdout=logf, stderr=subprocess.STDOUT), logf


def wait_engine(proc, logf, out, timeout_s):
    try:
        proc.wait(timeout=max(1.0, timeout_s))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise BenchError("engine timed out")
    finally:
        logf.close()
    if proc.returncode != 0 or not os.path.exists(out):
        with open(logf.name) as f:
            sys.stderr.write(f.read()[-4000:])
        raise BenchError(f"engine exited with {proc.returncode}")
    with open(out) as f:
        return json.load(f)


def stop(proc):
    if proc is not None and proc.poll() is None:
        proc.kill()
    if proc is not None:
        proc.wait()


# ---- batch workloads --------------------------------------------------------

def expected_hashes():
    with open(os.path.join(HERE, "expected_hashes.json")) as f:
        return json.load(f)


def run_batch(classes, work, queries, a, cores, deadline):
    data = []
    for i in range(SETUP_REPS):
        d = os.path.join(work, f"data{i}")
        if i == 0:
            gen_tables.write(a.seed, d)
        else:
            os.makedirs(d)
            for name in os.listdir(data[0]):
                os.link(os.path.join(data[0], name), os.path.join(d, name))
        data.append(d)
    out = os.path.join(work, "engine.json")
    proc, logf = start_engine(classes, "batch", {
        "data": ",".join(data), "queries": ",".join(queries),
        "seconds": a.seconds, "min-passes": MIN_PASSES, "warmup-passes": WARMUP_PASSES,
        "timeout-s": 60,
        "trace": a.trace, "cores": cores, "out": out}, work, cores)
    try:
        res = wait_engine(proc, logf, out, deadline - time.time())
    finally:
        stop(proc)

    expected = expected_hashes()
    problems = dict(res["errors"])
    wrong = 0
    for q in queries:
        got = res["hashes"].get(q)
        if got is None:
            wrong += 1          # the check run itself failed
        elif expected.get(q) != got:
            wrong += 1
            problems[q] = f"hash {got} != expected {expected.get(q)}"
    passes = res["passes"]
    per_query = {q: median([p["queries"][q] for p in passes if q in p["queries"]])
                 for q in queries}
    medians = [v for v in per_query.values() if not math.isnan(v)]
    setup = res["setup"]
    m = {
        "setup_s": median([s["session_ms"] + s["tables_ms"] for s in setup]) / 1000,
        "pass_s": median([p["wall_ms"] for p in passes]) / 1000,
        "latency_p50_ms": median(medians),
        "latency_p95_ms": percentile(medians, 95),
        "latency_geomean_ms": geomean(medians),
        "heap_live_mb": res["live_heap_mb"],
    }
    failed = wrong + res["warmup_failed"] + sum(
        1 for p in passes for q in queries if q not in p["queries"])
    attempted = len(queries) * (1 + res["warmup_passes"] + len(passes))
    layers = {}
    t = res.get("trace") or {}
    if t:
        n = len(passes)
        wall = sum(p["wall_ms"] for p in passes)
        layers = {
            "sessions.build_ms": median([s["session_ms"] for s in setup]),
            "tables.first_read_ms": median([s["tables_ms"] for s in setup]),
            "build.ms": t["build_ms"] / n, "build.jobs": t["build_jobs"] / n,
            "plan.optimizer_ms": t["optimizer_ms"] / n,
            "plan.physical_ms": t["physical_ms"] / n,
            "query.timeouts": res["timeouts"],
            # driver time inside actions outside Catalyst phases and jobs:
            # adaptive re-planning between stages, stage submission
            "sched.driver_gap_ms": (t["action_ms"] - t["action_plan_ms"] - t["action_job_ms"]) / n,
            "trace.coverage": (t["build_ms"] + t["action_plan_ms"] + t["action_job_ms"]) / wall,
            "layer_self_ms": {  # per pass; the remainder is driver time outside all spans
                "build": t["build_ms"] / n, "plan": t["action_plan_ms"] / n,
                "exec": t["action_job_ms"] / n,
                "sched_driver_gap": (t["action_ms"] - t["action_plan_ms"] - t["action_job_ms"]) / n,
                "other": (wall - t["build_ms"] - t["action_ms"]) / n},
        }
        layers.update(engine_layers(t, n, wall))
    detail = {"peak_rss_mb": res["peak_rss_kb"] / 1024, "per_query_ms": per_query,
              "passes": len(passes), "pass_steal_pct": [p["steal_pct"] for p in passes],
              "check_ms": res["check_ms"], "warmup_ms": res["warmup_ms"],
              "hashes": res["hashes"], "problems": problems,
              "engine": res["engine"], "spans": t.get("spans", [])}
    return m, layers, attempted, failed, detail


def engine_layers(t, n, wall_ms):
    """Engine-level per-layer metrics from an EngineTrace result, divided
    by `n` (timed passes; 1 for a stream run)."""
    return {
        "codegen.compiles": t["codegen_compiles"] / n,
        "codegen.compile_ms": t["codegen_compile_ms"] / n,
        "sched.jobs": t["jobs"] / n, "sched.stages": t["stages"] / n,
        "sched.tasks": t["tasks"] / n, "sched.idle_core_ms": t["idle_core_ms"] / n,
        "sched.failed_tasks": t["failed_tasks"],
        "exec.task_ms": t["task_ms"] / n, "exec.cpu_ms": t["cpu_ms"] / n,
        "exec.gc_ms": t["gc_ms"] / n, "exec.crit_task_ms": t["crit_task_ms"] / n,
        "exec.busy_ratio": t["task_ms"] / (wall_ms * t["cores"]) if wall_ms else 0.0,
        "exec.peak_mem_bytes": t["peak_mem_bytes"],
        "shuffle.write_bytes": t["shuffle_write_bytes"] / n,
        "shuffle.read_bytes": t["shuffle_read_bytes"] / n,
        "spill.disk_bytes": t["spill_disk_bytes"] / n,
    }


# ---- streaming workload -----------------------------------------------------

def stream_args(seed, live_seconds, catchup_only):
    sizes = dict(STREAM, **(REFERENCE_BACKLOG if catchup_only else {}))
    return argparse.Namespace(seed=seed, live_seconds=live_seconds,
                              catchup_only=catchup_only, **sizes)


def gen_cli(ns, work, cmd):
    c = [sys.executable, os.path.join(HERE, "gen_stream.py"), cmd,
         "--work", work, "--seed", str(ns.seed),
         "--live-seconds", str(ns.live_seconds)]
    for k in STREAM:
        c += ["--" + k.replace("_", "-"), str(getattr(ns, k))]
    if ns.catchup_only:
        c.append("--catchup-only")
    return c


def read_log_dir(d):
    """Entries of a Spark metadata log dir (N and N.compact files), as
    (batch id of the file, entry) pairs."""
    out = []
    for p in glob.glob(os.path.join(d, "*")):
        base = os.path.basename(p).split(".")[0]
        if not base.isdigit():
            continue
        with open(p) as f:
            for line in f.read().splitlines()[1:]:
                if line.strip():
                    out.append((int(base), json.loads(line)))
    return out


def commit_ms(ckpt):
    out = {}
    for p in glob.glob(os.path.join(ckpt, "commits", "*")):
        b = os.path.basename(p)
        if b.isdigit():
            out[int(b)] = os.stat(p).st_mtime_ns / 1e6
    return out


def file_batches(ckpt):
    """Source file name -> micro-batch id that read it."""
    out = {}
    for _, e in read_log_dir(os.path.join(ckpt, "sources", "0")):
        out[os.path.basename(e["path"])] = e["batchId"]
    return out


def parse_wm(s):
    """Epoch seconds of a progress watermark ("2024-01-01T01:30:00.000Z")."""
    return calendar.timegm(time.strptime(s[:19], "%Y-%m-%dT%H:%M:%S")) if s else 0


def run_stream_engine(classes, work, ns, trace, cores, deadline):
    """Stage the inputs, run engine and generator, return (engine result,
    generator report, events)."""
    os.makedirs(work, exist_ok=True)
    r = subprocess.run(gen_cli(ns, work, "stage"), timeout=max(1, deadline - time.time()))
    if r.returncode != 0:
        raise BenchError("generator staging failed")
    per_drop, n_drops, total = gen_stream.sizes(ns)
    ev = gen_stream.make_events(ns)
    valid = ev["invalid_kind"] == 0
    warm = sorted(os.listdir(os.path.join(work, "stage")))[:WARMUP_FILES]
    for i in range(1, STREAM_SETUP_REPS):
        d = os.path.join(work, f"setup{i}", "in")
        os.makedirs(d)
        for name in warm if i == 1 else []:
            os.link(os.path.join(work, "stage", name), os.path.join(d, name))
    out = os.path.join(work, "engine.json")
    proc = gen = None
    try:
        proc, logf = start_engine(classes, "stream", {
            "work": work, "setup-reps": STREAM_SETUP_REPS, "max-files": MAX_FILES_PER_TRIGGER,
            "backlog-events": ns.backlog_events, "total-events": total,
            "backlog-valid": int(valid[:ns.backlog_events].sum()),
            "total-valid": int(valid.sum()),
            "mode": "catchup" if ns.catchup_only else "full",
            "timeout-s": max(10, int(deadline - time.time() - 15)),
            "trace": trace, "cores": cores, "out": out}, work, cores)
        gen = subprocess.Popen(gen_cli(ns, work, "run"))
        res = wait_engine(proc, logf, out, deadline - time.time())
        gen.wait(timeout=max(1, deadline - time.time()))
    finally:
        stop(proc)
        stop(gen)
    with open(os.path.join(work, "gen_report.json")) as f:
        rep = json.load(f)
    return res, rep, ev


def read_sink(d):
    """(event index, scheduled creation ms, micro-batch id) of every row
    in a dual-sink output dir, as numpy arrays."""
    import numpy as np
    import pyarrow.compute as pc
    import pyarrow.dataset as ds
    if not os.path.isdir(d):
        return np.zeros(0, np.int64), np.zeros(0), np.zeros(0, np.int64)
    t = ds.dataset(d, format="parquet", partitioning="hive").to_table(
        columns=["reference_id", "metadata", "micro_batch_id"])
    ref = pc.cast(pc.utf8_slice_codeunits(t.column("reference_id"), 1), "int64")
    created = pc.cast(pc.map_lookup(t.column("metadata"), "created_ms", "first"), "float64")
    return (ref.to_numpy(), created.to_numpy(zero_copy_only=False),
            pc.cast(t.column("micro_batch_id"), "int64").to_numpy())


def read_agg(d):
    """Windows emitted by the file sink (only files its log committed):
    (window start s, account, count, total, micro-batch that wrote it)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    first = {}
    for b, e in read_log_dir(os.path.join(d, "_spark_metadata")):
        if e.get("action", "add") == "add":
            name = os.path.basename(e["path"])
            first[name] = min(b, first.get(name, b))
    if not first:
        return (np.zeros(0, np.int64),) * 3 + (np.zeros(0), np.zeros(0, np.int64))
    parts, batches = [], []
    for name, b in first.items():
        t = pq.read_table(os.path.join(d, name),
                          columns=["window_start", "account_id", "transaction_count",
                                   "total_amount"])
        parts.append(t)
        batches.append(np.full(t.num_rows, b, np.int64))
    t = pa.concat_tables(parts)
    ws = pc.cast(pc.cast(t.column("window_start"), pa.timestamp("s")), "int64").to_numpy()
    acct = pc.cast(pc.utf8_slice_codeunits(t.column("account_id"), 3), "int64").to_numpy()
    return (ws, acct, t.column("transaction_count").to_numpy(),
            t.column("total_amount").to_numpy(), np.concatenate(batches))


def commit_array(ckpt):
    """commit time (ms) indexed by micro-batch id; NaN where uncommitted."""
    import numpy as np
    c = commit_ms(ckpt)
    arr = np.full(max(c) + 1 if c else 1, np.nan)
    for b, t in c.items():
        arr[b] = t
    return arr


def check_stream(work, res, rep, ev, ns):
    """Correctness and end-to-end metrics of one stream run."""
    import numpy as np
    n, nb = ev["n"], ev["backlog"]
    invalid = ev["invalid_kind"] > 0
    m_ref, m_created, m_batch = read_sink(os.path.join(work, "main"))
    d_ref, d_created, d_batch = read_sink(os.path.join(work, "dead"))
    problems = {}
    counts = np.bincount(np.concatenate([m_ref, d_ref]), minlength=n)[:n]
    lost, dup = int((counts == 0).sum()), int((counts > 1).sum())
    misrouted = int(invalid[m_ref].sum()) + int((~invalid[d_ref]).sum())
    if lost or dup or misrouted:
        problems["events"] = dict(lost=lost, duplicated=dup, misrouted=misrouted)
    failed = lost + dup + misrouted

    # closed windows against the benchmark's own aggregation over the
    # valid, non-late events
    wm = max([parse_wm(p.get("watermark")) for p in res["progress"]
              if p["query"] == res["queries"]["agg"]] + [0])
    keep = (~invalid) & (~ev["late"])
    key = (ev["event_time"][keep] // 3600) * 3600 * 10_000_000 + ev["account"][keep]
    uk, inv = np.unique(key, return_inverse=True)
    cnt = np.bincount(inv)
    tot = np.bincount(inv, weights=ev["amount"][keep])
    closed = (uk // 10_000_000) + 3600 <= wm
    uk, cnt, tot = uk[closed], cnt[closed], tot[closed]
    ws, acct, got_cnt, got_tot, got_batch = read_agg(os.path.join(work, "agg"))
    gk = ws * 10_000_000 + acct
    pos = np.clip(np.searchsorted(uk, gk), 0, max(0, len(uk) - 1))
    hit = (len(uk) > 0) & (uk[pos] == gk) if len(uk) else np.zeros(len(gk), bool)
    ok = hit & (cnt[pos] == got_cnt) & (np.abs(tot[pos] - got_tot) <=
                                        1e-6 * np.maximum(1.0, np.abs(got_tot)))
    uniq = np.unique(gk)
    extra_or_wrong = int((~ok).sum()) + (len(gk) - len(uniq))
    missing = len(uk) - int(np.isin(uk, uniq).sum())
    if extra_or_wrong or missing:
        problems["windows"] = dict(wrong_or_extra=extra_or_wrong, missing=missing,
                                   expected=len(uk), watermark=wm)
    failed += extra_or_wrong + missing
    attempted = n + len(uk)

    # catch-up, latencies and window emission, from sink rows and the
    # checkpoint commit times
    ck_dual, ck_agg = os.path.join(work, "ckpt_dual"), os.path.join(work, "ckpt_agg")
    commits = {"dual": commit_array(ck_dual), "agg": commit_array(ck_agg)}
    fb = {"dual": file_batches(ck_dual), "agg": file_batches(ck_agg)}
    end = []
    for q in ("dual", "agg"):
        bs = [b for f, b in fb[q].items() if f.startswith("b")]
        if bs and max(bs) < len(commits[q]):
            end.append(commits[q][max(bs)])
    catchup_s = (max(end) - rep["backlog_drop_ms"]) / 1000 if len(end) == 2 else float("nan")
    ref = np.concatenate([m_ref, d_ref])
    created = np.concatenate([m_created, d_created])
    batch = np.concatenate([m_batch, d_batch])
    live = (ref >= nb) & (batch < len(commits["dual"]))
    lat = commits["dual"][batch[live]] - created[live]
    lat = lat[~np.isnan(lat)].tolist()
    # window emission: from the scheduled drop of the first event whose
    # running-max event time puts the watermark past the window end, to
    # the commit of the batch that emitted the window
    # (the backlog drop for windows closed by backlog events; these count
    # only when there is no live phase, as in the reference drain)
    emit = []
    run_max = np.maximum.accumulate(ev["event_time"])
    for w_start in np.unique(ws):
        i = int(np.searchsorted(run_max - 1800, w_start + 3600))
        b = int(got_batch[ws == w_start].min())
        if i >= n or b >= len(commits["agg"]):
            continue
        if i >= nb and "live_start_ms" in rep:
            due = rep["live_start_ms"] + ((i - nb) // ev["per_drop"]) * ns.drop_ms
        elif i < nb and "live_start_ms" not in rep:
            due = rep["backlog_drop_ms"]
        else:
            continue
        emit.append(float(commits["agg"][b] - due))
    m = {
        "setup_s": median([s["session_ms"] + s["source_ms"] + s["start_ms"]
                           for s in res["setup"]]) / 1000,
        "pass_s": catchup_s,
        "latency_p50_ms": percentile(lat, 50),
        "latency_p95_ms": percentile(lat, 95),
        "latency_geomean_ms": geomean(lat),
        "heap_live_mb": res["live_heap_mb"],
    }
    if res["errors"]:
        problems["engine"] = res["errors"]
        failed += len(res["errors"])
    detail = {"peak_rss_mb": res["peak_rss_kb"] / 1024,
              "catchup_eps": nb / catchup_s if catchup_s > 0 else float("nan"),
              "latency_samples": len(lat), "window_emit_ms": sorted(emit),
              "windows_checked": len(uk), "watermark": wm, "problems": problems,
              "heap_caughtup_mb": res["live_heap_caughtup_mb"],
              "heap_end_mb": res["live_heap_end_mb"], "engine": res["engine"]}
    return m, attempted, failed, detail, fb


def stream_layers(work, res, rep, ev, fb, detail):
    prog = res["progress"]
    dur = lambda k: [p["duration_ms"].get(k, 0) for p in prog]  # noqa: E731
    agg = [p for p in prog if p["query"] == res["queries"]["agg"]]
    data = [p for p in prog if p["rows"] > 0]
    files_per_batch = {}
    for query, batches in fb.items():
        for b in batches.values():
            files_per_batch[(query, b)] = files_per_batch.get((query, b), 0) + 1
    sink_files = [p for d in ("main", "dead", "agg")
                  for p in glob.glob(os.path.join(work, d, "**", "*.parquet"), recursive=True)]
    parts = sum(sum(dur(k)) for k in DURATION_PARTS)
    trig = sum(dur("triggerExecution"))
    setup = res["setup"]
    lags = rep.get("lag_ms", [0.0])
    return {
        "sessions.build_ms": median([s["session_ms"] for s in setup]),
        "tables.first_read_ms": median([s["source_ms"] for s in setup]),
        "build.ms": median([s["start_ms"] for s in setup]), "build.jobs": 0,
        "query.timeouts": 0,
        "source.latest_offset_ms": mean(dur("latestOffset")),
        "source.get_batch_ms": mean(dur("getBatch")),
        "source.files_per_trigger": mean(list(files_per_batch.values())),
        "trigger.count": len(prog),
        "trigger.rows_mean": mean([p["rows"] for p in data]),
        "trigger.planning_ms": mean(dur("queryPlanning")),
        "sink.add_batch_ms": mean(dur("addBatch")),
        "sink.files": len(sink_files),
        "sink.bytes_per_event": sum(os.path.getsize(p) for p in sink_files) / ev["n"],
        "wal.commit_ms": mean([a + b for a, b in zip(dur("walCommit"), dur("commitOffsets"))]),
        "state.rows": max([p["state_rows"] for p in agg] + [0]),
        "state.mem_bytes": max([p["state_mem_bytes"] for p in agg] + [0]),
        "state.update_ms": mean([p["state_update_ms"] for p in agg]),
        "state.commit_ms": mean([p["state_commit_ms"] for p in agg]),
        "state.late_dropped": sum(p["late_dropped"] for p in agg),
        "state.window_emit_p50_ms": percentile(detail["window_emit_ms"], 50)
        if detail["window_emit_ms"] else float("nan"),
        "gen.lag_p99_ms": percentile(lags, 99),
        "sched.driver_gap_ms": (trig - parts) / max(1, len(prog)),
        "trace.coverage": parts / trig if trig else 0.0,
    }


def run_stream(classes, work, a, cores, deadline, catchup_only=False, trace=None):
    ns = stream_args(a.seed, a.seconds, catchup_only)
    trace = a.trace if trace is None else trace
    res, rep, ev = run_stream_engine(classes, work, ns, trace, cores, deadline)
    m, attempted, failed, detail, fb = check_stream(work, res, rep, ev, ns)
    layers = {}
    if trace:
        layers = stream_layers(work, res, rep, ev, fb, detail)
        t = res["trace"]
        layers.update(engine_layers(t, 1, t["wall_ms"]))
        layers.update({"plan.optimizer_ms": t["optimizer_ms"],
                       "plan.physical_ms": t["physical_ms"]})
        detail["spans"] = t.get("spans", [])
    return m, layers, attempted, failed, detail


# ---- main -------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser(description="Repository benchmark (see perfbench/README.md)")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()
    deadline = t_start + 170
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        raise BenchError("run from the repository root: src/main/scala not found")
    classes = build(root)
    deadline = max(deadline, time.time() + 150)   # the first run builds
    cores = os.cpu_count() or 1
    name = a.workload + ("-trace" if a.trace else "")
    work = os.path.join(root, ".bench_build", "perfbench", "runs", name)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cpu0, steal0 = cpu_times()
    if a.workload == "txn_stream":
        m, layers, attempted, failed, detail = run_stream(classes, work, a, cores, deadline)
    else:
        m, layers, attempted, failed, detail = run_batch(
            classes, work, ETL_QUERIES, a, cores, deadline)
    if a.trace:
        # single-threaded reference: a backlog drained at local[1]; it also
        # fills the stream layers on the batch workload
        ref_work = os.path.join(work, "ref1")
        _, rl, _, rfailed, rdetail = run_stream(
            classes, ref_work, a, 1, time.time() + 120, catchup_only=True, trace=1)
        if rfailed:
            failed += rfailed
            detail.setdefault("problems", {})["reference"] = rdetail["problems"]
        layers["scale.catchup_eps_1core"] = rdetail["catchup_eps"]
        if a.workload != "txn_stream":
            for k, v in rl.items():
                if k.split(".")[0] in ("source", "trigger", "sink", "wal", "state", "gen"):
                    layers[k] = v
        shutil.rmtree(ref_work, ignore_errors=True)
    cpu1, steal1 = cpu_times()
    steal_pct = 100.0 * (steal1 - steal0) / max(1, cpu1 - cpu0)
    layers["host.steal_pct"] = steal_pct
    engine = detail.get("engine", {})
    host = {"nproc": cores, "mem_total_kb": mem_total_kb(), "heap_gb": heap_gb(),
            "spark": engine.get("spark_version"), "jdk": engine.get("java_version"),
            "steal_pct": steal_pct, "steal_limit_pct": STEAL_LIMIT_PCT,
            "comparable": steal_pct <= STEAL_LIMIT_PCT}
    if not host["comparable"]:
        log(f"host steal {steal_pct:.1f}% over the {STEAL_LIMIT_PCT}% limit: "
            "this run is not comparable")
    for d in ("main", "dead", "agg", "in", "stage", "live", "gen_tmp", "tmp") + tuple(
            f"data{i}" for i in range(SETUP_REPS)) + tuple(
            f"setup{i}" for i in range(1, STREAM_SETUP_REPS)):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    chosen = PER_LAYER if a.trace else END_TO_END
    values = layers if a.trace else m
    missing = [k for k in chosen if not isinstance(values.get(k), (int, float))
               or math.isnan(values[k])]
    if missing:
        raise BenchError(f"metrics not measured: {missing}")
    metrics = {k: {"value": values[k], "unit": u} for k, u in chosen.items()}
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": metrics}
    record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
              "trace": a.trace, "wall_s": time.time() - t_start, "host": host,
              "end_to_end": m, "per_layer": layers,
              "fail_ratio": failed / max(1, attempted),
              "detail": {k: v for k, v in detail.items() if k != "spans"}}
    with open(os.path.join(work, "record.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    if a.trace:
        with open(os.path.join(work, "spans.json"), "w") as f:
            json.dump(detail.get("spans", []), f)
    if failed:
        log("correctness problems:", json.dumps(detail.get("problems", {}))[:2000])
    print(json.dumps(result))


if __name__ == "__main__":
    try:
        main()
    except BenchError as e:
        log("error:", e)
        sys.exit(1)
