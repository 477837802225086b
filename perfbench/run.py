#!/usr/bin/env python3
"""Run one benchmark workload against the engine and print one JSON line.

    python3 perfbench/run.py --workload reads --seed 1 --seconds 5 --trace 0

Run from the repository root. The first run in a checkout builds the
engine and the driver with sbt (perfbench/build.sbt). Each run then:
generates its inputs from the seed, starts one JVM with
`local[nproc]` and one client thread, sets up twice (reporting the
median), makes two warm passes, measures for `--seconds`, checks
every result, and deletes its run root. With `--trace 1` it also
records spans and per-layer counters and writes them to
`.bench_build/traces/`. See perfbench/README.md.
"""
import argparse
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
BUILD = os.path.join(REPO, ".bench_build")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics as M  # noqa: E402

SCALE = 0.03
ORDER_LEN = 4000
T_START = time.monotonic()
DEADLINE_S = 170

# The `reads` mix: (entry, engine module, kind). "routed" entries read
# materialized views through the routing rule (their MV build is memoized
# per session and lands in set-up); "raw" entries are ones no MV answers,
# so the rule runs but never matches.
READS = [
    ("q144_revenue_segment_routed", "ops.StarJoins", "routed"),
    ("q176_advised_orders", "plans.Advisor", "routed"),
    ("q184_uniq_sketch_routed", "ops.Rollups", "routed"),
    ("q16_revenue_segment", "ops.StarJoins", "raw"),
    ("q41_topk_per_group", "ops.Windows", "raw"),
    ("q27_ngram_jaccard", "llm.Dedup", "raw"),
    ("q221_window_funnel", "ops.Behavior", "raw"),
]
# entries whose first call in a session builds state: the routed ones
# build their MV, q27 the session's shingle index
STATEFUL = [n for n, _, k in READS if k == "routed"] + ["q27_ngram_jaccard"]
TAGS = ["ops.Rollups", "ops.StarJoins", "ops.Windows", "ops.Behavior", "plans.Advisor",
        "llm.Dedup"]

# ingest: the deliveries (their schedule is in Main.scala)
DELIVERIES = 20           # 36 hours of events each (the events span 30 days)
LATENESS_US = 2 * 3600 * 1_000_000

FINAL_READS = 3           # the other MVs' routed reads checked at the end

# job-description labels the engine and Spark put on maintenance jobs
PHASES = ["mjr_fact_preagg_prune", "mjr_partials_build", "mjr_append",
          "compact", "stream_batch", "unlabeled"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sh_out(cmd, **kw):
    return subprocess.run(cmd, capture_output=True, text=True, **kw)


def run_group(cmd, cwd, out, err, timeout, env=None):
    """Run `cmd` in its own process group and wait for it; on timeout kill
    the whole group (sbt starts a JVM under a shell script) and return
    None."""
    proc = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=err, env=env,
                            start_new_session=True)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None


def build():
    """Compile the engine and the driver once per checkout; returns the
    driver's runtime classpath."""
    cp_file = os.path.join(BUILD, "perfbench.classpath")
    if os.path.exists(cp_file):
        return open(cp_file).read().strip()
    if not (os.path.isfile(os.path.join(REPO, "build.sbt"))
            and os.path.isdir(os.path.join(REPO, "src", "main", "scala"))):
        die("engine sources (build.sbt, src/main/scala) not found beside perfbench/")
    os.makedirs(BUILD, exist_ok=True)
    out_path = os.path.join(BUILD, "build.out")
    with open(os.path.join(BUILD, "build.log"), "w") as log, open(out_path, "w") as out:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "export Runtime/fullClasspath"], HERE, out, log, 850)
    lines = [ln.strip() for ln in open(out_path) if ln.strip()]
    if rc != 0 or not lines or "perfbench" not in lines[-1]:
        die(f"build failed (see {BUILD}/build.log)")
    with open(cp_file + ".tmp", "w") as f:
        f.write(lines[-1])
    os.replace(cp_file + ".tmp", cp_file)
    return lines[-1]


def dir_bytes(path):
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def file_count(path):
    return sum(len(fs) for _, _, fs in os.walk(path))


def git_rev():
    try:
        p = sh_out(["git", "rev-parse", "--short", "HEAD"], cwd=REPO)
        if p.returncode == 0:
            return p.stdout.strip()
    except OSError:
        pass
    return "unknown"


def source_digest():
    """Short sha256 over the engine's and the benchmark's sources, to
    identify the code a result came from when no git history is present."""
    import hashlib
    h = hashlib.sha256()
    for top in ("build.sbt", "src/main", "perfbench"):
        base = os.path.join(REPO, top)
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base)
            if "target" not in d.split(os.sep) and "__pycache__" not in d
            for f in fs)
        for path in paths:
            h.update(os.path.relpath(path, REPO).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:12]


def machine():
    mem = 0
    with open("/proc/meminfo") as f:
        for ln in f:
            if ln.startswith("MemTotal:"):
                mem = int(ln.split()[1]) // 1024
    jv = sh_out(["java", "-version"]).stderr.splitlines()
    return {"nproc": os.cpu_count(), "mem_total_mb": mem,
            "jvm": jv[0] if jv else "unknown"}


# ——— inputs ———

def prepare_read(root, seed, workload):
    data = os.path.join(root, "data")
    gen.write_tables(seed, SCALE, data)
    names = [n for n, _, _ in READS]
    order = M.op_order(seed, names, ORDER_LEN)
    with open(os.path.join(root, "order.txt"), "w") as f:
        f.write("\n".join(order) + "\n")
    return data


def prepare_ingest(root, seed):
    """Dims for the join MV, and the staged deliveries with a manifest
    (id, events rows, lineitem rows, max event ts in µs, bytes)."""
    import numpy as np
    import pyarrow as pa
    data = os.path.join(root, "data")
    stage = os.path.join(root, "stage")
    os.makedirs(data)
    t, ev, ev_slices, li_slices = gen.deliveries(
        seed, SCALE, DELIVERIES, gen.sizes(SCALE)["events"] // DELIVERIES,
        LATENESS_US)
    gen.write(os.path.join(data, "orders.parquet"), t["orders"])
    gen.write(os.path.join(data, "customer.parquet"), t["customer"])
    rows = []
    for i in range(DELIVERIES):
        d = os.path.join(stage, f"d{i:04d}")
        os.makedirs(d)
        e = ev.take(pa.array(ev_slices[i], pa.int64()))
        gen.write(os.path.join(d, "events.parquet"), e)
        gen.write_delivery(os.path.join(d, "lineitem.parquet"), t["lineitem"], li_slices[i])
        # the day-partitioned copy the TTL job ages out (UTC timestamps,
        # as a lake written by the engine itself stores them)
        ts = e.column("ts").to_numpy().astype("datetime64[us]")
        days = ts.astype("datetime64[D]")
        e_utc = e.set_column(1, "ts", pa.array(ts, pa.timestamp("us", tz="UTC")))
        for day in np.unique(days):
            sel = np.nonzero(days == day)[0]
            pdir = os.path.join(d, "ttl", f"day={day}")
            os.makedirs(pdir)
            gen.write(os.path.join(pdir, "part.parquet"),
                       e_utc.take(pa.array(sel, pa.int64())))
        mx = int(ts.astype(np.int64).max())
        nbytes = (os.path.getsize(os.path.join(d, "events.parquet"))
                  + os.path.getsize(os.path.join(d, "lineitem.parquet")))
        rows.append(f"{i}\t{e.num_rows}\t{len(li_slices[i])}\t{mx}\t{nbytes}")
    with open(os.path.join(stage, "manifest.tsv"), "w") as f:
        f.write("\n".join(rows) + "\n")
    return data, stage


# ——— the JVM ———

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def run_jvm(cp, root, workload, opts, extra_props=()):
    cpus = os.cpu_count() or 1
    out = os.path.join(root, "result.json")
    props = [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS] + [
        # a fixed heap cap, so that the run does not size its heap from
        # the machine's memory, and a fixed young generation: the
        # collector's adaptive eden sizing otherwise moves the resident
        # set by a sixth from run to run, whatever the program touches
        "-Xmx2g", "-Xmn512m",
        f"-Djava.io.tmpdir={root}/tmp/jvm",
        f"-Dspark.local.dir={root}/spark-local",
        f"-Dspark.sql.warehouse.dir={root}/warehouse",
        f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        *extra_props,
    ]
    for d in ("tmp/jvm", "spark-local"):
        os.makedirs(os.path.join(root, d), exist_ok=True)
    args = [f"{k}={v}" for k, v in {**opts, "cpus": cpus, "out": out,
                                     "root": root, "workload": workload}.items()]
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_LOCAL_DIRS"] = f"{root}/spark-local"
    remaining = DEADLINE_S - (time.monotonic() - T_START)
    with open(os.path.join(root, "jvm.log"), "w") as log:
        rc = run_group(["java", *props, "-cp", cp, "perfbench.Main", workload, *args],
                       root, log, log, max(10, remaining), env)
    if rc is None:
        die("the JVM did not finish in time")
    if rc != 0 or not os.path.exists(out):
        tail = open(os.path.join(root, "jvm.log")).read()[-3000:]
        die(f"the JVM failed (exit {rc}):\n{tail}")
    return json.load(open(out)), cpus


# ——— correctness: set-up results against DuckDB ———

def _norm(v):
    if isinstance(v, float):
        return float(f"{v:.12g}")
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    return v


def oracle_check(root, data):
    """Each set-up result that has an oracle, against DuckDB running
    `SparkEntry.oracleSql` over the same inputs. Returns the names that
    disagree (with a reason)."""
    import duckdb
    odir = os.path.join(root, "oracle")
    sqls = json.load(open(os.path.join(odir, "oracle_sql.json")))
    con = duckdb.connect()
    for f in os.listdir(data):
        con.execute(f"CREATE VIEW {f.removesuffix('.parquet')} AS SELECT * FROM '{data}/{f}'")
    bad = {}
    for name, sql in sqls.items():
        d = os.path.join(odir, name)
        files = sorted(os.path.join(d, f) for f in os.listdir(d)
                       if f.endswith(".parquet")) if os.path.isdir(d) else []
        if not files:
            bad[name] = "no set-up output"
            continue
        try:
            got = con.execute(f"SELECT * FROM read_parquet({files!r})")
            gcols = [d[0] for d in got.description]
            grows = got.fetchall()
            want = con.execute(sql)
            wcols = [d[0] for d in want.description]
            wrows = want.fetchall()
        except Exception as e:  # noqa: BLE001
            bad[name] = f"oracle error: {str(e)[:200]}"
            continue
        if sorted(gcols) != sorted(wcols):
            bad[name] = f"columns {sorted(gcols)} vs {sorted(wcols)}"
            continue
        cols = sorted(gcols)
        gi = [gcols.index(c) for c in cols]
        wi = [wcols.index(c) for c in cols]
        key = lambda r: tuple((x is None, str(type(x)), x) for x in r)  # noqa: E731
        g = sorted((tuple(_norm(r[i]) for i in gi) for r in grows), key=key)
        w = sorted((tuple(_norm(r[i]) for i in wi) for r in wrows), key=key)
        if g != w:
            diff = next((f"row {k}: {a} vs {b}" for k, (a, b) in enumerate(zip(g, w))
                         if a != b), f"{len(g)} vs {len(w)} rows")
            bad[name] = f"mismatch: {diff}"[:300]
    return bad


# ——— metrics ———

def layer_spans(tr, ops):
    """Per measured op: its wall interval and the spans inside it, as
    (layer, start, end, rank) for metrics.layer_partition. Listener spans
    without an op id are attributed to the op whose interval holds them."""
    by_op = {o["id"]: [] for o in ops}
    iv = sorted((o["start"], o["end"], o["id"]) for o in ops)
    starts = [a for a, _, _ in iv]
    import bisect

    def owner(t):
        k = bisect.bisect_right(starts, t) - 1
        if k >= 0 and iv[k][0] <= t <= iv[k][1]:
            return iv[k][2]
        return None
    events = {o["id"]: [] for o in ops}
    streams = {o["id"]: [] for o in ops}
    for s in tr["spans"]:
        op = s["op"] if s["op"] in by_op else owner(s["start"])
        if op is None or s["name"] == "op":
            continue
        if s["name"] == "event.query":
            events[op].append(s["attrs"])
            continue
        if s["name"] == "stream.trigger":
            streams[op].append(s)
        layer, rank = LAYER_OF.get(s["name"].split(".")[0], ("other", 1))
        by_op[op].append((layer, s["start"], s["end"], rank, s))
    return by_op, events, streams


# span name prefix -> (layer, rank); an instant covered by several spans
# belongs to the highest rank (jobs inside a maintainer count as exec)
LAYER_OF = {"construct": ("construct", 1), "sink": ("sink", 1),
            "maintain": ("maintain", 1), "read": ("read", 1),
            "compact": ("lifecycle", 1), "ttl": ("lifecycle", 1),
            "catalyst": ("catalyst", 2), "stream": ("stream", 2),
            "exec": ("exec", 3)}
LAYERS = ["construct", "sink", "maintain", "read", "lifecycle", "catalyst",
          "stream", "exec", "residue"]


def phase_of(desc):
    if desc.startswith("mjr:") and "prune" in desc:
        return "mjr_fact_preagg_prune"
    if desc.startswith("mjr:") and "partials build" in desc:
        return "mjr_partials_build"
    if desc.startswith("mjr:") and "append" in desc:
        return "mjr_append"
    if desc.startswith("compact"):
        return "compact"
    if "runId = " in desc:          # a streaming micro-batch's own label
        return "stream_batch"
    return "unlabeled"


def per_layer(res, ops, workload, cpus, extra):
    """The per-layer metrics of a traced run, and each measured
    operation's wall time split across layers (ms)."""
    tr = res["trace"]
    n = max(1, len(ops))
    wall = sum(o["end"] - o["start"] for o in ops) / 1e3
    window = (res["measure_end"] - res["measure_start"]) / 1e3
    by_op, events, streams = layer_spans(tr, ops)
    ctr = tr["counters"]
    tot = {}
    for o in ops:
        for k, v in ctr.get(o["id"], {}).items():
            tot[k] = tot.get(k, 0.0) + v
    out = {}
    tags = {n: t for n, t, _ in READS}
    kind = {n: k for n, _, k in READS}

    def put(name, value):
        out[name] = float(value)
    # sessions / tables / warm-up
    put("session.start_s", M.median(res["session_start_s"]))
    put("tables.resolve_s", M.median(res["tables_resolve_s"]) if res["tables_resolve_s"] else 0)
    put("setup.cold_s", res["setup_s"][0])
    put("warm.time_s", res["warm_s"])
    fp = res.get("first_pass_s", {})
    put("setup.index_build_s", sum(M.median(v) for k, v in fp.items()
                                   if tags.get(k, "").startswith("llm.")))
    # per-op layer partition (self time by layer; residue reported)
    parts, partition = {}, {}
    routed = routable = 0
    rule_s = 0.0
    scope = []
    driver_gap = 0.0
    for o in ops:
        sp = by_op[o["id"]]
        part = M.layer_partition((o["start"], o["end"]),
                                 [(l, a, b, r) for l, a, b, r, _ in sp])
        partition[o["id"]] = part
        for k, v in part.items():
            parts[k] = parts.get(k, 0.0) + v / 1e3
        jobs = [(a, b) for l, a, b, _, _ in sp if l == "exec"]
        driver_gap += ((o["end"] - o["start"]) - M.union_length(jobs, o["start"], o["end"])) / 1e3
        ev = events[o["id"]]
        rule_s += sum(float(e["rule_s"]) for e in ev)
        if kind.get(o["name"]) == "routed":
            routable += 1
            scanned = [e for e in ev if int(e["scans"]) > 0]
            if scanned and all(int(e["raw_scans"]) == 0 for e in scanned):
                routed += 1
            scope.append((o["construct"] - o["start"]) / 1e3)
    for layer in LAYERS:
        put(f"layer.{layer}_s", parts.get(layer, 0.0) / n)
    put("trace.residue_frac", parts.get("residue", 0.0) / wall if wall else 0)
    put("plans.rule_s", rule_s / n)
    put("plans.scope_s", M.median(scope) if scope else 0)
    put("plans.routed_frac", routed / routable if routable else 0)
    rows_out = sum(o.get("rows", 0) for o in ops) if workload != "ingest" else 0
    put("plans.records_read_per_row_out",
        tot.get("exec.input_records", 0) / rows_out if rows_out else 0)
    cat = {}
    for o in ops:
        for l, a, b, _, s in by_op[o["id"]]:
            if s["name"].startswith("catalyst."):
                cat[s["name"]] = cat.get(s["name"], 0.0) + (b - a) / 1e3
    for ph in ("analysis", "optimization", "planning"):
        put(f"catalyst.{ph}_s", cat.get(f"catalyst.{ph}", 0.0) / n)
    put("codegen.compiles", res["codegen_compiles"])
    put("codegen.compile_s", res["codegen_compile_s"])
    # module tags: construction and execution per engine module
    for tag in TAGS:
        sel = [o for o in ops if tags.get(o["name"]) == tag]
        put(f"{tag}.construct_s", M.median([(o["construct"] - o["start"]) / 1e3 for o in sel]))
        put(f"{tag}.execute_s", M.median([(o["end"] - o["construct"]) / 1e3 for o in sel]))
    # routed vs raw operations of the reads mix
    for k in ("routed", "raw"):
        sel = [o for o in ops if kind.get(o["name"]) == k]
        put(f"{k}.lat_p50_s", M.median([(o["end"] - o["start"]) / 1e3 for o in sel]))
        put(f"{k}.construct_s", M.median([(o["construct"] - o["start"]) / 1e3 for o in sel]))
        put(f"{k}.execute_s", M.median([(o["end"] - o["construct"]) / 1e3 for o in sel]))
        task = sum(ctr.get(o["id"], {}).get("exec.task_s", 0.0) for o in sel)
        busy = sum(o["end"] - o["start"] for o in sel) / 1e3
        put(f"{k}.slot_util", task / (busy * cpus) if busy else 0)
    # Spark execution
    for k in ("exec.jobs", "exec.stages", "exec.tasks", "exec.task_s", "exec.cpu_s",
              "exec.gc_s", "exec.shuffle_read_bytes", "exec.shuffle_write_bytes",
              "exec.spill_bytes", "exec.input_bytes", "exec.input_records"):
        put(k, tot.get(k, 0.0) / n)
    put("exec.driver_gap_s", driver_gap / n)
    put("exec.slot_util", tot.get("exec.task_s", 0.0) / (wall * cpus) if wall else 0)
    # streaming + maintenance (ingest)
    trig = sum(len(streams[o["id"]]) for o in ops)
    rows_in = sum(float(s["attrs"]["rows"]) for o in ops for s in streams[o["id"]])
    add_batch = sum(float(s["attrs"]["add_batch_s"]) for o in ops for s in streams[o["id"]])
    put("stream.triggers", trig / n)
    put("stream.rows_in", rows_in / n)
    put("stream.add_batch_s", add_batch / n)
    put("stream.wal_commit_s", sum(float(s["attrs"]["wal_commit_s"])
                                   for o in ops for s in streams[o["id"]]) / n)
    put("stream.planning_s", sum(float(s["attrs"]["planning_s"])
                                 for o in ops for s in streams[o["id"]]) / n)
    maint = sum((s["end"] - s["start"]) / 1e3 for o in ops for _, _, _, _, s in by_op[o["id"]]
                if s["name"].startswith("maintain."))
    put("stream.machinery_s", (maint - add_batch) / n)
    phase_s = {p: 0.0 for p in PHASES}
    for o in ops:
        for l, a, b, _, s in by_op[o["id"]]:
            if l == "exec" and workload == "ingest":
                phase_s[phase_of(s["attrs"].get("desc", ""))] += (b - a) / 1e3
    for p in PHASES:
        put(f"maintain.phase.{p}_s", phase_s[p] / n)
    put("stream.share", (maint / wall) if wall else 0)
    for k, v in extra.items():
        put(k, v)
    # JVM and the trace itself
    put("jvm.gc_s", res["jvm_gc_s"])
    put("jvm.heap_peak_mb", res["jvm_heap_peak_mb"])
    put("trace.overhead_frac", tr["listener_s"] / window if window else 0)
    return out, partition


def read_metrics(res, root, data, workload, cpus, trace):
    ops = [o for o in res["ops"] if o["phase"] == "measure"]
    bad = oracle_check(root, data)
    setup_bad = [o for o in res["ops"] if o["phase"] != "measure" and not o["ok"]]
    failed = M.count_failures(ops, bad)
    # latency percentiles are of the dashboard (routed) reads: the mix is
    # bimodal, and a median across both kinds sits in the gap between them
    routed = {n for n, _, k in READS if k == "routed"}
    lat = [(o["end"] - o["start"]) / 1e3 for o in ops if o["name"] in routed]
    window = (res["measure_end"] - res["measure_start"]) / 1e3
    tail, pct = M.tail(lat)
    in_bytes = max(1, dir_bytes(data))
    tmp = os.path.join(root, "tmp")
    last = os.path.join(tmp, max(d for d in os.listdir(tmp) if d.startswith("rep")))
    e2e = {
        "setup_s": M.median(res["setup_s"]),
        "lat_p50_s": M.median(lat),
        "lat_tail_s": tail,
        "ops_per_s": len(ops) / window,
        "peak_rss_mb": res["peak_rss_mb"],
    }
    failures = {}
    for o in ops:
        if not o["ok"] or o["name"] in bad:
            failures.setdefault(o["name"], o["err"] or bad.get(o["name"], ""))
    for o in setup_bad:
        failures.setdefault(o["name"], "set-up: " + o["err"])
    for k, v in bad.items():
        failures.setdefault(k, "oracle: " + v)
    info = {"tail_pct": pct, "samples": len(ops), "lat_samples": len(lat), "oracled": len(
        json.load(open(os.path.join(root, "oracle", "oracle_sql.json")))),
        "failures": failures, "setup_samples_s": res["setup_s"],
        "warm_passes_s": res["warm_passes"]}
    extra = {"maintain.busy_s": 0, "maintain.queue_wait_s": 0,
             "maintain.rows_per_busy_s": 0, "gen.late_p90_s": 0,
             "compact.runs": 0, "compact.bytes_rewritten": 0, "compact.time_s": 0, "ttl.runs": 0, "ttl.time_s": 0,
             "rollup.files_max": 0, "checkpoint.files": 0,
             "tmp.leaked_bytes": leaked_bytes(root),
             "storage.stored_bytes_per_input_byte": dir_bytes(last) / in_bytes,
             "storage.written_bytes_per_input_byte": M.median(res["setup_written"]) / in_bytes}
    layers, partition = per_layer(res, ops, workload, cpus, extra) if trace else (None, None)
    attempted = len(ops)
    correct = failed == 0 and not setup_bad and not bad
    return e2e, layers, partition, attempted, failed, correct, info


def leaked_bytes(root):
    """Bytes left in the run's temp dirs by directories the engine
    created with createTempDirectory (a name prefix + random digits)."""
    pat = re.compile(r"^[A-Za-z_]+\d{6,}$")
    total = 0
    tmp = os.path.join(root, "tmp")
    for rep in os.listdir(tmp) if os.path.isdir(tmp) else []:
        for d in os.listdir(os.path.join(tmp, rep)):
            if pat.match(d):
                total += dir_bytes(os.path.join(tmp, rep, d))
    return total


def ingest_metrics(res, root, cpus, trace):
    trig = [o for o in res["ops"] if o["phase"] == "measure"]
    setup_bad = [o for o in res["ops"] if o["phase"] != "measure" and not o["ok"]]
    dl = {d["id"]: d for d in res["deliveries"]}
    # deliveries land in id order; a trigger's read saw the first
    # `rows` of them, so delivery i is reflected by the first trigger
    # whose snapshot holds its landing position
    pos = {d: k for k, d in enumerate(res["landed"])}
    mism = [c for c in res["checks"] if c["mismatches"]]
    bad_ids = {c["op"] for c in mism}
    final_bad = sum(len(c["mismatches"]) for c in mism if c["op"] == "final")
    first = {}
    for i in dl:
        first[i] = next((o for o in trig if o["ok"] and o["rows"] > pos[i]), None)
    lat = [(first[i]["end"] - d["due"]) / 1e3 for i, d in dl.items() if first[i]]
    window = (res["measure_end"] - res["measure_start"]) / 1e3
    # a delivery fails when no read reflected it, or the read that first
    # did disagreed with the raw recompute
    failed = sum(1 for i in dl if first[i] is None or first[i]["id"] in bad_ids)
    tail, pct = M.tail(lat)
    base = res["run_base"]
    landed = set(res["landed"])
    manifest = [ln.split("\t") for ln in open(os.path.join(root, "stage", "manifest.tsv"))
                if ln.strip()]
    delivered_bytes = sum(int(m[4]) for m in manifest if int(m[0]) in landed)
    window_bytes = sum(int(d["bytes"]) for d in res["deliveries"])
    rows = sum(int(d["events_rows"]) + int(d["lineitem_rows"]) for d in res["deliveries"])
    busy = sum(o["busy_s"] for o in trig)
    e2e = {
        "setup_s": M.median(res["setup_s"]),
        "lat_p50_s": M.median(lat),
        "lat_tail_s": tail,
        "ops_per_s": len(lat) / window,
        "peak_rss_mb": res["peak_rss_mb"],
    }
    failures = {}
    for c in mism:
        failures[c["op"]] = "; ".join(c["mismatches"])[:300]
    for o in trig + setup_bad:
        if not o["ok"]:
            failures[o["id"]] = o["err"]
    late = [(d["landed"] - d["due"]) / 1e3 for d in res["deliveries"]]
    waits = [max(0.0, first[i]["start"] - d["landed"]) / 1e3
             for i, d in dl.items() if first[i]]
    spans = res["trace"]["spans"] if trace else []
    compact = [s for s in spans if s["name"] == "compact"
               and any(s["op"] == o["id"] for o in trig)]
    ttl = [s for s in spans if s["name"] == "ttl" and any(s["op"] == o["id"] for o in trig)]
    mv = os.path.join(base, "mv")
    extra = {
        "maintain.busy_s": busy / max(1, len(trig)),
        "maintain.queue_wait_s": M.median(waits) if waits else 0,
        "maintain.rows_per_busy_s": rows / busy if busy else 0,
        "gen.late_p90_s": M.percentile(late, 90) if late else 0,
        "compact.runs": len(compact),
        "compact.bytes_rewritten": sum(o["compact_bytes"] for o in trig),
        "compact.time_s": sum(s["end"] - s["start"] for s in compact) / 1e3,
        "ttl.runs": len(ttl),
        "ttl.time_s": sum(s["end"] - s["start"] for s in ttl) / 1e3,
        "rollup.files_max": max((file_count(os.path.join(mv, d)) for d in os.listdir(mv)),
                                default=0) if os.path.isdir(mv) else 0,
        "checkpoint.files": file_count(os.path.join(base, "ckpt")),
        "tmp.leaked_bytes": leaked_bytes(root),
        "storage.stored_bytes_per_input_byte": (dir_bytes(os.path.join(base, "mv"))
                                                + dir_bytes(os.path.join(base, "lake")))
        / max(1, delivered_bytes),
        "storage.written_bytes_per_input_byte": res["measure_written_bytes"] / max(1, window_bytes),
    }
    layers, partition = per_layer(res, trig, "ingest", cpus, extra) if trace else (None, None)
    failed += final_bad
    correct = failed == 0 and not setup_bad and not mism
    info = {"tail_pct": pct, "samples": len(lat), "triggers": len(trig),
            "reads_checked": len(res["checks"]) - 1 + FINAL_READS,
            "failures": failures, "setup_samples_s": res["setup_s"],
            "warm_passes_s": res["warm_passes"], "rows_per_busy_s": extra["maintain.rows_per_busy_s"],
            "sketch_estimates_within_bound_not_equal": res["sketch_inexact"]}
    return e2e, layers, partition, len(dl) + FINAL_READS, failed, correct, info


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["reads", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    ap.add_argument("--keep", action="store_true", help="keep the run root")
    a = ap.parse_args()
    cp = build()
    root = os.path.join(BUILD, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    try:
        opts = {"seconds": a.seconds, "trace": a.trace}
        if a.workload == "ingest":
            data, stage = prepare_ingest(root, a.seed)
            opts.update(data=data, stage=stage, lateness_us=LATENESS_US)
            res, cpus = run_jvm(cp, root, "ingest", opts,
                                ["-Dspark.sql.extensions=graft.plans.GraftExtensions"])
            e2e, layers, partition, attempted, failed, correct, info = \
                ingest_metrics(res, root, cpus, a.trace == 1)
        else:
            data = prepare_read(root, a.seed, a.workload)
            opts.update(data=data, order=os.path.join(root, "order.txt"),
                        stateful=",".join(STATEFUL))
            res, cpus = run_jvm(cp, root, a.workload, opts)
            e2e, layers, partition, attempted, failed, correct, info = \
                read_metrics(res, root, data, a.workload, cpus, a.trace == 1)
        units = {"setup_s": "s", "lat_p50_s": "s", "lat_tail_s": "s", "ops_per_s": "1/s",
                 "peak_rss_mb": "MB"}
        if a.trace:
            chosen = {k: {"value": v, "unit": layer_unit(k)} for k, v in layers.items()}
            tdir = os.path.join(BUILD, "traces")
            os.makedirs(tdir, exist_ok=True)
            spans = res["trace"]["spans"]
            kids = {}
            for sp in spans:
                kids.setdefault(sp["parent"], []).append((sp["start"], sp["end"]))
            for sp in spans:
                sp["self_s"] = M.self_time((sp["start"], sp["end"]), kids.get(sp["id"], [])) / 1e3
            with open(os.path.join(tdir, f"{a.workload}-s{a.seed}.json"), "w") as f:
                json.dump({"spans": spans, "counters": res["trace"]["counters"],
                           "layer_partition_s_per_op": {
                               k: {l: v / 1e3 for l, v in p.items()} for k, p in partition.items()},
                           "per_layer": layers}, f)
        else:
            chosen = {k: {"value": v, "unit": units[k]} for k, v in e2e.items()}
        record = {
            "correct": bool(correct), "attempted": int(attempted), "failed": int(failed),
            "metrics": chosen,
            "stamp": {**machine(), "spark": res["spark_version"], "scale": SCALE,
                      "seed": a.seed, "git_rev": git_rev(),
                      "source_digest": source_digest(), "workload": a.workload,
                      "trace": a.trace, "cpus_used": cpus, "clients": 1},
            "info": {**info, "failed_frac": M.failed_frac(attempted, failed)},
        }
    finally:
        if not a.keep:
            shutil.rmtree(root, ignore_errors=True)
    out = {k: record[k] for k in ("correct", "attempted", "failed", "metrics")}
    print(json.dumps({"record": record}, sort_keys=True))
    print(json.dumps(out, sort_keys=True))
    sys.exit(0 if record["correct"] else 1)


def layer_unit(name):
    if name.endswith("rows_per_busy_s"):
        return "rows/s"
    if name.endswith(("_frac", "_util", ".share", "_per_row_out", "_per_input_byte")):
        return "ratio"
    if name.endswith("_s"):
        return "s"
    if "bytes" in name:
        return "bytes"
    if name.endswith("_mb"):
        return "MB"
    return "count"


if __name__ == "__main__":
    main()
