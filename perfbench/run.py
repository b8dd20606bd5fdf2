"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
                             [--size default|tiny] [--write-golden]

Run from the root of a checkout. Builds the program and the harness from
source on first use (cached under .bench_build, keyed by a hash of the
sources), generates the workload's inputs from the seed, runs one JVM that
sets up, measures for the given seconds and collects outputs, checks those
outputs, and prints two JSON lines: a detail record (contention fields,
sample counts, check results) and, last, the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 they are its per-layer metrics, from a run in which every
timed op is traced. The tracing overhead compares each traced op with the
same op of the untraced run of the same seed: an untraced run records its
op latencies under .bench_build/untraced, and a traced run that finds no
record for its seed makes an untraced pass first.
"""

import argparse
import fcntl
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from collections import defaultdict
from decimal import ROUND_HALF_UP, Decimal

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402

WORKLOADS = ("etl_daily", "analyst_mix")
DEFAULT_SEED = 1
# untimed warm-up ops per run, part of set-up
WARMUPS = 1
# every JVM pass of a run must end this long after the build is done
RUN_LIMIT_S = 165
ANALYST_CLIENTS = 2
# fastest op seen on 4 cores, so the generator writes enough fresh inputs
MIN_OP_S = {"etl_daily": 2.0, "analyst_mix": 1.0}
# Spark's own modules need these when a session is created outside spark-submit
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
# the query mix, as copies per block of 19: the two business questions carry
# the most; each run executes a seeded shuffle of these blocks, so every run
# sees the same mix in a different order
QUERY_BLOCK = {
    "customer_monthly": 5, "sales_incentive": 5,
    "pricing_rollup": 1, "window_showcase": 1, "top_order_per_customer": 1,
    "conversion_funnel": 1, "retention_cohorts": 1, "sessionize": 1,
    "quantile_table": 1, "z_ordered_parts": 1, "minhash_signatures": 1,
}
FAMILY_METRIC = {"relational": "ops.relational_p50_s", "events": "ops.events_p50_s",
                 "statistics": "ops.statistics_p50_s", "functions": "functions.p50_s"}
STREAM_DRAINS = {"stream_rollup_drain": "streaming.rollup_drain_s",
                 "stream_upsert_drain": "streaming.upsert_drain_s"}


def cpu_times():
    """Aggregate (busy, steal, total) jiffies of this machine from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    idle = v[3] + v[4]
    steal = v[7] if len(v) > 7 else 0
    return sum(v) - idle, steal, sum(v)


def shares(a, b):
    busy, steal, total = (y - x for x, y in zip(a, b))
    return (busy / total, steal / total) if total else (0.0, 0.0)


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---------------------------------------------------------------------- build

def source_hash(root):
    h = hashlib.sha256()
    for base in ("src/main", "build.sbt", "perfbench/src", "perfbench/build.sbt",
                 "perfbench/project/build.properties"):
        p = os.path.join(root, base)
        paths = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in paths:
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root, out):
    """Compile once per source state; returns the runtime classpath and the
    hash of the sources it was built from."""
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp = os.path.join(out, "classpath.json")
        digest = source_hash(root)
        if os.path.exists(stamp):
            with open(stamp) as f:
                cached = json.load(f)
            if cached.get("hash") == digest:
                return cached["classpath"], digest
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        home = os.path.expanduser("~")
        offline = " ".join([
            "-Dsbt.override.build.repos=true",
            f"-Dsbt.repository.config={home}/.sbt/repositories",
            "-Dsbt.offline=true", "-Xmx2g"])
        # sbt's own state, sockets and temp files stay inside the checkout
        tmp = os.path.join(out, "tmp")
        os.makedirs(tmp, exist_ok=True)
        env["SBT_OPTS"] = " ".join([
            env.get("SBT_OPTS", offline),
            f"-Dsbt.global.base={out}/sbt-global",
            f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}"])
        env["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
        proc = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "export Compile/fullClasspath"],
            cwd=os.path.join(root, "perfbench"), env=env, stdin=subprocess.DEVNULL,
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=840)
        lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
        # the last line of a successful export is the classpath itself
        if proc.returncode != 0 or not lines or lines[-1].startswith("["):
            sys.stderr.write(proc.stdout[-4000:])
            fail("build failed")
        classpath = lines[-1].strip()
        with open(stamp, "w") as f:
            json.dump({"hash": digest, "classpath": classpath}, f)
        return classpath, digest


# ----------------------------------------------------------------- statistics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """The highest percentile with at least ten samples beyond it."""
    n = len(xs)
    if n < 20:
        return None, None
    pct = int(100 * (1 - 10 / n))
    s = sorted(xs)
    return pct, s[min(n - 1, int(n * pct / 100))]


def dur(rec):
    return (rec["t1"] - rec["t0"]) / 1e3


def q4(x):
    return Decimal(str(x)).quantize(Decimal("0.0001"), rounding=ROUND_HALF_UP)


def q2(x):
    return Decimal(str(x)).quantize(Decimal("0.01"), rounding=ROUND_HALF_UP)


# ------------------------------------------------------------ per workload

def plan_etl(facts, seed):
    return {"sf_dir": facts["sf_dir"], "drops": [d["dir"] for d in facts["drops"]],
            "ledger_history": facts["ledger_history"],
            "event_files": facts["event_files"], "stream_src": facts["stream_src"]}


def check_etl(facts, res, golden):
    drops = facts["drops"]
    failed = []
    # what the drains must hold after drop k: the watermark-finalized hourly
    # windows over event files 0..k and each user's latest event in them
    rollup = defaultdict(lambda: [0, 0])
    latest = {}
    max_ts = 0
    upto = -1
    for op in res["ops"]:
        d = drops[op["drop"]] if "drop" in op else None
        bad = not op["ok"] or d is None
        if not bad:
            inj = d["injected"]
            bad = (op["wrong_type"], op["bad_schema"], op["empty"], op["replayed"]) != (
                inj["wrong_type"], inj["bad_schema"], inj["empty"], inj["replayed"])
            got = {f"{c}|{m}": q4(v) for c, m, v in op["readback"]}
            bad = bad or got != d["expected"]
            while upto < op["drop"]:
                upto += 1
                ev = drops[upto]["events"]
                for key, (n, cents) in ev["rollup"].items():
                    rollup[key][0] += n
                    rollup[key][1] += cents
                for u, tv in ev["latest"].items():
                    if u not in latest or tv > latest[u]:
                        latest[u] = tv
                max_ts = max(max_ts, ev["max_ts_ms"])
            horizon_s = (max_ts - 2 * 3_600_000) // 1000
            want = {f"{h}|{t}": (n, Decimal(c) / 100) for (h, t), (n, c) in rollup.items()
                    if h + 3600 <= horizon_s}
            got = {f"{h}|{t}": (n, q2(v)) for h, t, n, v in op["rollup"]}
            bad = bad or len(got) != len(op["rollup"]) or got != want
            bad = bad or sorted(map(tuple, op["latest"])) != sorted(
                (u, tv[1]) for u, tv in latest.items())
        failed.append(bad)
    return failed, {}


def plan_analyst(facts, seed):
    rng = gen.rng_for(seed, "analyst_mix", "sequence")
    block = [n for n, c in sorted(QUERY_BLOCK.items()) for _ in range(c)]
    seq = []
    while len(seq) < 3000:
        seq += list(rng.permutation(block))
    warm = list(gen.rng_for(seed, "analyst_mix", "warmup").permutation(block))
    return {"sf_dir": facts["sf_dir"], "sequence": seq, "clients": ANALYST_CLIENTS,
            "warmup_block": warm}


def check_analyst(facts, res, golden):
    checks = res["checks"]
    bad_query = set()
    for name, c in checks.items():
        if golden is not None and golden.get(name) != c["fingerprint"]:
            bad_query.add(name)
    # exact recomputation of the two business questions
    cm = {}
    for row in checks["customer_monthly"]["data"]:
        cust, _name, month, total = row.split("|")
        cm[f"{cust}|{month}"] = q4(total)
    if cm != {k: Decimal(v) for k, v in facts["customer_monthly"].items()}:
        bad_query.add("customer_monthly")
    si = {}
    for row in checks["sales_incentive"]["data"]:
        store, sp, _name, month, total, inc = row.split("|")
        si[f"{store}|{sp}|{month}"] = (q4(total), q2(inc))
    want = {k: (Decimal(v[0]), Decimal(v[1])) for k, v in facts["sales_incentive"].items()}
    if si != want:
        bad_query.add("sales_incentive")
    failed = [not op["ok"] or op["query"] in bad_query or op["rows"] != checks[op["query"]]["rows"]
              for op in res["ops"]]
    return failed, {"fingerprints": {n: c["fingerprint"] for n, c in checks.items()},
                    "bad_queries": sorted(bad_query)}


PLANS = {"etl_daily": plan_etl, "analyst_mix": plan_analyst}
CHECKS = {"etl_daily": check_etl, "analyst_mix": check_analyst}


def op_kind(workload, facts, o):
    if workload == "analyst_mix":
        return o["query"]
    return "backfill" if facts["drops"][o["drop"]]["backfill"] else "daily"


def mix_weights(workload, size):
    if workload == "analyst_mix":
        return QUERY_BLOCK
    every = gen.SIZES["etl_daily"][size]["backfill_every"]
    return {"daily": every - 1, "backfill": 1}


def end_to_end(workload, size, facts, res):
    """The end-to-end metrics, and what the detail line reports besides.

    A run holds a few ops (daily and backfill drops) or a few dozen (the
    query mix) of kinds that take different times, and which kinds a run's
    ops happen to be moved a plain median or op count by more than repeat
    runs of one kind differ. So latency is each kind's median, averaged with
    the kind's weight in the mix, and an op counts as its kind's median over
    that average: a mix-equivalent op, by which analyst throughput and CPU
    per op are divided.
    """
    ops = res["ops"]
    good = [o for o in ops if o["ok"]]
    lat = [dur(o) for o in good]
    by_kind = defaultdict(list)
    for o in good:
        by_kind[op_kind(workload, facts, o)].append(dur(o))
    kind_p50 = {k: median(v) for k, v in by_kind.items()}
    weights = {k: w for k, w in mix_weights(workload, size).items() if k in kind_p50}
    latency = (sum(w * kind_p50[k] for k, w in weights.items()) / sum(weights.values())
               if weights else 0.0)
    mix_ops = sum(kind_p50[op_kind(workload, facts, o)] for o in good) / latency if latency else 0.0
    # rows of the drops processed, or mix-equivalent queries answered
    items = (sum(facts["drops"][o["drop"]]["rows"] for o in good)
             if workload == "etl_daily" else mix_ops)
    t_end = max([o["t1"] for o in ops] + [res["window_t1"]])
    busy = (t_end - res["window_t0"]) / 1e3
    return {
        "setup_s": (res["setup_s"], "s"),
        "latency_s": (latency, "s"),
        "items_per_s": (items / busy if busy > 0 else 0.0, "1/s"),
        "cpu_s_per_op": (res["window_cpu_s"] / mix_ops if mix_ops else 0.0, "s"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
    }, {"lat": lat, "mix_ops": mix_ops, "kind_p50_s": kind_p50}


def per_layer(workload, facts, res, datagen_s, untraced):
    ops = res["ops"]
    traced = [o for o in ops if o["ok"]]
    spans = {}
    for s in res["spans"]:
        spans.setdefault(s["op"], {}).setdefault(s["name"], []).append(s)
    jobs = {}
    for j in res["jobs"]:
        jobs.setdefault(j["op"], []).append(j)
    cores = res["nproc"]

    def span_s(o, name):
        return sum((s["t1"] - s["t0"]) / 1e3 for s in spans.get(o["id"], {}).get(name, []))

    def med_span(*names):
        return median([sum(span_s(o, n) for n in names) for o in traced
                       if any(n in spans.get(o["id"], {}) for n in names)])

    m = {}
    m["core.session_start_s"] = (res["session_start_s"], "s")
    # ingest / ledger / pipeline / io (etl_daily)
    etl = workload == "etl_daily"
    m["ingest.validate_s"] = (med_span("ingest_validate") if etl else 0.0, "s")
    nvalid = []
    for o in traced if etl else []:
        sp = spans.get(o["id"], {}).get("ingest_validate", [])
        nvalid.append(sum(1 for j in jobs.get(o["id"], []) for s in sp
                          if s["t0"] <= j["t0"] <= s["t1"]))
    m["ingest.spark_jobs"] = (statistics.mean(nvalid) if nvalid else 0.0, "count")
    m["ledger.s"] = (med_span("c1_inflight", "c4_idempotency", "c5_ledger_start",
                              "c6_ledger_complete") if etl else 0.0, "s")
    m["pipeline.mart_customer_write_s"] = (med_span("mart_customer_write") if etl else 0.0, "s")
    m["pipeline.mart_sales_write_s"] = (med_span("mart_sales_partitioned_write") if etl else 0.0, "s")
    m["pipeline.metrics_jdbc_write_s"] = (med_span("metrics_jdbc_write") if etl else 0.0, "s")
    m["pipeline.archive_s"] = (med_span("c7_archive") if etl else 0.0, "s")
    eok = [o for o in ops if o["ok"] and "files_written" in o] if etl else []
    m["io.files_written_per_run"] = (median([o["files_written"] for o in eok]), "count")
    m["io.partition_dirs_per_run"] = (median([o["partition_dirs"] for o in eok]), "count")
    in_bytes = sum(facts["drops"][o["drop"]]["input_bytes"] for o in eok)
    m["io.bytes_written_per_input_byte"] = (
        sum(o["bytes_written"] for o in eok) / in_bytes if in_bytes else 0.0, "ratio")
    jdbc_s = sum(span_s(o, "metrics_jdbc_write") for o in traced) if etl else 0.0
    m["io.jdbc_rows_per_s"] = (
        sum(o["metric_rows"] for o in traced) / jdbc_s if jdbc_s else 0.0, "1/s")
    # analyst read side
    an = workload == "analyst_mix"

    def q_med(pred, key="t"):
        xs = [(dur(o) if key == "t" else o[key]) for o in traced if an and pred(o)]
        return median(xs)
    m["etl.customer_monthly_p50_s"] = (q_med(lambda o: o["query"] == "customer_monthly"), "s")
    m["etl.sales_incentive_p50_s"] = (q_med(lambda o: o["query"] == "sales_incentive"), "s")
    for fam, name in FAMILY_METRIC.items():
        m[name] = (q_med(lambda o, f=fam: o["family"] == f), "s")
    # streaming drains and the versioned table they upsert into (etl_daily)
    for name, metric in STREAM_DRAINS.items():
        m[metric] = (med_span(name) if etl else 0.0, "s")
    bt = {}
    for b in res["batches"]:
        bt.setdefault((b["op"], b["drain"]), []).append(b)
    drains = list(bt.values())
    m["streaming.batches_per_drain"] = (
        statistics.mean(len(d) for d in drains) if drains else 0.0, "count")
    fed = [b["input_rows"] for d in drains for b in d if b["input_rows"] > 0]
    m["streaming.rows_per_batch"] = (statistics.mean(fed) if fed else 0.0, "count")
    for key, metric in (("planning_ms", "streaming.planning_s"),
                        ("add_batch_ms", "streaming.add_batch_s"),
                        ("wal_commit_ms", "streaming.wal_commit_s")):
        m[metric] = (median([sum(b[key] for b in d) / 1e3 for d in drains]), "s")
    # the rollup's state at the end of each of its drains
    m["streaming.state_rows"] = (median([max(d, key=lambda b: b["batch"])["state_rows"]
                                         for d in drains if d[0]["drain"] == "stream_rollup_drain"]),
                                 "count")
    last = eok[-1] if eok else {}
    m["versioned_table.versions"] = (last.get("table_versions", 0), "count")
    m["versioned_table.data_files"] = (last.get("table_data_files", 0), "count")
    m["plans.plan_p50_s"] = (q_med(lambda o: True, "plan_s"), "s")
    m["plans.exec_p50_s"] = (q_med(lambda o: True, "exec_s"), "s")
    # Spark engine, per traced op
    n = max(1, len(traced))
    tj = [j for o in traced for j in jobs.get(o["id"], [])]
    m["spark.jobs_per_op"] = (len(tj) / n, "count")
    m["spark.tasks_per_op"] = (sum(j["tasks"] for j in tj) / n, "count")
    m["spark.shuffle_write_mb_per_op"] = (sum(j["shuffle_write_bytes"] for j in tj) / n / 2**20, "MB")
    m["spark.spill_mb_per_op"] = (sum(j["spill_bytes"] for j in tj) / n / 2**20, "MB")
    m["spark.task_cpu_s_per_op"] = (sum(j["cpu_s"] for j in tj) / n, "s")
    wall = sum(dur(o) for o in traced)
    m["spark.slot_busy_share"] = (sum(j["run_s"] for j in tj) / (wall * cores) if wall else 0.0, "ratio")
    m["bench.datagen_s"] = (datagen_s, "s")
    # each traced op against the same op (same inputs) of the untraced run
    ratios = [dur(o) / untraced[str(o["id"])] for o in traced if str(o["id"]) in untraced]
    m["bench.tracing_overhead_share"] = (median(ratios) - 1 if ratios else 0.0, "ratio")
    return m


# ----------------------------------------------------------------------- main

def measure(a, out, classpath, trace, deadline):
    """One pass: fresh inputs from the seed, one JVM run, output checks."""
    work = os.path.join(out, "work", f"{a.workload}-s{a.seed}-{a.size}-t{trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    t0 = time.time()
    n_ops = WARMUPS + int(a.seconds / MIN_OP_S[a.workload]) + 2
    facts = gen.GENERATORS[a.workload](work, a.seed, a.size, n_ops, WARMUPS)
    datagen_s = time.time() - t0

    cores = len(os.sched_getaffinity(0))
    plan = {"work": work, "cores": cores}
    plan.update(PLANS[a.workload](facts, a.seed))
    with open(os.path.join(work, "plan.json"), "w") as f:
        json.dump(plan, f)

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    result_path = os.path.join(work, "result.json")
    # fixed heap and young generation, so peak memory does not move with the
    # collector's adaptive sizing; compilation stops at C1, because in a JVM
    # that lives well under a minute the C2 compile work was most of the
    # process CPU during the timed ops and its timing differed run to run
    cmd = ["java", "-Xms2g", "-Xmx2g", "-Xmn512m", "-XX:+UseParallelGC",
           "-XX:-UseAdaptiveSizePolicy", "-XX:-UsePerfData", "-XX:TieredStopAtLevel=1"] + \
        [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
        f"-Dderby.stream.error.file={work}/derby.log",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC", "-Duser.timezone=UTC",
        "-cp", classpath, "graft.perfbench.Main",
        "--workload", a.workload, "--plan", os.path.join(work, "plan.json"),
        "--seconds", str(a.seconds), "--trace", str(trace), "--out", result_path]
    c_jvm0 = cpu_times()
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = -9
    _, steal_during = shares(c_jvm0, cpu_times())
    if rc != 0 or not os.path.exists(result_path):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        fail(f"benchmark JVM exited with {rc}")
    with open(result_path) as f:
        res = json.load(f)
    shutil.rmtree(work, ignore_errors=True)

    golden_path = os.path.join(HERE, "golden.json")
    golden_all = {}
    if os.path.exists(golden_path):
        with open(golden_path) as f:
            golden_all = json.load(f)
    gkey = f"{a.workload}/{a.size}/seed{a.seed}"
    failed, check_info = CHECKS[a.workload](facts, res, golden_all.get(gkey))
    if a.write_golden and trace == a.trace:
        if a.workload == "analyst_mix":
            golden_all[gkey] = check_info["fingerprints"]
        with open(golden_path, "w") as f:
            json.dump(golden_all, f, indent=1, sort_keys=True)
            f.write("\n")
    return {"facts": facts, "res": res, "failed": failed, "check_info": check_info,
            "datagen_s": datagen_s, "steal_during": steal_during,
            "golden_checked": gkey in golden_all}


def op_latencies(p):
    """Latency of each correct op of a pass, by op id."""
    return {str(o["id"]): dur(o) for o, bad in zip(p["res"]["ops"], p["failed"]) if not bad}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", default="default", choices=("default", "tiny"))
    ap.add_argument("--write-golden", action="store_true")
    a = ap.parse_args()
    load_start = os.getloadavg()[0]
    wall0 = time.time()
    # how busy the machine is before this run does anything: neighbour work
    c0 = cpu_times()
    time.sleep(0.3)
    busy_before, _ = shares(c0, cpu_times())

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")) or \
            not os.path.isfile(os.path.join(root, "perfbench", "build.sbt")):
        fail("run from the root of a graft checkout (program sources not found)")
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        declared = json.load(f)["end_to_end" if a.trace == 0 else "per_layer"]
    out = os.path.join(root, ".bench_build")
    classpath, digest = build(root, out)
    deadline = time.time() + RUN_LIMIT_S
    # the untraced record is valid for these sources, inputs and window
    h = hashlib.sha256(digest.encode())
    for name in ("gen.py", "run.py"):
        with open(os.path.join(HERE, name), "rb") as f:
            h.update(f.read())
    record_key = f"{h.hexdigest()}:{a.seconds}"

    # the latencies of the untraced run of the same seed, size and sources:
    # the tracing overhead is the traced run's gap to them. An untraced run
    # records them; a traced run without such a record makes one first.
    record = os.path.join(out, "untraced", f"{a.workload}-{a.size}-s{a.seed}.json")
    passes = []
    untraced, baseline = None, None
    if a.trace == 1:
        if os.path.exists(record):
            with open(record) as f:
                rec = json.load(f)
            if rec["key"] == record_key:
                untraced, baseline = rec["latency"], "recorded"
        if untraced is None:
            passes.append(measure(a, out, classpath, 0, deadline))
            untraced, baseline = op_latencies(passes[-1]), "measured"
    run = measure(a, out, classpath, a.trace, deadline)
    passes.append(run)
    facts, res = run["facts"], run["res"]
    if a.trace == 0 and not any(run["failed"]):
        os.makedirs(os.path.dirname(record), exist_ok=True)
        with open(record, "w") as f:
            json.dump({"key": record_key, "latency": op_latencies(run)}, f)

    e2e, mix = end_to_end(a.workload, a.size, facts, res)
    lat = mix["lat"]
    measured = e2e if a.trace == 0 else per_layer(a.workload, facts, res, run["datagen_s"], untraced)
    missing = [m["name"] for m in declared if m["name"] not in measured]
    if missing:
        fail(f"metrics declared but not measured: {missing}")
    metrics = {m["name"]: measured[m["name"]] for m in declared}
    # every op of every pass counts, the untraced pass of a traced run too
    attempted = sum(len(p["failed"]) for p in passes)
    nfail = sum(sum(p["failed"]) for p in passes)
    pct, tail_v = tail(lat)
    wall_s = time.time() - wall0
    detail = {
        "workload": a.workload, "seed": a.seed, "size": a.size, "trace": a.trace,
        "seconds": a.seconds, "fail_ratio": nfail / attempted if attempted else 1.0,
        "samples": len(lat), "latency_all_p50_s": median(lat),
        "latency_tail": {"percentile": pct, "value_s": tail_v},
        "mix_equivalent_ops": mix["mix_ops"], "kind_p50_s": mix["kind_p50_s"],
        "datagen_s": run["datagen_s"], "golden_checked": run["golden_checked"],
        "setup_parts_s": {"jvm_to_main": res["jvm_to_main_s"],
                          "session": res["session_start_s"],
                          "warm_up": res["setup_s"] - res["jvm_to_main_s"] - res["session_start_s"]},
        "untraced_baseline": baseline,
        "contention": {"load_avg_1m_at_start": load_start,
                       "load_avg_1m_jvm_start": res["load_before"],
                       "process_cpu_s": res["process_cpu_s"], "wall_s": wall_s,
                       "nproc": res["nproc"],
                       "machine_busy_share_before": busy_before,
                       "steal_share_during": run["steal_during"],
                       # another tenant was using this machine's CPUs
                       "neighbour_loaded": busy_before > 0.25 or run["steal_during"] > 0.05},
        "errors": sorted({o["err"] for p in passes for o in p["res"]["ops"] if o.get("err")})[:5],
        "check_info": {k: v for k, v in run["check_info"].items() if k != "fingerprints"},
    }
    print(json.dumps(detail))
    print(json.dumps({
        "correct": attempted > 0 and nfail == 0,
        "attempted": max(1, attempted), "failed": nfail if attempted else 1,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
