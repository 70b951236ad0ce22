#!/usr/bin/env python3
"""The repository's benchmark. See perfbench/README.md.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It builds the engine and the harness from
source when they are stale, prepares and verifies the fixtures, runs one
workload in one JVM, checks every result and prints one JSON line last:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones.

Extra flags, not used by a benchmark run:
  --record   write the digests this run observed into perfbench/expected.json
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEADLINE_S = 170.0  # the whole run, build excepted, ends well within 180 s

WORKLOADS = {
    # Closed loop over one list that mixes SQL text (catalog re-registration,
    # dialect handling, Catalyst planning) with DataFrame-API operators
    # (execution, jobs launched while the frame is built, an AvailableNow
    # stream replay) that use no SQL catalog.
    "batch": {
        "data": "sf0.1x",
        "warm": "sf0.1x-warm",
        "queries": ["q_tpcds_v3", "q_tpch_v15", "q_tpch_q18", "q_ds_decile", "q_stream_dedup"],
    },
    # Open loop: one long-lived query under continuous input. The base phase
    # lasts --seconds; the traced run follows it with the rate ladder.
    "stream_live": {
        "data": "sf0.01",
        "warm_phases": "warm:1000:16",
        "ladder": "r4000:4000:2,r8000:8000:2,r16000:16000:2",
        "base_rate": 1000,
        "tick_ms": 100,
        "trigger_ms": 200,
        "drain_s": 10,
        "latency_limit_ms": 2000,
    },
}
# One timed pass per SECONDS_PER_PASS of --seconds: the pass count, and so
# the work a run measures, does not follow the host's speed
SECONDS_PER_PASS = 4.5
LIVE_WALL_BATCHES = 10
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events",
          "documents", "embeddings"]
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
             "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
             "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def build_dir():
    d = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    d = os.path.abspath(d)
    if not d.startswith(ROOT + os.sep):
        d = os.path.join(ROOT, ".bench_build")
    os.makedirs(d, exist_ok=True)
    return d


# ---------------------------------------------------------------- build

def source_files():
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "harness", "build.sbt"), os.path.join(HERE, "harness", "project", "build.properties")]
    files += [os.path.join(ROOT, "project", n) for n in os.listdir(os.path.join(ROOT, "project")) if n.endswith(".sbt")]
    for r in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "harness", "src")):
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def build(bdir):
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = os.path.join(bdir, "build.stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest() and \
            os.path.isdir(os.path.join(HERE, "harness", "target", "scala-2.13", "classes", "perfbench")):
        return
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts.insert(1, f"-Dsbt.repository.config={repos}")
        env["SBT_OPTS"] = " ".join(opts)
    blog = os.path.join(bdir, "build.log")
    for cwd in (ROOT, os.path.join(HERE, "harness")):
        log(f"building {os.path.relpath(cwd, ROOT) or '.'} (log: {os.path.relpath(blog, ROOT)})")
        with open(blog, "a") as out:
            rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                                  "compile"], cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                                 stdin=subprocess.DEVNULL, timeout=800)
        if rc != 0:
            fail(f"build failed in {cwd}, see {blog}")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())


def classpath():
    return ":".join([os.path.join(ROOT, "target", "scala-2.13", "classes"),
                     os.path.join(HERE, "harness", "target", "scala-2.13", "classes"), "/opt/spark/jars/*"])


def java_cmd(bdir, main, args, heap="3g"):
    tmp = os.path.join(bdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    return ["java", *opens, f"-Xmx{heap}", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-cp", classpath(), main, *args]


def run_proc(cmd, bdir, timeout, log_name, **env_extra):
    """Runs cmd in its own process group; kills the group on timeout."""
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(bdir, "spark-local"), **env_extra)
    with open(os.path.join(bdir, log_name), "w") as err:
        p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=err, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return p.wait(timeout=max(1.0, timeout))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        finally:
            try:
                os.killpg(p.pid, signal.SIGKILL)  # stray children, such as the live generator
            except ProcessLookupError:
                pass


# ---------------------------------------------------------------- fixtures

def content_checksum(d):
    """Order- and layout-independent checksum of every fixture table in d."""
    import duckdb
    con = duckdb.connect()
    h = hashlib.sha256()
    for t in TABLES:
        p = os.path.join(d, f"{t}.parquet")
        src = os.path.join(p, "*.parquet") if os.path.isdir(p) else p
        n, s = con.execute(f"select count(*), sum(hash(t)) from read_parquet('{src}') t").fetchone()
        h.update(f"{t}:{n}:{s};".encode())
    con.close()
    return h.hexdigest()


def fixtures(bdir, pins, name):
    """The directory of fixture `name`, verified against its pinned checksum.
    sf0.1x is generated once per checkout by graft.tools.ScaleGen (sf0.01
    scaled x10); its generation is not part of any run's set-up time.
    sf0.1x-warm is a copy of sf0.1x under another path: warm passes over it
    compile the code paths of the timed scale without leaving views or file
    listings of the timed directory behind."""
    if name == "sf0.1x-warm":
        d = os.path.join(bdir, "data", name)
        if not os.path.exists(os.path.join(d, "embeddings.parquet", "_SUCCESS")) or \
                content_checksum(d) != pins["sf0.1x"]:
            src = fixtures(bdir, pins, "sf0.1x")
            shutil.rmtree(d, ignore_errors=True)
            shutil.copytree(src, d)
        name = "sf0.1x"
    elif name != "sf0.1x":
        d = os.path.join(HERE, "data", name)
    else:
        d = os.path.join(bdir, "data", "sf0.1x")
        if not os.path.exists(os.path.join(d, "embeddings.parquet", "_SUCCESS")) or \
                content_checksum(d) != pins[name]:
            log("generating sf0.1x with graft.tools.ScaleGen")
            cmd = java_cmd(bdir, "graft.tools.ScaleGen", [os.path.join(HERE, "data", "sf0.01"), d, "10"], "2g")
            if run_proc(cmd, bdir, 600, "scalegen.log", SPARK_GRAFT_CPUS="4") != 0:
                fail("ScaleGen failed, see scalegen.log")
    got = content_checksum(d)
    if got != pins[name]:
        fail(f"fixture {name} does not match its pinned checksum ({got})")
    return d


# ---------------------------------------------------------------- host noise

def steal_jiffies():
    try:
        with open("/proc/stat") as f:
            v = f.readline().split()
        return {"steal": int(v[8]), "total": sum(int(x) for x in v[1:])}
    except (OSError, IndexError, ValueError):
        return None


# ---------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def pct(xs, q):
    """Linear-interpolated percentile q (0..100) of xs."""
    if not xs:
        return 0.0
    xs = sorted(xs)
    k = (len(xs) - 1) * q / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def batch_result(recs, expected, record):
    attempts = [r for r in recs if r["kind"] == "query"]
    setups = [r for r in recs if r["kind"] == "setup"]
    end = next((r for r in recs if r["kind"] == "end"), None)
    if not attempts or not setups or end is None:
        fail("the harness ended without a complete record")
    failed, wrong = 0, []
    for a in attempts:
        exp = expected.get(a["query"])
        a["good"] = a["ok"] and (record or a["digest"] == exp)
        if not a["good"]:
            failed += 1
            wrong.append((a["query"], a["error"] or f"digest {a['digest']} != expected {exp}"))
    for q, why in wrong[:10]:
        log(f"FAILED {q}: {why}")

    def per_query(traced):
        by = {}
        for a in attempts:
            if a["good"] and a["traced"] == traced:
                by.setdefault(a["query"], []).append(a["construct_s"] + a["action_s"])
        return {q: median(v) for q, v in by.items()}

    med = per_query(False)
    # a handful of attempts has no stable tail: the latency percentiles are
    # taken over the per-query medians (p99 is then the slowest query's)
    lat = [1000.0 * v for v in med.values()]
    e2e = {
        "setup_s": (median([s["setup_s"] for s in setups]), "s"),
        "wall_s": (sum(med.values()), "s"),
        "geomean_s": (math.exp(sum(math.log(v) for v in med.values()) / len(med)) if med else 0.0, "s"),
        "latency_p50_ms": (median(lat), "ms"),
        "latency_p99_ms": (pct(lat, 99), "ms"),
        "retained_heap_mb": (end["retained_heap_mb"], "MB"),
    }
    traced = [a for a in attempts if a["traced"]]
    layer = {}
    if traced:
        passes = len({a["pass"] for a in traced})
        keys = sorted({k for a in traced for k in a["layers"]})
        peak = {"exec.peak_exec_mem_mb"}
        for k in keys:
            vals = [a["layers"].get(k, 0.0) for a in traced]
            layer[k] = max(vals) if k in peak else sum(vals) / passes
        tmed = per_query(True)
        common = [q for q in tmed if q in med]
        layer["trace.overhead_ratio"] = (sum(tmed[q] for q in common) / sum(med[q] for q in common)
                                         if common else 0.0)
        layer["trace.untraced_wall_s"] = sum(med[q] for q in common)
        layer["trace.traced_wall_s"] = sum(tmed[q] for q in common)
        if layer.get("exec.s"):
            layer["exec.busy_ratio"] = layer["exec.task_run_s"] / (layer["exec.s"] * 4)
    layer["session.build_s"] = median([s["build_s"] for s in setups])
    layer["session.warm_s"] = median([s["warm_s"] for s in setups])
    layer.update(end["state"])
    layer["check.fail_ratio"] = failed / len(attempts)
    observed = {}
    for a in attempts:
        if a["ok"]:
            observed.setdefault(a["query"], set()).add(a["digest"])
    ok = failed == 0 and all(s["warm_failed"] == 0 for s in setups)
    return ok, len(attempts), failed, e2e, layer, observed


def live_result(recs, w, bdir):
    live = os.path.join(bdir, "live")
    man_path = os.path.join(live, "ev.manifest.json")
    setups = [r for r in recs if r["kind"] == "setup"]
    end = next((r for r in recs if r["kind"] == "end"), None)
    if not os.path.exists(man_path) or not setups or end is None:
        fail("the live run ended without a complete record")
    for r in recs:
        if r["kind"] == "error":
            log(f"the live query failed: {r['error']}")
    man = json.load(open(man_path))
    events = {}
    for n in sorted(os.listdir(os.path.join(live, "in"))):
        if not n.startswith("."):
            for line in open(os.path.join(live, "in", n)):
                e = json.loads(line)
                events[e["event_id"]] = e
    # expected running aggregate per user, in event order (ts rises with id)
    exp, acc = {}, {}
    for k in sorted(events):
        e = events[k]
        s, n = acc.get(e["user_id"], (0, 0))
        s, n = s + math.floor(e["value"] * 100.0), n + 1
        acc[e["user_id"]] = (s, n)
        exp[k] = (e["user_id"], s, n)
    got = {}
    batches = [r for r in recs if r["kind"] == "live_batch"]
    for b in batches:
        for user, eid, rsum, rn in b["rows"]:
            got[eid] = (user, rsum, rn, b["delivered_ms"], b["sink_start_ms"])
    # an event fails if it was never written, never delivered, or delivered wrong
    attempted = man["phases"][-1]["first_id"] + man["phases"][-1]["n"]
    failed = sum(1 for k in range(attempted) if k not in exp or k not in got or got[k][:3] != exp[k])
    failed = min(attempted, failed + sum(1 for k in got if not 0 <= k < attempted))

    def latencies(p):
        ids = range(p["first_id"], p["first_id"] + p["n"])
        return [got[k][3] - events[k]["ts_us"] / 1000.0 for k in ids if k in got and k in events]

    base = latencies(man["phases"][0])
    max_rate = 0.0
    for p in man["phases"]:
        lat = latencies(p)
        third = max(1, len(lat) // 3)
        steady = len(lat) == p["n"] and pct(lat, 99) <= w["latency_limit_ms"] and \
            median(lat[-third:]) <= median(lat[:third]) + 2 * w["trigger_ms"]
        if not steady:
            break
        max_rate = float(p["rate"])
    # micro-batches that carried events of the base phase
    t0_ms = man["t0_us"] / 1000.0
    b0, b1 = t0_ms + man["phases"][0]["start_s"] * 1000, t0_ms + man["phases"][0]["end_s"] * 1000
    trig = [r for r in recs if r["kind"] == "live_trigger"]
    base_trig = [r for r in trig if r["end_ms"] - r["trigger_ms"] >= b0 and r["end_ms"] - r["trigger_ms"] <= b1
                 and r["input_rows"] > 0]
    dur = [r["trigger_ms"] / 1000.0 for r in base_trig]
    e2e = {
        "setup_s": (setups[0]["setup_s"], "s"),
        # the base phase's batches run back to back, so their summed time is
        # the phase's length; the time of a fixed number of batches, taken at
        # the median batch, measures their cost
        "wall_s": (LIVE_WALL_BATCHES * median(dur), "s"),
        "geomean_s": (math.exp(sum(math.log(max(d, 1e-3)) for d in dur) / len(dur)) if dur else 0.0, "s"),
        "latency_p50_ms": (median(base), "ms"),
        "latency_p99_ms": (pct(base, 99), "ms"),
        "retained_heap_mb": (end["retained_heap_mb"], "MB"),
    }
    # input lag: from an event's due time until the micro-batch that carries it starts
    starts = sorted(r["end_ms"] - r["trigger_ms"] for r in trig)
    lag = []
    for k in range(man["phases"][0]["first_id"], man["phases"][0]["first_id"] + man["phases"][0]["n"]):
        if k in got:
            st = [x for x in starts if x <= got[k][4]]
            if st:
                lag.append(st[-1] - events[k]["ts_us"] / 1000.0)
    # backlog: events due but not yet delivered, at the end of each phase
    backlog = 0
    for p in man["phases"]:
        t_end = t0_ms + p["end_s"] * 1000
        backlog = max(backlog, sum(1 for k, e in events.items() if e["ts_us"] / 1000.0 <= t_end
                                   and (k not in got or got[k][3] > t_end)))
    layer = dict(end.get("layers") or {})
    layer.update(end["state"])
    layer.update({
        "session.build_s": setups[0]["build_s"],
        "session.warm_s": setups[0]["warm_s"],
        "live.batch_ms_p50": 1000.0 * median(dur),
        "live.input_lag_ms": median(lag),
        "live.backlog_events": float(backlog),
        "live.generator_late_ms": man["late_ms_max"],
        "live.max_rate_eps": max_rate,
        "check.fail_ratio": failed / attempted if attempted else 0.0,
    })
    return failed == 0 and attempted > 0, attempted, failed, e2e, layer, {}


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala"))):
        fail(f"{ROOT} holds no engine sources to build")
    bdir = build_dir()
    build(bdir)
    t_start = time.time()  # the run's deadline counts from here: a build may take longer
    w = WORKLOADS[a.workload]
    pins = json.load(open(os.path.join(HERE, "fixtures.json")))
    data = fixtures(bdir, pins, w["data"])
    expected_all = json.load(open(os.path.join(HERE, "expected.json")))
    expected = expected_all.get(a.workload, {})

    out = os.path.join(bdir, f"{a.workload}.records.jsonl")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--trace", str(a.trace), "--data", data,
            "--localdir", os.path.join(bdir, "spark-local"), "--out", out]
    if a.workload == "stream_live":
        # only the traced run reports live.max_rate_eps, so only it climbs the ladder
        phases = f"base:{w['base_rate']}:{max(4, round(a.seconds))}" + (f",{w['ladder']}" if a.trace else "")
        args += ["--livedir", os.path.join(bdir, "live"), "--events", os.path.join(data, "events.parquet"),
                 "--generator", os.path.join(HERE, "livegen.py"), "--warm_phases", w["warm_phases"],
                 "--phases", phases, "--tick_ms", str(w["tick_ms"]),
                 "--trigger_ms", str(w["trigger_ms"]), "--drain_s", str(w["drain_s"])]
    else:
        args += ["--queries", ",".join(w["queries"]), "--warm", fixtures(bdir, pins, w["warm"]),
                 "--passes", str(max(1, int(a.seconds // SECONDS_PER_PASS)))]
    steal0 = steal_jiffies()
    rc = run_proc(java_cmd(bdir, "perfbench.Main", args), bdir, DEADLINE_S - (time.time() - t_start),
                  f"{a.workload}.jvm.log")
    steal1 = steal_jiffies()
    if rc != 0:
        fail(f"the harness exited with {rc}, see {a.workload}.jvm.log")
    recs = [json.loads(line) for line in open(out)]
    if a.workload == "stream_live":
        ok, attempted, failed, e2e, layer, observed = live_result(recs, w, bdir)
    else:
        ok, attempted, failed, e2e, layer, observed = batch_result(recs, expected, a.record)

    # host noise, recorded beside the run and never used to rescale a metric
    noise = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
             "anchor_s": {r["when"]: r["s"] for r in recs if r["kind"] == "anchor"}}
    if steal0 and steal1:
        dt = steal1["total"] - steal0["total"]
        noise["steal_ratio"] = (steal1["steal"] - steal0["steal"]) / dt if dt else 0.0
    os.makedirs(os.path.join(bdir, "runs"), exist_ok=True)
    with open(os.path.join(bdir, "runs", f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump({"host": noise, "end_to_end": e2e, "per_layer": layer}, f, indent=1)
    if a.trace:
        side = os.path.join(bdir, "trace", f"{a.workload}-seed{a.seed}.jsonl")
        os.makedirs(os.path.dirname(side), exist_ok=True)
        with open(side, "w") as f:
            for r in recs:
                if r["kind"] == "query" and r["traced"]:
                    f.write(json.dumps({k: r[k] for k in ("pass", "query", "ok", "construct_s", "action_s",
                                                          "layers")}) + "\n")
        log(f"per-query trace: {os.path.relpath(side, ROOT)}")
    log(f"host: {json.dumps(noise)}")

    if a.record:
        stable = {q: d.pop() for q, d in observed.items() if len(d) == 1}
        unstable = sorted(q for q, d in observed.items() if len(d) > 1)
        expected_all[a.workload] = {**expected, **stable}
        with open(os.path.join(HERE, "expected.json"), "w") as f:
            json.dump(expected_all, f, indent=1, sort_keys=True)
            f.write("\n")
        log(f"recorded {len(stable)} digests; unstable: {unstable}")

    names = PER_LAYER if a.trace else END_TO_END
    metrics = {}
    for n, unit in names:
        v = e2e[n][0] if not a.trace else layer.get(n, 0.0)
        metrics[n] = {"value": v, "unit": unit}
    print(json.dumps({"correct": bool(ok), "attempted": int(attempted), "failed": int(failed),
                      "metrics": metrics}))


def _metric_list(key):
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json"))) if os.path.exists(
        os.path.join(ROOT, "BENCHMARK.json")) else {key: []}
    return [(m["name"], m["unit"]) for m in spec[key]]


END_TO_END = _metric_list("end_to_end")
PER_LAYER = _metric_list("per_layer")

if __name__ == "__main__":
    main()
