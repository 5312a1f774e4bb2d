#!/usr/bin/env python3
"""End-to-end and per-layer benchmark of the review pipeline.

    python3 perfbench/run.py --workload dashboard|registry \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the harness together
with the engine sources (sbt, offline) into .bench_build/. Each run
generates its inputs from --seed, drives one workload against the shipped
modules through perfbench.Main (a JVM), checks the outputs, prints a
report and, as its last line, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are BENCHMARK.json's end_to_end metrics, with
--trace 1 its per_layer metrics. A traced run records spans around every
call into a layer (written to .bench_build/reports/) and reports the
tracing overhead against this checkout's earlier untraced runs of the same
sources.

Workloads (see BENCHMARK.json for why each exists):
  dashboard  open-loop trickle of reviews + 2 closed-loop HTTP clients and a
             freshness prober against the live view
  registry   one pass over a fixed slice of the query registry
"""
import argparse
import hashlib
import signal
import http.client
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import threading
import time
import urllib.parse

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
SBT_TARGET = os.path.join(BUILD, "sbt-target")
TMP = os.path.join(BUILD, "tmp")      # TMPDIR of everything a run starts
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import gen  # noqa: E402

WORKLOADS = ("dashboard", "registry")

# Dashboard: a year of history for 500 games, then a live trickle at the
# reference generator's design rate (BASELINE.md: 10.5 ms mean sleep per
# record, about 95 records/s).
DASH_GAMES = 500
DASH_HISTORY_ROWS = 6000
DASH_RATE = 95             # reviews per second, open loop
DASH_TICK_S = 0.2          # one source file per tick
PROBE_TICKS = 5            # one probe event every 5 ticks: one per second
PROBE_APP_ID = 999         # outside the generated games' id range
CLIENTS = 2
WARM_S = 5.0               # load before the measured window: first reads and
                           # triggers after set-up fall outside it
POLL_S = 5.0               # the reference dashboard's refresh interval
HTTP_MIX = (("timeseries", 0.6), ("ranking", 0.3), ("games", 0.1))
METRICS = ["A_playtime", "A_sentiment", "T_reviews", "T_recommendations",
           "T_pos_reviews", "T_neg_reviews"]
JVM_TIMEOUT_S = 170

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

# What `latency_ms`, the workload's headline end-to-end metric, measures.
LATENCY_MEANS = {
    "dashboard": "freshness_p50_ms: event creation to first /timeseries response showing it",
    "registry": "registry_s: time of one pass over the query slice",
}


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# --------------------------------------------------------------------------
# Build
# --------------------------------------------------------------------------

def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the harness with the engine sources; returns the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found; run from a "
             "checkout of the repository", 2)
    os.makedirs(BUILD, exist_ok=True)
    stamp = source_stamp()
    stamp_file = os.path.join(SBT_TARGET, "source.sha256")
    cp_file = os.path.join(SBT_TARGET, "classpath.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and \
            open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    log = os.path.join(BUILD, "build.log")
    env = dict(os.environ)
    env.setdefault("SPARK_HOME", spark_home())
    # sbt's scratch files (server socket dir, native-library extraction,
    # boot lock, JVM perf data) stay inside the build directory
    # (JAVA_TOOL_OPTIONS reaches the launcher's own java version probe too)
    env["JAVA_TOOL_OPTIONS"] = " ".join([
        env.get("JAVA_TOOL_OPTIONS", ""), "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={TMP}", f"-Djna.tmpdir={TMP}"]).strip()
    env["SBT_OPTS"] = " ".join([
        env.get("SBT_OPTS", ""), "-Dsbt.boot.lock=false",
        "-Dsbt.server.autostart=false"]).strip()
    with open(log, "w") as out:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "writeClasspath"], cwd=HERE, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, env=env, timeout=850).returncode
    if rc != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"build failed (sbt exit {rc})", 3)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return open(cp_file).read().strip()


def spark_home():
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    submit = shutil.which("spark-submit")
    if not submit:
        fail("SPARK_HOME is not set and spark-submit is not on PATH", 2)
    return os.path.dirname(os.path.dirname(os.path.realpath(submit)))


def heap_mb():
    """A quarter of the host's memory, between 2 and 3 GB."""
    try:
        with open("/proc/meminfo") as f:
            kb = int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
        return max(2048, min(3072, kb // 4096))
    except (OSError, StopIteration, ValueError):
        return 2048


# --------------------------------------------------------------------------
# One JVM run of a workload
# --------------------------------------------------------------------------

class Run:
    """A fresh run directory and the harness JVM working in it."""

    def __init__(self, cp, workload, seed, seconds, trace, cores):
        self.cp, self.workload, self.seconds = cp, workload, seconds
        self.trace, self.cores, self.seed = trace, cores, seed
        self.dir = os.path.join(BUILD, "runs",
                                f"{workload}-{seed}-{os.getpid()}-{time.time_ns()}")
        os.makedirs(os.path.join(self.dir, "tmp"))
        self.proc = None

    def start(self):
        java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
            if os.environ.get("JAVA_HOME") else "java"
        # a fixed heap size: with a growable heap, peak RSS follows the
        # collector's sizing decisions more than the program's needs
        heap = heap_mb()
        cmd = [java, f"-Xms{heap}m", f"-Xmx{heap}m", "-XX:-UsePerfData",
               f"-Djava.io.tmpdir={self.dir}/tmp",
               "-Dspark.sql.session.timeZone=UTC"]
        for p in JDK_OPENS:
            cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
        cmd += ["-cp", self.cp, "perfbench.Main", "--workload", self.workload,
                "--dir", self.dir, "--seconds", str(self.seconds),
                "--trace", "1" if self.trace else "0", "--cores", str(self.cores)]
        self.log = open(os.path.join(self.dir, "jvm.log"), "w")
        self.proc = subprocess.Popen(cmd, stdout=self.log, stderr=subprocess.STDOUT,
                                     stdin=subprocess.DEVNULL, cwd=self.dir)
        self.t_start = time.monotonic()

    def alive(self):
        return self.proc is not None and self.proc.poll() is None

    def finish(self):
        """Wait for the JVM; returns its result.json."""
        try:
            rc = self.proc.wait(timeout=max(1, JVM_TIMEOUT_S -
                                            (time.monotonic() - self.t_start)))
        except subprocess.TimeoutExpired:
            self.stop()
            rc = "timeout"
        res = os.path.join(self.dir, "result.json")
        if rc != 0 or not os.path.exists(res):
            self.log.flush()
            with open(os.path.join(self.dir, "jvm.log")) as f:
                sys.stderr.write(f.read()[-6000:])
            raise RuntimeError(f"{self.workload} harness exited with {rc}")
        with open(res) as f:
            return json.load(f)

    def stop(self):
        if self.alive():
            self.proc.terminate()
            try:
                self.proc.wait(timeout=20)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()

    def cleanup(self):
        self.stop()
        if getattr(self, "log", None):
            self.log.close()
        shutil.rmtree(self.dir, ignore_errors=True)


# --------------------------------------------------------------------------
# Workloads
# --------------------------------------------------------------------------

class Load:
    """The dashboard's load process: one open-loop generator, CLIENTS
    closed-loop HTTP clients and one freshness prober, as threads of this
    process (together no more threads than the host has cpus)."""

    def __init__(self, run, seed, port):
        self.run, self.port = run, port
        self.src = os.path.join(run.dir, "source")
        self.gen = gen.ReviewGen(seed, DASH_GAMES)
        self.seed = seed
        self.stop_gen = threading.Event()
        self.stop_clients = threading.Event()
        self.abort = threading.Event()
        self.probes = []          # creation wall time of each probe event
        self.probe_lock = threading.Lock()
        self.late_ms = []
        self.rows = 0             # live rows written
        self.reads = []           # (endpoint, status, ms, monotonic send time)
        self.probe_from = math.inf    # monotonic start of the measured window
        self.probe_until = math.inf   # and its end
        self.probes_done = threading.Event()  # no probe is created after it
        self.fresh_ms = []
        self.prober_reads = []
        self.errors = []
        self.spans = []           # client-side request spans (wall clock)

    # -- generator --------------------------------------------------------
    def generate(self):
        per_tick = DASH_RATE * DASH_TICK_S
        # Spark starts a ProcessingTime trigger at wall-clock multiples of
        # its interval. With the first tick, and so every probe tick, half
        # past a wall-clock second, each run's probes wait the same times
        # for their trigger; a random offset would move the median wait by
        # up to half a second
        wall = time.time()
        first = math.floor(wall) + 0.5
        first += 1 if first < wall else 0
        due, k, index, owed = time.monotonic() + first - wall, 0, 10_000_000, 0.0
        while not self.stop_gen.is_set():
            now = time.monotonic()
            if now < due:
                time.sleep(min(due - now, 0.05))
                continue
            self.late_ms.append((now - due) * 1e3)
            owed += per_tick
            n, owed = int(owed), owed - int(owed)
            if now >= self.probe_until:
                self.probes_done.set()
            # every PROBE_TICKS ticks one of the tick's events belongs to
            # the probe game; its event time is drawn like any other, so
            # the probe adds no hot key to the write pattern
            probe = k % PROBE_TICKS == 0 and n > 0 and now >= self.probe_from \
                and not self.probes_done.is_set()
            recs = [self.gen.record(index + i, self.gen.zipf_game(),
                                    self.gen.event_time(gen.YEAR_DAYS - 1))
                    for i in range(n - probe)]
            index += len(recs)
            wall = time.time()
            if probe:
                recs.append(self.gen.record(index, PROBE_APP_ID,
                                            self.gen.event_time(gen.YEAR_DAYS - 1),
                                            created_wall=wall))
                index += 1
            gen.write_lines(os.path.join(self.src, f"live-{k:07d}.json"), recs)
            self.rows += len(recs)
            if probe:
                with self.probe_lock:
                    self.probes.append(wall)
            k += 1
            due += DASH_TICK_S       # the schedule never waits on the system

    # -- clients ----------------------------------------------------------
    def request(self, conn, path):
        t0, w0 = time.monotonic(), time.time()
        conn.request("GET", path)
        resp = conn.getresponse()
        body = resp.read()
        self.spans.append((w0, time.time(), path.split("?")[0].strip("/"), resp.status))
        return resp.status, body, (time.monotonic() - t0) * 1e3

    def client(self, cid):
        rng = random.Random(self.seed * 7919 + 2 + cid)
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=120)
        while not self.stop_clients.is_set():
            # closed loop at the reference dashboard's refresh interval: the
            # next request goes POLL_S after this one was sent, or as soon
            # as its response arrives when that takes longer
            sent = time.monotonic()
            x, ep = rng.random(), None
            for name, share in HTTP_MIX:
                if x < share:
                    ep = name
                    break
                x -= share
            ep = ep or HTTP_MIX[-1][0]
            metric = rng.choice(METRICS)
            if ep == "timeseries":
                game = gen.game_name(self.gen.app_ids[self.gen.zipf.sample(rng)])
                q = {"game": game, "metric": metric}
            elif ep == "ranking":
                level = rng.randrange(4)
                q = {"metric": metric}
                if level >= 1:
                    q["year"] = 2024
                if level >= 2:
                    q["month"] = rng.randint(1, 12)
                if level >= 3:
                    q["day"] = rng.randint(1, 28)
            else:
                q = {}
            path = f"/{ep}" + ("?" + urllib.parse.urlencode(q) if q else "")
            try:
                status, body, ms = self.request(conn, path)
                if status != 200:
                    self.errors.append(f"{path} -> {status}: {body[:300]!r}")
            except (OSError, http.client.HTTPException) as e:
                self.errors.append(repr(e))
                conn.close()
                conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=120)
                status, ms = 0, 0.0
            self.reads.append((ep, status, ms, sent))
            self.stop_clients.wait(max(0.0, sent + POLL_S - time.monotonic()))
        conn.close()

    # -- prober -----------------------------------------------------------
    def prober(self):
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=120)
        path = "/timeseries?" + urllib.parse.urlencode(
            {"game": gen.game_name(PROBE_APP_ID), "metric": "T_reviews"})
        seen, deadline = 0, None
        while not self.abort.is_set() and not self.stop_gen.is_set():
            try:
                status, body, ms = self.request(conn, path)
            except (OSError, http.client.HTTPException) as e:
                self.errors.append(repr(e))
                conn.close()
                conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=120)
                status, body, ms = 0, b"", 0.0
            t = time.time()
            self.prober_reads.append((status, ms))
            if status not in (0, 200):
                self.errors.append(f"{path} -> {status}: {body[:300]!r}")
            if status == 200:
                visible = int(sum(r.get("T_reviews", 0) for r in json.loads(body)))
                with self.probe_lock:
                    made = self.probes[:visible]
                for created in made[seen:]:
                    self.fresh_ms.append((t - created) * 1e3)
                seen = max(seen, min(visible, len(made)))
            if self.probes_done.is_set():
                # after the measured window the load goes on, unchanged,
                # until the last probe shows
                deadline = deadline or time.monotonic() + 60
                with self.probe_lock:
                    total = len(self.probes)
                if seen >= total or time.monotonic() > deadline:
                    break
            if not self.run.alive():
                break
        conn.close()
        with self.probe_lock:
            self.unseen = len(self.probes) - seen

    def drive(self, seconds):
        prober = threading.Thread(target=self.prober, daemon=True)
        threads = [threading.Thread(target=self.generate, daemon=True), prober]
        threads += [threading.Thread(target=self.client, args=(i,), daemon=True)
                    for i in range(CLIENTS)]
        t0 = time.monotonic()
        self.probe_from = t0 + WARM_S
        self.probe_until = self.probe_from + seconds
        finished = False
        try:
            for t in threads:
                t.start()
            while prober.is_alive() and self.run.alive():
                time.sleep(0.05)
            finished = True
        finally:
            # on an interrupted run the prober stops at once, and no thread
            # writes into the run directory once this returns
            if not finished:
                self.abort.set()
            self.stop_gen.set()
            self.stop_clients.set()
            self.elapsed = time.monotonic() - t0
            # the end of the load phase, for the harness's backlog count
            self.rows_at_end = self.rows
            with open(os.path.join(self.run.dir, "load-end"), "w"):
                pass
            for t in threads:
                if t.is_alive():
                    t.join(timeout=130)
            # the wait, after the measured window, for the last probes to show
            self.drain_s = self.elapsed - WARM_S - seconds


def run_dashboard(run, seed):
    src = os.path.join(run.dir, "source")
    os.makedirs(src)
    g = gen.ReviewGen(seed, DASH_GAMES)
    records = g.backlog(DASH_HISTORY_ROWS)
    files = 4
    for i in range(files):
        gen.write_lines(os.path.join(src, f"history-{i}.json"),
                        (next(records) for _ in range(DASH_HISTORY_ROWS // files)))
    run.start()
    ready = os.path.join(run.dir, "ready.json")
    while not os.path.exists(ready):
        if not run.alive():
            return run.finish()
        time.sleep(0.02)
    with open(ready) as f:
        port = json.load(f)["port"]
    load = Load(run, seed, port)
    load.drive(run.seconds)
    # latencies of the reads sent in the measured window
    ok_reads = [r for r in load.reads if r[1] == 200 and r[3] >= load.probe_from]
    tmp = os.path.join(run.dir, ".stop.tmp")
    with open(tmp, "w") as f:
        json.dump({"reads": len(load.reads) + len(load.prober_reads),
                   "rows": DASH_HISTORY_ROWS // 4 * 4 + load.rows_at_end}, f)
    os.rename(tmp, os.path.join(run.dir, "stop.json"))
    res = run.finish()
    if run.trace:
        # client-side request spans join the harness's spans; they share
        # its wall clock, so a request's server-side spans are the ones
        # inside its interval
        with open(os.path.join(run.dir, "spans.jsonl"), "a") as f:
            for i, (w0, w1, ep, status) in enumerate(load.spans):
                f.write(json.dumps({"id": -1 - i, "name": f"http.{ep}",
                                    "start_us": int(w0 * 1e6), "end_us": int(w1 * 1e6),
                                    "parent": 0, "req": f"request-{i}",
                                    "status": status}) + "\n")

    read_ms = [r[2] for r in ok_reads]
    e2e, rep, lay = res["e2e"], res["report"], res["layers"]
    e2e["latency_ms"] = pct(load.fresh_ms, 0.5)
    rep.update({"freshness_p50_ms": pct(load.fresh_ms, 0.5),
                "freshness_p90_ms": pct(load.fresh_ms, 0.9),
                "freshness_samples": len(load.fresh_ms),
                "read_p50_ms": pct(read_ms, 0.5), "read_p90_ms": pct(read_ms, 0.9),
                "reads": len(load.reads), "reads_per_s": len(ok_reads) / (load.elapsed - WARM_S),
                "probe_reads": len(load.prober_reads),
                "probes_never_seen": load.unseen, "drain_s": load.drain_s,
                "generated_rows": load.rows_at_end})
    for ep, _ in HTTP_MIX:
        xs = [r[2] for r in ok_reads if r[0] == ep]
        rep[f"reads.{ep}"] = len(xs)
        lay[f"http.{ep}_ms_p50"] = pct(xs, 0.5)
        lay[f"http.{ep}_ms_p90"] = pct(xs, 0.9)
    statuses = [r[1] for r in load.reads] + [s for s, _ in load.prober_reads]
    lay["http.status_503"] = float(sum(1 for s in statuses if s == 503))
    if "serving.timeseries_ms_p50" in lay:
        # view resolution as it ran inside the requests, under the load
        resolve = rep.get("self_ms_p50.sink.view_resolve", lay["sink.view_resolve_ms_p50"])
        lay["http.overhead_ms_p50"] = (
            lay["http.timeseries_ms_p50"] - lay["serving.timeseries_ms_p50"]
            - rep.get("view_resolves_per_read", 1.0) * resolve)
    lay["gen.late_ms_max"] = max(load.late_ms) if load.late_ms else 0.0
    res["attempted"] += len(statuses)
    res["failed"] += sum(1 for s in statuses if s != 200)
    if load.errors or any(s != 200 for s in statuses):
        print(f"perfbench: dashboard request failures: statuses "
              f"{sorted(set(statuses))}, errors {load.errors[:3]}", file=sys.stderr)
    if load.unseen:
        res["correct"] = False
        res["check"] += f"; {load.unseen} probe events never became visible"
    return res


def oracle_check(run, res):
    """Compare each oracle-covered result with DuckDB over the same tables
    (the compare.py rules: column names, row count, sorted row values)."""
    import duckdb
    with open(os.path.join(run.dir, "registry.json")) as f:
        reg = json.load(f)
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    tables = os.path.join(run.dir, "tables")
    for p in sorted(os.listdir(tables)):
        name = p[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{tables}/{p}'")
    bad, checked = [], 0
    for q, meta in sorted(reg["queries"].items()):
        checked += 1
        try:
            got = con.execute(
                f"SELECT * FROM '{run.dir}/results/{q}/*.parquet'").fetchdf()
            want = con.execute(meta["oracle"]).fetchdf()
            gc, wc = sorted(got.columns), sorted(want.columns)
            if gc != wc or len(got) != len(want):
                bad.append(q)
                continue
            g = got[gc].sort_values(gc).reset_index(drop=True)
            w = want[wc].sort_values(wc).reset_index(drop=True)
            if [tuple(map(str, r)) for r in g.itertuples(index=False)] != \
                    [tuple(map(str, r)) for r in w.itertuples(index=False)]:
                bad.append(q)
        except Exception as e:  # a failing oracle query is a failed check
            bad.append(f"{q} ({e})")
    res["check"] += f"; oracle {checked - len(bad)}/{checked} match"
    if bad:
        res["correct"] = False
        res["check"] += " (differ: " + ", ".join(bad) + ")"


def run_registry(run, seed):
    gen.registry_tables(os.path.join(run.dir, "tables"), seed)
    gen.registry_tables(os.path.join(run.dir, "warm"), seed + 1, scale=0.05)
    run.start()
    res = run.finish()
    t0 = time.monotonic()
    oracle_check(run, res)
    res["report"]["oracle_check_s"] = time.monotonic() - t0
    for k in ("gen.late_ms_max", "source.backlog_at_end"):
        res["layers"].setdefault(k, 0.0)
    return res


RUNNERS = {"dashboard": run_dashboard, "registry": run_registry}


def pct(xs, q):
    """Nearest-rank percentile, as the harness computes it."""
    s = sorted(xs)
    if not s:
        return 0.0
    return s[min(len(s) - 1, max(0, math.ceil(q * len(s)) - 1))]


def cpu_ticks():
    """(steal, total) jiffies of all cpus, from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
        return fields[7], sum(fields)
    except (OSError, IndexError, ValueError):
        return 0, 0


def one(cp, workload, seed, seconds, trace, cores):
    run = Run(cp, workload, seed, seconds, trace, cores)
    steal0, total0 = cpu_ticks()
    t0 = time.monotonic()
    try:
        res = RUNNERS[workload](run, seed)
        res["seconds"] = seconds
        res["report"]["run_wall_s"] = time.monotonic() - t0
        # time the hypervisor gave this host's cpus to others: wall-clock
        # results of runs with high steal are not comparable
        steal1, total1 = cpu_ticks()
        res["report"]["host_steal_pct"] = 100.0 * (steal1 - steal0) / max(1, total1 - total0)
        if trace and os.path.exists(os.path.join(run.dir, "spans.jsonl")):
            res["spans"] = os.path.join(reports_dir(), f"{workload}-seed{seed}-spans.jsonl")
            shutil.copy(os.path.join(run.dir, "spans.jsonl"), res["spans"])
        return res
    finally:
        run.cleanup()


def reports_dir():
    d = os.path.join(BUILD, "reports")
    os.makedirs(d, exist_ok=True)
    return d


# --------------------------------------------------------------------------
# Reporting
# --------------------------------------------------------------------------

def contract():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def print_report(workload, seed, res, spec):
    print(f"== {workload} seed={seed} correct={res['correct']}: {res['check']}")
    print(f"   attempted={res['attempted']} failed={res['failed']} "
          f"error_rate={res['failed'] / max(1, res['attempted']):.6f}")
    units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    for k, v in res["e2e"].items():
        label = f"{k} ({LATENCY_MEANS[workload]})" if k == "latency_ms" else k
        print(f"   {label} = {v:.6g} {units.get(k, '')}")
    for k, v in res["report"].items():
        print(f"   {k} = {v:.6g}")
    h = res["host"]
    print(f"   host: nproc={h['nproc']} spark_cores={h['spark_cores']} "
          f"heap_max_mb={h['heap_max_mb']} loadavg='{h['loadavg']}' "
          f"spark={h['spark_version']}")


def untraced_medians(workload, seconds, stamp):
    """Median end-to-end values of the saved untraced reports of
    `workload` run for `seconds` on the sources with `stamp`, and how many
    there were; None when there are none."""
    vals = {}
    d = reports_dir()
    for name in os.listdir(d):
        if name.startswith(f"{workload}-") and "-trace0-" in name:
            with open(os.path.join(d, name)) as f:
                r = json.load(f)
            if r.get("seconds") == seconds and r.get("source_stamp") == stamp:
                for k, v in r["e2e"].items():
                    vals.setdefault(k, []).append(v)
    if not vals:
        return None
    return ({k: statistics.median(v) for k, v in vals.items()},
            max(len(v) for v in vals.values()))


def save_report(workload, seed, trace, res):
    path = os.path.join(reports_dir(),
                        f"{workload}-seed{seed}-trace{int(trace)}-{time.time_ns()}.json")
    with open(path, "w") as f:
        json.dump(res, f, indent=1, sort_keys=True)
    return path


def main():
    # a terminated benchmark still stops its JVM and removes its run dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    spec = contract()
    os.makedirs(TMP, exist_ok=True)
    os.environ["TMPDIR"] = TMP
    cp = build()
    cores = os.cpu_count() or 1
    if hasattr(os, "sched_getaffinity"):
        cores = len(os.sched_getaffinity(0))

    res = one(cp, a.workload, a.seed, a.seconds, bool(a.trace), cores)
    res["source_stamp"] = source_stamp()
    print_report(a.workload, a.seed, res, spec)
    if a.trace:
        # tracing overhead: traced minus untraced end-to-end values, the
        # latter the median of this checkout's earlier untraced runs of the
        # same sources (a second run here would not fit the time limit)
        base = untraced_medians(a.workload, a.seconds, res["source_stamp"])
        if base is None:
            print("   tracing overhead: not measured, no untraced run of these "
                  "sources in this checkout yet")
        else:
            med, n = base
            res["trace_overhead"] = {k: v - med[k] for k, v in res["e2e"].items()}
            print(f"   tracing overhead (traced minus median of {n} untraced runs): " +
                  ", ".join(f"{k} {v:+.6g}" for k, v in res["trace_overhead"].items()))
    print(f"   full report: {save_report(a.workload, a.seed, a.trace, res)}")
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    source = res["layers"] if a.trace else res["e2e"]
    metrics = {m["name"]: {"value": float(source.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in wanted}
    print(json.dumps({"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
