#!/usr/bin/env python3
"""The repository benchmark: one command, two workloads.

    python3 perfbench/run.py --workload cli_batch|service --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the program with its
own build and the harness in perfbench/harness; later runs reuse that build
while the sources and the class files are as the build left them. Inputs come only from `gen.py` and the seed. Every output is
checked against the generator's expectations. The last line of stdout is one
JSON object: `correct`, `attempted`, `failed` and `metrics`. With `--trace 0`
the metrics are the end-to-end metrics of BENCHMARK.json, measured on the
real entry points in their own JVMs. With `--trace 1` they are the per-layer
metrics, from a separate traced run. See README.md.
"""
import argparse
import hashlib
import http.client
import json
import os
import shutil
import signal
import socket
import statistics
import subprocess
import sys
import threading
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
HARNESS = os.path.join(BENCH, "harness")
WORK = os.path.join(BENCH, ".work")
sys.path.insert(0, BENCH)
import gen  # noqa: E402

CLI_ROWS = 6000                  # a CLI job of about 25-30 s on 4 cores
RUN_DATETIME = "2026-01-01T00:00:00Z"
C1_SAMPLES = 40                  # 1-client requests: p75 has 10 beyond it
C1_BLOCK = 10                    # 1-client requests before switching
C4_BLOCK = 12                    # 4-client requests before switching
WARMUP_MAX = 96                  # service warm-up cap, in requests
WARMUP_WINDOW = 32               # service warm-up window, in requests
REQUEST_TIMEOUT_S = 30
JVM_LIMIT_S = 150                # a run must end within 180 s
CLI_OUTPUTS = {"violations", "reports", "column_stats", "lang_drift",
               "partition_verdicts", "_ledger"}
CHILDREN = []


def log(msg):
    print("[perfbench] %s" % msg, file=sys.stderr, flush=True)


def die(msg, code=1):
    log(msg)
    sys.exit(code)


# ------------------------------------------------------------------ build

def nproc():
    return len(os.sched_getaffinity(0))


def heap_size():
    """Heap rule of the tier-1 tests: half of RAM, clamped to 2..8 GiB."""
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return "%dg" % min(8, max(2, kb // 2097152))


def source_key(mem):
    # the launch file holds absolute paths, so a moved checkout rebuilds
    h = hashlib.sha256((mem + ROOT).encode())
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
            os.path.join(ROOT, "project", "build.properties"),
            os.path.join(HARNESS, "build.sbt"),
            os.path.join(HARNESS, "project", "build.properties"),
            os.path.join(HARNESS, "src")]
    for top in tops:
        walk = ([(os.path.dirname(top), [], [os.path.basename(top)])]
                if os.path.isfile(top) else os.walk(top))
        for d, dirs, files in walk:
            dirs.sort()
            for name in sorted(files):
                p = os.path.join(d, name)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def class_state(launch):
    """Size and mtime of every file in the build's class directories. The
    program's classes live in the root build's own `target/`, which the
    repository's tests also write, so a source key alone could vouch for
    classes compiled from other sources."""
    h = hashlib.sha256()
    for entry in launch["classpath"]:
        for d, dirs, files in os.walk(entry):
            dirs.sort()
            for name in sorted(files):
                p = os.path.join(d, name)
                st = os.stat(p)
                h.update(("%s %d %d\n" % (p, st.st_size, st.st_mtime_ns))
                         .encode())
    return h.hexdigest()


def build(mem):
    """Compiles the program and the harness unless the last build was of
    these sources and its class files are untouched since; returns the
    launch description (classpath and the build's JVM options)."""
    for need in ("build.sbt", "project/build.properties",
                 "src/main/scala/graft/cli/Main.scala"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            die("no program to build: %s is missing next to perfbench/" % need,
                2)
    key = source_key(mem)
    launch_path = os.path.join(HARNESS, "target", "launch.json")
    stamp = os.path.join(WORK, "build.key")
    if os.path.exists(launch_path) and os.path.exists(stamp):
        with open(launch_path) as f:
            launch = json.load(f)
        with open(stamp) as f:
            if f.read() == key + " " + class_state(launch):
                return launch
    os.makedirs(WORK, exist_ok=True)
    env = dict(os.environ, SPARK_DRIVER_MEM=mem, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
    log("building program and harness")
    t0 = time.time()
    with open(os.path.join(WORK, "build.log"), "w") as out:
        rc = subprocess.call(["sbt", "-batch", "-Dsbt.log.noformat=true",
                              "launchFile"], cwd=HARNESS, env=env,
                             stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
    if rc != 0:
        with open(os.path.join(WORK, "build.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        die("build failed (exit %d)" % rc)
    log("built in %.0f s" % (time.time() - t0))
    with open(launch_path) as f:
        launch = json.load(f)
    with open(stamp, "w") as f:
        f.write(key + " " + class_state(launch))
    return launch


# --------------------------------------------------------------- processes

class Jvm:
    """Launches JVMs with the program build's options, inside the run's
    work directory, and reaps them with their resource usage."""

    def __init__(self, launch, mem, work):
        self.work = work
        tmp = os.path.join(work, "tmp")
        local = os.path.join(work, "spark-local")
        os.makedirs(tmp)
        os.makedirs(local)
        self.opts = launch["java_options"] + [
            "-Djava.io.tmpdir=" + tmp, "-Dspark.local.dir=" + local]
        self.cp = ":".join(launch["classpath"])
        self.env = dict(os.environ, SPARK_GRAFT_CPUS=str(nproc()),
                        SPARK_DRIVER_MEM=mem, SPARK_LOCAL_DIRS=local)
        self.logs = 0

    def start(self, main, args):
        self.logs += 1
        log_path = os.path.join(self.work, "jvm-%d.log" % self.logs)
        p = subprocess.Popen(["java"] + self.opts + ["-cp", self.cp, main]
                             + list(args), cwd=self.work, env=self.env,
                             stdin=subprocess.DEVNULL,
                             stdout=open(log_path, "w"),
                             stderr=subprocess.STDOUT)
        p.log_path = log_path
        CHILDREN.append(p)
        return p

    @staticmethod
    def reap(p, limit=JVM_LIMIT_S):
        """Waits for `p`, killing it after `limit` seconds; returns (exit
        code, peak RSS in MB)."""
        watchdog = threading.Timer(limit, p.kill)
        watchdog.daemon = True
        watchdog.start()
        try:
            _, status, usage = os.wait4(p.pid, 0)
        finally:
            watchdog.cancel()
        p.returncode = os.waitstatus_to_exitcode(status)
        CHILDREN.remove(p)
        return p.returncode, usage.ru_maxrss / 1024.0

    def run(self, main, args):
        t0 = time.perf_counter()
        p = self.start(main, args)
        rc, rss = self.reap(p)
        return rc, rss, time.perf_counter() - t0, p.log_path


def stop_children(*_):
    for p in list(CHILDREN):
        if p.poll() is None:
            p.terminate()
            try:
                p.wait(20)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
    CHILDREN.clear()


def tail(path, n=30):
    with open(path, errors="replace") as f:
        return "".join(f.readlines()[-n:])


# ------------------------------------------------------------------ checks

def quantile(xs, q):
    """Linear-interpolated quantile (the 'inclusive' method)."""
    s = sorted(xs)
    if len(s) == 1:
        return s[0]
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def read_table(path, columns=None):
    import pyarrow.dataset as ds
    return ds.dataset(path, format="parquet").to_table(columns=columns)


def fingerprints(jvm, dump):
    rc, _, _, log_path = jvm.run("graftbench.Fingerprint", [dump])
    if rc != 0:
        die("fingerprint failed:\n" + tail(log_path))
    with open(log_path) as f:
        return json.loads(f.read().strip().splitlines()[-1])


def cli_problems(out, exp, rc):
    """Differences between one CLI run's outputs and the expectations."""
    bad = []
    if rc != exp["exit_code"]:
        bad.append("exit code %s, expected %s" % (rc, exp["exit_code"]))
    dirs = set(os.listdir(out)) if os.path.isdir(out) else set()
    if dirs != CLI_OUTPUTS:
        return bad + ["output directories %s" % sorted(dirs)]
    rules = {}
    for r in read_table(os.path.join(out, "violations"),
                        ["rule_id"]).column("rule_id").to_pylist():
        rules[r] = rules.get(r, 0) + 1
    if rules != exp["violations_by_rule"]:
        bad.append("violations by rule %s" % rules)
    n = read_table(os.path.join(out, "reports"), ["lang"]).num_rows
    if n != exp["reports_rows"]:
        bad.append("reports rows %d, expected %d" % (n, exp["reports_rows"]))
    want = {lang: dict(p, sha_fingerprint=exp["fingerprints"][lang])
            for lang, p in exp["partitions"].items()}
    got = {r["lang"]: {k: r[k] for k in want[r["lang"]]}
           for r in read_table(os.path.join(out, "partition_verdicts"))
           .to_pylist() if r["lang"] in want}
    if got != want:
        bad.append("partition verdicts %s" % got)
    ledger = {}
    for name in os.listdir(os.path.join(out, "_ledger")):
        if name.endswith(".commit"):
            with open(os.path.join(out, "_ledger", name)) as f:
                e = json.load(f)
            ledger[e.pop("lang")] = e
    keys = ("records", "failed_records", "sha_fingerprint", "verdict")
    if ledger != {l: {k: p[k] for k in keys} for l, p in want.items()}:
        bad.append("ledger %s" % ledger)
    return bad


def row_counts(out):
    return {d: (read_table(os.path.join(out, d)).num_rows
                if d != "_ledger" else len(os.listdir(os.path.join(out, d))))
            for d in sorted(os.listdir(out))}


# --------------------------------------------------------------- cli_batch

def cli_setup(seed, jvm, reps):
    """Generates and writes the seeded table `reps` times; returns the
    table, the expectations and the median set-up time."""
    inp = os.path.join(jvm.work, "input")
    dump = os.path.join(jvm.work, "contents.bin")
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        rows, exp = gen.records(seed, CLI_ROWS)
        shutil.rmtree(inp, ignore_errors=True)
        gen.write_records(rows, inp, dump)
        times.append(time.perf_counter() - t0)
    exp["fingerprints"] = fingerprints(jvm, dump)
    os.remove(dump)
    return inp, exp, statistics.median(times)


def cli_args(inp, out):
    return ["--input", inp, "--output", out, "--ledger",
            os.path.join(out, "_ledger"), "--run-datetime", RUN_DATETIME]


def cli_batch(seed, seconds, jvm):
    inp, exp, setup_s = cli_setup(seed, jvm, 9)
    walls, rss, failed = [], [], 0
    t_start = time.perf_counter()
    while not walls or time.perf_counter() - t_start < seconds:
        out = os.path.join(jvm.work, "out%d" % len(walls))
        rc, mb, wall, log_path = jvm.run("graft.cli.Main", cli_args(inp, out))
        bad = cli_problems(out, exp, rc)
        if bad:
            failed += 1
            log("cli job wrong: %s\n%s" % ("; ".join(bad), tail(log_path)))
        walls.append(wall)
        rss.append(mb)
        shutil.rmtree(out)
    log("cli_batch: %d rows, %d job(s), walls %s s" %
        (CLI_ROWS, len(walls), ", ".join("%.2f" % w for w in walls)))
    return len(walls), failed, {
        "setup_s": setup_s,
        "records_per_s": CLI_ROWS / statistics.median(walls),
        "p50_ms": 1000 * statistics.median(walls),
        "p75_ms": 1000 * quantile(walls, 0.75),
        "peak_rss_mb": max(rss),
    }


def cli_batch_trace(seed, jvm):
    inp, exp, _ = cli_setup(seed, jvm, 1)
    real_out = os.path.join(jvm.work, "out-real")
    real_report = os.path.join(jvm.work, "real.json")
    rc, _, _, real_log = jvm.run("graftbench.TimedMain", [
        real_report, "graft.cli.Main"] + cli_args(inp, real_out))
    traced_out = os.path.join(jvm.work, "out-traced")
    report = os.path.join(jvm.work, "traced.json")
    spans = os.path.join(WORK, "last-trace", "cli_batch-spans.jsonl")
    trc, _, _, traced_log = jvm.run("graftbench.CliTrace", cli_args(
        inp, traced_out) + ["--report", report, "--spans", spans])
    if trc != 0:
        die("traced cli run failed:\n" + tail(traced_log))
    with open(real_report) as f:
        real = json.load(f)
    with open(report) as f:
        traced = json.load(f)

    failed = 0
    for name, out, code, log_path in ((
            "real", real_out, rc, real_log),
            ("traced", traced_out, traced["exit_code"], traced_log)):
        bad = cli_problems(out, exp, code)
        if bad:
            failed += 1
            log("%s cli run wrong: %s\n%s" % (name, "; ".join(bad),
                                              tail(log_path)))

    m = traced["metrics"]
    m["cli_batch.io.input_scans"] = traced["file_rows_read"] / CLI_ROWS
    wall, untraced = m["cli_batch.trace.wall_s"], real["in_process_s"]
    m["cli_batch.trace.untraced_wall_s"] = untraced
    m["cli_batch.trace.overhead_s"] = wall - untraced
    # drift guard: the traced copy must still be the program's CLI
    drift = []
    if failed == 0 and row_counts(real_out) != row_counts(traced_out):
        drift.append("outputs differ: real %s, traced %s" % (
            row_counts(real_out), row_counts(traced_out)))
    if m["cli_batch.trace.unaccounted_s"] > 0.05 * wall:
        drift.append("%.1f s of the traced wall is outside every layer span" %
                     m["cli_batch.trace.unaccounted_s"])
    if abs(wall - untraced) > 0.35 * untraced:
        drift.append("traced wall %.1f s vs the real CLI's %.1f s in-process"
                     % (wall, untraced))
    if drift:
        die("the traced run no longer replays graft.cli.Main: "
            + "; ".join(drift) + " -- update perfbench/harness CliTrace", 3)
    return 2, failed, m


# ----------------------------------------------------------------- service

def service_requests(seed, slices):
    reqs = gen.requests(seed, sum(n for _, n in slices))
    out, i = {}, 0
    for name, n in slices:
        out[name] = reqs[i:i + n]
        i += n
    return out


class Client:
    """Closed-loop HTTP client: one keep-alive connection per caller."""

    def __init__(self, port):
        self.port = port
        self.lock = threading.Lock()
        self.attempted = 0
        self.failed = 0

    def tally(self, ok, why):
        with self.lock:
            self.attempted += 1
            if not ok:
                self.failed += 1
                log(why)

    def send(self, conn, q):
        """One request; returns its latency in ms, or None if it failed."""
        path = "/processes/pywcmp-wis2-wcmp2-%s/execution" % q["process"]
        t0 = time.perf_counter()
        conn.request("POST", path, body=q["body"].encode("utf-8"),
                     headers={"Content-Type": "application/json"})
        resp = conn.getresponse()
        body = resp.read()
        ms = 1000 * (time.perf_counter() - t0)
        ok = resp.status == q["status"]
        if ok and q["failed"] is not None:
            try:
                ok = json.loads(body)["summary"]["FAILED"] == q["failed"]
            except (ValueError, KeyError, TypeError):
                ok = False
        self.tally(ok, "request %s/%s: got %d, expected %d / FAILED %s: %s" % (
            q["process"], q["shape"], resp.status, q["status"], q["failed"],
            body[:200]))
        return ms if ok else None

    def conn(self):
        return http.client.HTTPConnection("localhost", self.port,
                                          timeout=REQUEST_TIMEOUT_S)

    def closed_loop(self, clients, pool):
        """Sends `pool` from `clients` callers, each sending its next request
        when the last one returns; returns the latencies in ms in pool
        order, None for a failed request."""
        lat, nxt = [None] * len(pool), [0]

        def caller():
            c = self.conn()
            try:
                while True:
                    with self.lock:
                        i = nxt[0]
                        if i >= len(pool):
                            return
                        nxt[0] += 1
                    try:
                        lat[i] = self.send(c, pool[i])
                    except Exception as e:  # a transport error fails the request
                        self.tally(False, "request %s/%s: %r" % (
                            pool[i]["process"], pool[i]["shape"], e))
                        c.close()
                        c = self.conn()
            finally:
                c.close()

        threads = [threading.Thread(target=caller) for _ in range(clients)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        return lat


def free_port():
    with socket.socket() as s:
        s.bind(("localhost", 0))
        return s.getsockname()[1]


def ets_median(pool, lat):
    """Median latency of the ETS reports (status 200) in a block: the mix's
    most common shape, so warm-up windows compare like with like."""
    xs = [ms for q, ms in zip(pool, lat) if ms is not None
          and q["process"] == "ets" and q["status"] == 200]
    return statistics.median(xs) if xs else float("inf")


def service(seed, seconds, jvm):
    slices = service_requests(seed, [("warmup", WARMUP_MAX), ("c1", 600),
                                     ("c4", 720)])
    port = free_port()
    t0 = time.perf_counter()
    p = jvm.start("graft.service.Wcmp2Service", ["--port", str(port)])
    client = Client(port)

    def block(clients, pool):
        lat = client.closed_loop(clients, pool)
        if p.poll() is not None:
            die("the service exited (%s) mid-run:\n%s" % (p.returncode,
                                                          tail(p.log_path)))
        if all(ms is None for ms in lat):
            die("a block of %d requests at %d client(s) had no successful "
                "request" % (len(pool), clients))
        return lat

    try:
        while True:
            if p.poll() is not None or time.perf_counter() - t0 > 150:
                die("service did not come up:\n" + tail(p.log_path))
            try:
                c = client.conn()
                c.request("GET", "/processes")
                status = c.getresponse().status
                c.close()
                if status == 200:
                    break
            except OSError:
                time.sleep(0.05)
        setup_s = time.perf_counter() - t0

        # warm-up: 4 callers, windows of WARMUP_WINDOW requests, until the
        # ETS-report medians of two windows in a row are no longer 5 % below
        # the best earlier window (latency falls for ~150 requests while the
        # JIT compiles the planner's paths; one window is too noisy to judge)
        best, pool, medians, misses = float("inf"), slices["warmup"], [], 0
        for w in range(0, len(pool), WARMUP_WINDOW):
            win = pool[w:w + WARMUP_WINDOW]
            medians.append(ets_median(win, block(4, win)))
            misses = misses + 1 if medians[-1] >= 0.95 * best else 0
            if misses == 2:
                break
            best = min(best, medians[-1])
        log("service warm-up: %d requests, window medians %s ms" % (
            w + len(win), ", ".join("%.0f" % m for m in medians)))
        # 1 and 4 callers in alternating blocks, so that both levels see the
        # same share of whatever else runs on the machine
        c1, c4, blocks, t1 = [], [], [], time.perf_counter()
        while len(c1) < C1_SAMPLES or time.perf_counter() - t1 < seconds:
            n = len(blocks)
            if (n + 1) * C1_BLOCK > len(slices["c1"]):
                break
            lat = [x for x in block(1, slices["c1"][n * C1_BLOCK:
                                                    (n + 1) * C1_BLOCK])
                   if x is not None]
            blocks.append(statistics.median(lat))
            c1 += lat
            c4 += [x for x in block(4, slices["c4"][n * C4_BLOCK:
                                                    (n + 1) * C4_BLOCK])
                   if x is not None]
    finally:
        if p.poll() is None:
            p.terminate()
    _, rss = jvm.reap(p)
    # closed loop without think time: throughput = callers / mean latency
    c4_rate = 4000.0 / statistics.mean(c4)
    log("service: c1 block medians %s ms" % ", ".join(
        "%.0f" % m for m in blocks))
    log("service: c1 n=%d p50=%.1f p75=%.1f ms; c4 n=%d p50=%.1f p75=%.1f ms "
        "%.2f req/s" % (len(c1), quantile(c1, .5), quantile(c1, .75), len(c4),
                        quantile(c4, .5), quantile(c4, .75), c4_rate))
    return client.attempted, client.failed, {
        "setup_s": setup_s,
        "records_per_s": c4_rate,
        "p50_ms": quantile(c1, 0.5),
        "p75_ms": quantile(c1, 0.75),
        "peak_rss_mb": rss,
    }


def service_trace(seed, jvm):
    slices = service_requests(seed, [("warmup", WARMUP_MAX), ("inproc", 24),
                                     ("traced", 24), ("http", 24)])
    path = os.path.join(jvm.work, "requests.jsonl")
    with open(path, "w") as f:
        for name, reqs in slices.items():
            for q in reqs:
                f.write(json.dumps(dict(q, slice=name)) + "\n")
    report = os.path.join(jvm.work, "service-trace.json")
    spans = os.path.join(WORK, "last-trace", "service-spans.jsonl")
    rc, _, _, log_path = jvm.run("graftbench.ServiceTrace", [
        "--requests", path, "--report", report, "--spans", spans])
    if rc != 0:
        die("traced service run failed:\n" + tail(log_path))
    with open(report) as f:
        r = json.load(f)
    log("service trace: warm-up window medians %s ms, %d samples" % (
        ", ".join("%.0f" % m for m in r["warmup_medians_ms"]), r["samples"]))
    return r["attempted"], r["failed"], r["metrics"]


# -------------------------------------------------------------------- main

WORKLOADS = {"cli_batch": (cli_batch, cli_batch_trace),
             "service": (service, service_trace)}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    mem = heap_size()
    launch = build(mem)
    load0 = os.getloadavg()
    work = os.path.join(WORK, "run-%d" % os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "last-trace"), exist_ok=True)
    try:
        jvm = Jvm(launch, mem, work)
        run, traced = WORKLOADS[a.workload]
        if a.trace:
            attempted, failed, measured = traced(a.seed, jvm)
            wanted = spec["per_layer"]
        else:
            attempted, failed, measured = run(a.seed, a.seconds, jvm)
            wanted = spec["end_to_end"]
    finally:
        stop_children()
        shutil.rmtree(work, ignore_errors=True)
    log("load average at start %s, at end %s" % (
        "/".join("%.2f" % x for x in load0),
        "/".join("%.2f" % x for x in os.getloadavg())))
    metrics = {}
    for m in wanted:
        name = m["name"]
        if name in measured:
            value = float(measured[name])
        elif a.trace and not name.startswith(a.workload + "."):
            # a per-layer metric of another workload's layers reads 0: that
            # layer is not on this workload's path
            value = 0.0
        else:
            die("metric %s was not measured" % name)
        metrics[name] = {"value": value, "unit": m["unit"]}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    try:
        main()
    finally:
        stop_children()
