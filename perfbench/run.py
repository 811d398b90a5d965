#!/usr/bin/env python3
"""The repository benchmark: the client's path through GraftHttpServer,
plus the in-process operator batch.

Run from the root of a checkout:

    python3 perfbench/run.py --workload olap_mix --seed 1 --seconds 10 --trace 0

It builds the program from source (sbt, once per checkout), generates the
input tables (once per checkout), starts the server in a fresh JVM whose
home, temp and Spark local dirs live in a per-run directory that is removed
at exit, drives the workload, checks every answer against DuckDB, and
prints one JSON object as the last line of stdout. `--trace 0` reports the
end-to-end metrics; `--trace 1` replays the same statements through the
layers' public functions with spans and reports the per-layer metrics.
See perfbench/README.md for what each metric measures.
"""
import argparse
import base64
import hashlib
import http.client
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import datagen  # noqa: E402
import workloads as wl  # noqa: E402

WORKLOADS = ["olap_mix", "bulk_export", "rw_mixed", "llm_pipeline"]
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
SBT_OPTS = ("-Dsbt.override.build.repos=true -Dsbt.repository.config={home}/.sbt/repositories "
            "-Dsbt.offline=true -Xmx2g")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def nproc():
    return len(os.sched_getaffinity(0))


def heap_flag():
    """-Xmx as the repository's test command sizes it: half of MemTotal,
    clamped to 2..8 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"-Xmx{min(max(g, 2), 8)}g"


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except OSError:
        return -1.0


def git_commit(root):
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


# ---------------------------------------------------------------- build

def source_fingerprint(root):
    h = hashlib.sha256()
    for base in (os.path.join(root, "src", "main"), os.path.join(HERE, "src")):
        for dirpath, dirnames, files in os.walk(base):
            dirnames.sort()
            for f in sorted(files):
                p = os.path.join(dirpath, f)
                st = os.stat(p)
                h.update(f"{p}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    for p in (os.path.join(root, "build.sbt"), os.path.join(HERE, "build.sbt")):
        h.update(open(p, "rb").read())
    return h.hexdigest()


def build(root, work):
    """Compile the program and the host, and record the runtime classpath
    sbt resolved for them. Returns the classpath."""
    stamp = os.path.join(work, "build.stamp")
    classpath = os.path.join(work, "classpath.txt")
    fp = source_fingerprint(root)
    if os.path.exists(stamp) and open(stamp).read() == fp:
        return open(classpath).read()
    log("building the program and the benchmark host with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", SBT_OPTS.format(home=os.path.expanduser("~")))
    t0 = time.time()
    proc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "perfbench/compile",
                           "export perfbench/Runtime/fullClasspath"],
                          cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                          stdout=subprocess.PIPE, stderr=subprocess.STDOUT, timeout=840)
    out = proc.stdout.decode(errors="replace")
    lines = [l for l in out.splitlines() if "scala-2.13" in l and not l.startswith("[")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(out[-4000:])
        raise SystemExit("sbt build failed")
    os.makedirs(work, exist_ok=True)
    with open(classpath, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp, "w") as f:
        f.write(fp)
    log(f"build done in {time.time() - t0:.0f} s")
    return lines[-1].strip()


# ---------------------------------------------------------------- host JVM

class Host:
    """The JVM running the server and the in-process paths (perfbench.Host)."""

    def __init__(self, classpath, run_dir, data_dir, home):
        self.t_launch = time.perf_counter()
        for d in ("tmp", "spark-local"):
            os.makedirs(os.path.join(run_dir, d), exist_ok=True)
        self.xmx = heap_flag()
        self.cpus = nproc()
        cmd = (["java"] + [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS] +
               # C1 alone would also shrink the code cache to 48 MB, which
               # Spark's generated code fills; keep the tiered default
               [self.xmx, "-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=240m",
                "-XX:-UsePerfData",
                "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                f"-Duser.home={home}", f"-Djava.io.tmpdir={run_dir}/tmp",
                f"-Dspark.local.dir={run_dir}/spark-local",
                "-cp", classpath, "perfbench.Host", data_dir])
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(self.cpus), SPARK_GRAFT_TMPFS="0")
        env.pop("SPARK_GRAFT_SF_DIR", None)
        self.stderr_path = os.path.join(run_dir, "host.stderr")
        self.err = open(self.stderr_path, "wb")
        self.proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdin=subprocess.PIPE,
                                     stdout=subprocess.PIPE, stderr=self.err)
        self.ready = self._read()["ready"]
        self.t_ready = time.perf_counter()

    def _read(self):
        while True:
            line = self.proc.stdout.readline()
            if not line:
                raise RuntimeError(f"host exited early:\n{self.stderr_tail()}")
            if line.startswith(b"@@"):
                return json.loads(line[2:])

    def call(self, **cmd):
        self.proc.stdin.write((json.dumps(cmd) + "\n").encode())
        self.proc.stdin.flush()
        reply = self._read()
        if "error" in reply:
            raise RuntimeError(f"host command {cmd['cmd']} failed: {reply['error']}")
        return reply

    def stderr_tail(self):
        """The end of the JVM's log and of any crash report, for a failed run."""
        self.err.flush()
        out = open(self.stderr_path, "rb").read()[-3000:].decode(errors="replace")
        for f in os.listdir(os.path.dirname(self.stderr_path)):
            if f.startswith("hs_err_pid"):
                out += open(os.path.join(os.path.dirname(self.stderr_path), f)).read()[:3000]
        return out

    def close(self):
        if self.proc.poll() is None:
            try:
                self.proc.stdin.write(b'{"cmd":"quit"}\n')
                self.proc.stdin.flush()
                self.proc.wait(timeout=30)
            except (OSError, subprocess.TimeoutExpired):
                pass
        if self.proc.poll() is None:
            self.proc.kill()
            self.proc.wait()
        self.err.close()


# ---------------------------------------------------------------- wire client

class Client:
    """One client connection and server session over loopback HTTP."""

    def __init__(self, port, user, password):
        self.port = port
        self.conn = http.client.HTTPConnection("127.0.0.1", port, timeout=170)
        basic = base64.b64encode(f"{user}:{password}".encode()).decode()
        t0 = time.perf_counter()
        status, body = self.request("POST", "/auth", b"", {"Authorization": f"Basic {basic}"})
        self.login_ms = (time.perf_counter() - t0) * 1e3
        if status != 200:
            raise RuntimeError(f"login failed: {status} {body[:200]}")
        self.token = json.loads(body)["token"]
        self.handles = {}

    def request(self, method, path, body, headers):
        try:
            self.conn.request(method, path, body=body, headers=headers)
            resp = self.conn.getresponse()
            return resp.status, resp.read()
        except (http.client.HTTPException, OSError):
            self.conn.close()
            self.conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=170)
            raise

    def call(self, path, body=b"", headers=None):
        h = {"Authorization": f"Bearer {self.token}"}
        h.update(headers or {})
        return self.request("POST", path, body, h)

    def run(self, stmt):
        """Send one statement; returns (status, body). Prepared statements
        use a handle from an earlier /prepare of the same template."""
        if stmt["kind"] == "prepared":
            handle = self.handles.get(stmt["template"])
            if handle is None:
                status, body = self.call("/prepare", stmt["template"].encode())
                if status != 200:
                    return status, body
                handle = self.handles[stmt["template"]] = json.loads(body)["handle"]
            params = "\n".join(f"{k}={v}" for k, v in stmt["params"].items())
            return self.call("/execute", params.encode(), {"X-Graft-Handle": handle})
        if stmt["kind"] == "ingest":
            return self.call("/ingest", stmt["body"], {"X-Graft-Table": stmt["table"],
                                                       "X-Graft-Mode": "append"})
        return self.call("/sql", stmt["text"].encode())


def decode(body):
    import pyarrow as pa
    return pa.ipc.open_stream(body).read_all()


def timed(client, stmt):
    """Run `stmt`; latency runs from the request until the result is decoded."""
    t0 = time.perf_counter()
    try:
        status, body = client.run(stmt)
        table = decode(body) if status == 200 and stmt["kind"] != "ingest" else None
        err = None if status == 200 else f"HTTP {status}: {body[:300]!r}"
    except Exception as e:  # noqa: BLE001 - any failure is a failed operation
        status, body, table, err = 0, b"", None, f"{type(e).__name__}: {e}"
    t1 = time.perf_counter()
    return {"lat_ms": (t1 - t0) * 1e3, "bytes": len(body), "table": table, "error": err,
            "t_end": t1}


# ---------------------------------------------------------------- results

class Checker:
    """Expected answers from DuckDB on the same Parquet files."""

    def __init__(self, data_dir):
        self.con = checks.connect(data_dir, datagen.TABLES, threads=nproc())
        self.cache = {}

    def expected(self, text):
        if text not in self.cache:
            self.cache[text] = checks.checksum(self.con, self.con.sql(text))
        return self.cache[text]

    def actual(self, table):
        return checks.checksum_arrow(self.con, table)


def latency_summary(lat):
    p = checks.tail_percentile(len(lat))
    return {"n": len(lat), "p50_ms": checks.median(lat) if lat else None,
            "tail_pct": p, "tail_ms": checks.percentile(lat, p) if lat else None}


def per_shape(samples):
    shapes = {}
    for s in samples:
        key = f"{s['shape']}/{s['kind']}" if "kind" in s else s["shape"]
        shapes.setdefault(key, []).append(s["lat_ms"])
    return {k: {"n": len(v), "p50_ms": round(checks.median(v), 3)} for k, v in sorted(shapes.items())}


class Run:
    """State shared by the workload functions of one invocation."""

    def __init__(self, args, root, work, classpath, run_dir, data_dir, layout_home):
        self.args, self.root, self.work, self.classpath = args, root, work, classpath
        self.run_dir, self.data_dir, self.layout_home = run_dir, data_dir, layout_home
        self.seed, self.seconds, self.trace = args.seed, float(args.seconds), args.trace == 1
        self.host = None
        self.attempted = 0
        self.failed = 0
        self.stale = 0
        self.failures = []
        self.detail = {}

    def fail(self, what, why):
        self.failed += 1
        if len(self.failures) < 20:
            self.failures.append(f"{what}: {why}"[:400])

    def start_host(self):
        home = os.path.join(self.run_dir, "home")
        shutil.copytree(self.layout_home, home)
        self.host = Host(self.classpath, self.run_dir, self.data_dir, home)
        self.detail["host_ready"] = {k: v for k, v in self.host.ready.items()
                                     if k not in ("password", "spark_conf")}
        self.detail["spark_conf"] = self.host.ready["spark_conf"]

    def client(self):
        r = self.host.ready
        return Client(r["port"], r["user"], r["password"])

    def bootstrap(self, client):
        """The session's first statement: session creation and catalog bootstrap."""
        t0 = time.perf_counter()
        status, body = client.call("/sql", b"SELECT 1")
        if status != 200:
            raise RuntimeError(f"session bootstrap failed: {status} {body[:200]}")
        return (time.perf_counter() - t0) * 1e3

    def scrape_metrics(self, client):
        t0 = time.perf_counter()
        status, body = client.request("GET", "/metrics", None,
                                   {"Authorization": f"Bearer {client.token}"})
        if status != 200:
            raise RuntimeError(f"/metrics failed: {status}")
        return (time.perf_counter() - t0) * 1e3

    def stats(self):
        return self.host.call(cmd="stats")


def closed_loop(client, stream):
    """One closed-loop client: the next statement only after the previous
    one completes. The decoded results are kept and checked after the run."""
    out = []
    for i, stmt in enumerate(stream):
        r = timed(client, stmt)
        r["i"], r["shape"], r["kind"] = i, stmt["shape"], stmt["kind"]
        out.append(r)
    return out


def run_threads(fns):
    results = [None] * len(fns)
    errors = []

    def wrap(k, f):
        try:
            results[k] = f()
        except BaseException as e:  # noqa: BLE001 - re-raised below
            errors.append(e)

    ts = [threading.Thread(target=wrap, args=(k, f)) for k, f in enumerate(fns)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    if errors:
        raise errors[0]
    return results


def check_reads(run, checker, pairs):
    """Count each (statement, sample) pair; a failed request or an answer
    that differs from DuckDB's is a failed operation. A sample holds its
    decoded result as `table`."""
    for stmt, s in pairs:
        run.attempted += 1
        table = s.pop("table", None)
        if s["error"]:
            run.fail(stmt["shape"], s["error"])
        elif table is None or not checks.same(checker.actual(table), checker.expected(stmt["text"])):
            run.fail(stmt["shape"], f"wrong answer to {stmt['text'][:200]}")


def failed_ratio(run):
    """Failed operations and stale reads over attempted operations."""
    return (run.failed + run.stale) / max(run.attempted, 1)


def e2e(run, summ, n, window_s, setup_s, heap_mb):
    """The end-to-end values of a run: `summ` is the statement latency
    summary, `n` the statements completed in `window_s` seconds."""
    run.detail["latency"] = summ
    run.detail["window_s"] = window_s
    return {"setup_s": setup_s, "stmt_p50_ms": summ["p50_ms"], "stmt_tail_ms": summ["tail_ms"],
            "stmt_per_s": n / window_s, "heap_used_mb": heap_mb}


# ---------------------------------------------------------------- traced replay

ROTATIONS = [("a", "b", "c"), ("b", "c", "a"), ("c", "a", "b")]


def traced_replay(run, make_op, sessions, http_one, on_direct=None):
    """The traced run: each statement three ways, back to back --
    (a) direct layer calls untraced, (b) the same with spans and Spark's
    counters, (c) over HTTP -- in an order that rotates from statement to
    statement, so no way always meets warm or cold caches first. Runs whole
    statements until `run.seconds` have gone by. `make_op(i, way)` gives
    statement i as that way runs it and `on_direct(op, result)` sees each
    direct result as it returns; returns {way: [(op, result), ...]} and the
    spans of the traced calls."""
    tokens = {name: c.token for name, c in sessions.items()}
    out = {"a": [], "b": [], "c": []}
    t0 = time.perf_counter()
    i = 0
    while time.perf_counter() - t0 < run.seconds:
        for way in ROTATIONS[i % 3]:
            op = make_op(i, way)
            if way == "c":
                r = http_one(op)
            else:
                r = run.host.call(cmd="replay", ops=[op], tokens=tokens, trace=way == "b",
                                  outdir=os.path.join(run.run_dir, "results"))["results"][0]
                if on_direct is not None:
                    on_direct(op, r)
            out[way].append((op, r))
        i += 1
    out["spans"] = save_spans(run)
    return out


def save_spans(run):
    path = os.path.join(run.work, "results", f"spans-{run.args.workload}-{run.seed}.jsonl")
    run.detail["spans_file"] = os.path.relpath(path, run.root)
    run.detail["spans"] = run.host.call(cmd="spans", file=path)["spans"]
    with open(path) as f:
        return [json.loads(line) for line in f]


def direct_table(res):
    import pyarrow as pa
    with open(res["result"], "rb") as f:
        return pa.ipc.open_stream(f.read()).read_all()


def layer_metrics(run, spans, direct_a, direct_b):
    """Per-layer metrics from the traced pass's spans (means per statement
    unless the name says otherwise)."""
    selfs = checks.self_times(spans)
    roots = [s for s in spans if s["parent"] == -1]
    n = max(len(roots), 1)
    by_name = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)

    def total_ms(name):
        return sum(s["end_ns"] - s["start_ns"] for s in by_name.get(name, [])) / 1e6

    def mean_ms(name):
        """Mean duration of the calls a span name stands for (0 if none)."""
        calls = len(by_name.get(name, []))
        return total_ms(name) / calls if calls else 0.0

    def attr(name):
        return sum(s["attrs"].get(name, 0.0) for s in roots)

    m = {}
    m["auth.validate_us"] = mean_ms("auth.validate") * 1e3
    m["sessions.prepare_ms"] = mean_ms("sessions.prepare")
    m["statement.create_ms"] = total_ms("statement.create") / n
    creates = [s for s in roots if "cache_hit" in s["attrs"]]
    m["plancache.calls"] = len(creates)
    m["plancache.hit_ratio"] = (sum(s["attrs"]["cache_hit"] for s in creates) / len(creates)
                                if creates else 0.0)
    for k, a in (("parse", "parse_ms"), ("analyze", "analyze_ms"),
                 ("optimize", "optimize_ms"), ("plan", "plan_ms")):
        m[f"catalyst.{k}_ms"] = attr(a) / n
    m["admission.wait_ms"] = total_ms("admission.wait") / n
    m["admission.rejected"] = sum(1 for r in direct_a if r["error"] and "admission" in r["error"].lower())
    wall = attr("job_wall_ms")
    m["exec.wall_ms"] = wall / n
    for k in ("jobs", "stages", "stages_skipped", "tasks", "cpu_ms", "gc_ms"):
        m[f"exec.{k}"] = attr(k) / n
    m["exec.cpu_util"] = attr("cpu_ms") / (wall * run.host.ready["default_parallelism"]) if wall else 0.0
    for k, a in (("input_mb", "input_bytes"), ("shuffle_write_mb", "shuffle_write_bytes"),
                 ("shuffle_read_mb", "shuffle_read_bytes"), ("spill_mb", "spill_bytes")):
        m[f"exec.{k}"] = attr(a) / n / 1048576
    enc = by_name.get("arrow.encode", [])
    root_of = {r["stmt"]: r for r in roots}
    enc_self_ms = sum(max((s["end_ns"] - s["start_ns"]) / 1e6 -
                          root_of[s["stmt"]]["attrs"].get("exec_job_wall_ms", 0.0), 0.0) for s in enc)
    reads = [r for r in direct_b if r["result"]]
    out_bytes = sum(r["bytes"] for r in reads)
    m["arrow.encode_ms"] = enc_self_ms / max(len(enc), 1)
    m["arrow.rows_out"] = sum(r["rows"] for r in reads) / max(len(reads), 1)
    m["arrow.bytes_out"] = out_bytes / max(len(reads), 1)
    m["arrow.encode_mb_per_s"] = out_bytes / 1048576 / (enc_self_ms / 1e3) if enc_self_ms > 0 else 0.0
    m["arrow.decode_ms"] = mean_ms("arrow.decode")
    m["ingest.write_ms"] = mean_ms("ingest.write")
    ing = [r for r in roots if "user_bytes" in r["attrs"]]
    m["ingest.rows"] = sum(r["attrs"]["rows"] for r in ing) / max(len(ing), 1)
    m["dml.delete_ms"] = mean_ms("dml.delete")
    user = sum(r["attrs"]["user_bytes"] for r in ing)
    m["dml.write_amplification"] = attr("bytes_written") / user if user else 0.0
    for op in wl.PIPELINE_OPS:
        m[f"operators.{op}_ms"] = mean_ms(f"operators.{op}")
    run.detail["self_time_ms_by_layer"] = {
        name: round(sum(selfs[s["id"]] for s in ss) / 1e6 / n, 4) for name, ss in sorted(by_name.items())}
    return m


# ---------------------------------------------------------------- workloads

def common_layers(run, s0, s1, scrape_ms, logins, boots):
    return {"auth.login_ms": sum(logins) / len(logins) if logins else 0.0,
            "sessions.bootstrap_ms": sum(boots) / len(boots) if boots else 0.0,
            "observability.records": s1["observability_records"],
            "observability.metrics_scrape_ms": scrape_ms,
            "jvm.gc_ms": s1["gc_ms"] - s0["gc_ms"], "jvm.jit_ms": s1["jit_ms"] - s0["jit_ms"]}


def finish_host(run, client):
    """End of the measured part: heap after a forced GC, a /metrics scrape,
    then the JVM stops so the checks below run on an idle machine."""
    s1 = run.stats()
    scrape = run.scrape_metrics(client)
    run.host.close()
    return s1, scrape


def reads_workload(run, warms, streams):
    """olap_mix and bulk_export: one closed-loop client and session per
    stream, each after its warm-up statements. The streams are the measured
    work: a fixed amount, so every run measures the same mix."""
    run.start_host()
    names = [f"c{k}" for k in range(len(streams))]
    clients = {n: run.client() for n in names}
    boots = run_threads([lambda c=c: run.bootstrap(c) for c in clients.values()])
    checker = Checker(run.data_dir)
    run_threads([lambda c=clients[n], w=w: [timed(c, st) for st in w]
                 for n, w in zip(names, warms)])
    s0 = run.stats() if run.trace else None  # JVM counters at the start of the traced part
    timed_streams = streams
    if not run.trace:
        t_start = time.perf_counter()
        setup_s = t_start - run.host.t_launch
        samples = run_threads([lambda c=clients[n], s=s: closed_loop(c, s)
                               for n, s in zip(names, timed_streams)])
        window = max(r["t_end"] for ss in samples for r in ss) - t_start
        s1, _ = finish_host(run, clients[names[0]])
        pairs = [(s[r["i"]], r) for s, ss in zip(timed_streams, samples) for r in ss]
        check_reads(run, checker, pairs)
        ok = [r for _, r in pairs if not r["error"]]
        run.detail["per_shape"] = per_shape(ok)
        run.detail["result_mb_per_s"] = sum(r["bytes"] for r in ok) / 1048576 / window
        lat = [r["lat_ms"] for r in ok]
        return e2e(run, latency_summary(lat), len(lat), window, setup_s, s1["heap_used_mb"])

    # traced run: the same statements, interleaved across the sessions
    merged = [(n, s[j]) for j in range(max(map(len, timed_streams)))
              for n, s in zip(names, timed_streams) if j < len(s)]

    ph = traced_replay(run, lambda i, way: dict(merged[i][1], i=i, session=merged[i][0]),
                       clients, lambda op: timed(clients[op["session"]], op))
    s1, scrape = finish_host(run, clients[names[0]])
    for way in ("a", "b"):
        for op, r in ph[way]:
            r["table"] = direct_table(r) if r["result"] else None
    for way in ("a", "b", "c"):
        check_reads(run, checker, ph[way])
    return traced_layers(run, ph, s0, s1, scrape, [c.login_ms for c in clients.values()], boots)


def traced_layers(run, ph, s0, s1, scrape, logins, boots):
    """Per-layer metrics of a traced run. The tracing overhead is the median
    over statements of (traced - untraced) direct-call latency; the server
    overhead is the median of (HTTP - untraced direct)."""
    a = [r["lat_ms"] for _, r in ph["a"]]
    b = [r["lat_ms"] for _, r in ph["b"]]
    c = [r["lat_ms"] for _, r in ph.get("c", [])]
    m = layer_metrics(run, ph["spans"], [r for _, r in ph["a"]], [r for _, r in ph["b"]])
    m.update(common_layers(run, s0, s1, scrape, logins, boots))
    m["trace.overhead_ms"] = checks.median([y - x for x, y in zip(a, b)])
    m["server.overhead_ms"] = checks.median([z - x for x, z in zip(a, c)]) if c else 0.0
    m["trace.spans"] = len(ph["spans"])
    run.detail["traced"] = {"statements": len(b), "untraced_direct_p50_ms": checks.median(a),
                            "traced_direct_p50_ms": checks.median(b),
                            "http_p50_ms": checks.median(c) if c else None}
    return m


# Measured work per second of --seconds, so that a run measures about
# --seconds on a four-core machine: olap_mix blocks per client, bulk_export
# blocks, rw_mixed writer cycles and reads per reader, llm_pipeline passes.
OLAP_BLOCKS_PER_S = 0.1
BULK_BLOCKS_PER_S = 0.15
RW_CYCLES_PER_S = 0.7
RW_READS_PER_S = 2.8
PIPELINE_PASSES_PER_S = 0.2


def amount(run, per_s):
    return max(1, round(run.seconds * per_s))


def olap_mix(run):
    # a traced run takes statements from the same streams until its time is up
    blocks = amount(run, OLAP_BLOCKS_PER_S) * (10 if run.trace else 1)
    warms, streams = zip(*[wl.olap_stream(run.seed, c, blocks) for c in range(2)])
    return reads_workload(run, warms, streams)


def bulk_export(run):
    stream = wl.bulk_stream(run.seed, 1 + amount(run, BULK_BLOCKS_PER_S))
    n = len(wl.BULK_TIERS)
    return reads_workload(run, [stream[:n]], [stream[n:]])


class RwState:
    """What the writer has had acknowledged: batches acked_lo..acked_hi are
    live. A read sent after an acknowledgement must see at least that state."""

    def __init__(self, run):
        self.run = run
        self.lock = threading.Lock()
        self.acked_lo, self.acked_hi = 0, wl.RW_WINDOW - 1
        # the most batches ever live at once: one append ahead of its delete,
        # or three in the traced run, which runs each writer step three ways
        self.max_live = wl.RW_WINDOW + (3 if run.trace else 1)
        self.next_k = wl.RW_WINDOW
        self.batch_files = {}
        self.expected = {shape: {} for shape in wl.RW_READS}
        self.con = checks.connect(run.data_dir, ["customer", "nation"], threads=2)

    def batch_body(self, ks):
        import pyarrow as pa
        table = pa.concat_tables([wl.rw_batch(self.run.seed, k) for k in ks])
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, table.schema) as w:
            w.write_table(table)
        return sink.getvalue().to_pybytes()

    def batch_file(self, k):
        path = os.path.join(self.run.run_dir, "batches", f"{k}.arrow")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "wb") as f:
            f.write(self.batch_body([k]))
        return path

    def expect(self, k):
        """Each read shape's rows for batch k alone."""
        if k not in self.expected["rw_agg"]:
            self.con.register(wl.RW_TABLE, wl.rw_batch(self.run.seed, k))
            for shape, sql in wl.RW_READS.items():
                self.expected[shape][k] = sorted(self.con.execute(sql).fetchall())
            self.con.unregister(wl.RW_TABLE)
        return {shape: self.expected[shape][k] for shape in wl.RW_READS}

    def classify(self, shape, table, lo, hi):
        """'ok', 'stale' (older than the state acknowledged before the read
        was sent) or 'wrong: ...' (no state the writer ever produced)."""
        rows = [tuple(r.values()) for r in table.to_pylist()]
        seen = sorted({r[0] for r in rows})
        if not seen:
            return "wrong: empty table"
        # every state the writer produces holds RW_WINDOW to max_live
        # consecutive batches
        if (seen != list(range(seen[0], seen[-1] + 1)) or
                not wl.RW_WINDOW <= len(seen) <= self.max_live):
            return f"wrong: batches {seen}"
        for k in seen:
            if sorted(r for r in rows if r[0] == k) != self.expect(k)[shape]:
                return f"wrong: rows of batch {k}"
        if seen[-1] < hi or seen[0] < lo:
            return "stale"
        return "ok"


def rw_score(run, state, reads):
    """Count the reads. Errors and wrong answers are failed operations. A
    stale read (a state older than one already acknowledged) is counted on
    its own: it is the known cross-session visibility gap, reported in the
    record as `stale_read_ratio`."""
    stale = 0
    for r in reads:
        run.attempted += 1
        if r["error"]:
            run.fail(r["shape"], r["error"])
            continue
        verdict = state.classify(r["shape"], r["table"], r["lo"], r["hi"])
        r["verdict"] = verdict
        if verdict == "stale":
            stale += 1
        elif verdict != "ok":
            run.fail(r["shape"], verdict)
    run.stale += stale
    return stale


def rw_write(run, state, client, kind, k):
    """One writer step: append batch k, or delete batch k. Acknowledged
    steps move the state readers must see."""
    if kind == "ingest":
        stmt = {"kind": "ingest", "table": wl.RW_TABLE, "body": state.batch_body([k]), "shape": "ingest"}
    else:
        stmt = {"kind": "sql", "text": wl.rw_delete(k), "shape": "delete"}
    r = timed(client, stmt)
    r["shape"] = stmt["shape"]
    r.pop("table", None)
    if not r["error"]:
        with state.lock:
            if kind == "ingest":
                state.acked_hi = k
            else:
                state.acked_lo = k + 1
    return r


def rw_read(state, client, shape):
    with state.lock:
        lo, hi = state.acked_lo, state.acked_hi
    r = timed(client, {"kind": "sql", "text": wl.RW_READS[shape], "shape": shape})
    r.update(shape=shape, lo=lo, hi=hi)
    return r


def rw_mixed(run):
    """rw_mixed: one writer and two readers, each in its own session, on a
    table the benchmark owns. The writer appends a batch and deletes the
    oldest, so the table keeps RW_WINDOW batches."""
    run.start_host()
    writer, r0, r1 = run.client(), run.client(), run.client()
    boots = run_threads([lambda c=c: run.bootstrap(c) for c in (writer, r0, r1)])
    state = RwState(run)
    status, body = writer.call("/ingest", state.batch_body(range(wl.RW_WINDOW)),
                               {"X-Graft-Table": wl.RW_TABLE, "X-Graft-Mode": "append"})
    if status != 200:
        raise RuntimeError(f"creating {wl.RW_TABLE} failed: {status} {body[:300]!r}")
    streams = [wl.rw_reader_stream(run.seed, k, 4000) for k in range(2)]

    def writer_loop(cycles):
        out = []
        for _ in range(cycles):
            k = state.next_k
            state.next_k += 1
            out.append(rw_write(run, state, writer, "ingest", k))
            out.append(rw_write(run, state, writer, "delete", k - wl.RW_WINDOW))
        return out

    def reader_loop(client, stream):
        return [rw_read(state, client, shape) for shape in stream]

    # warm-up: two writer cycles and one block of reads per reader; the
    # measured reads are whole blocks, so every seed measures the same mix
    warm = len(wl.RW_READ_BLOCK)
    run_threads([lambda: writer_loop(2),
                 lambda: reader_loop(r0, streams[0][:warm]),
                 lambda: reader_loop(r1, streams[1][:warm])])
    s0 = run.stats() if run.trace else None  # JVM counters at the start of the traced part
    if not run.trace:
        t_start = time.perf_counter()
        setup_s = t_start - run.host.t_launch
        reads_each = warm * amount(run, RW_READS_PER_S / warm)
        writes, reads0, reads1 = run_threads([
            lambda: writer_loop(amount(run, RW_CYCLES_PER_S)),
            lambda: reader_loop(r0, streams[0][warm:warm + reads_each]),
            lambda: reader_loop(r1, streams[1][warm:warm + reads_each])])
        reads = reads0 + reads1
        window = max(r["t_end"] for r in writes + reads) - t_start
        s1, _ = finish_host(run, writer)
        for w in writes:
            run.attempted += 1
            if w["error"]:
                run.fail(w["shape"], w["error"])
        stale = rw_score(run, state, reads)
        ok_w = [w for w in writes if not w["error"]]
        ok_r = [r for r in reads if not r["error"]]
        write_lat = [w["lat_ms"] for w in ok_w]
        lat = [r["lat_ms"] for r in ok_w + ok_r]
        run.detail.update({
            "per_shape": per_shape(ok_w + ok_r),
            "reads": latency_summary([r["lat_ms"] for r in ok_r]),
            "writes": latency_summary(write_lat),
            "rows_written_per_s": sum(1 for w in ok_w if w["shape"] == "ingest") * wl.RW_BATCH / window,
            "stale_read_ratio": stale / max(len(reads), 1),
            "result_mb_per_s": sum(r["bytes"] for r in ok_r) / 1048576 / window})
        return e2e(run, latency_summary(lat), len(lat), window, setup_s, s1["heap_used_mb"])

    # traced run: writer steps and reads in one order, each step three ways;
    # every execution of a writer step appends a new batch or deletes the
    # oldest live one, so the table keeps its size
    sessions = {"w": writer, "r0": r0, "r1": r1}
    pattern = ["ingest", "r0", "delete", "r1"]
    live = list(range(state.next_k - wl.RW_WINDOW, state.next_k))

    def make_op(i, way):
        step = pattern[i % len(pattern)]
        if step == "ingest":
            k = state.next_k
            state.next_k += 1
            live.append(k)
            return {"i": i, "session": "w", "kind": "ingest", "table": wl.RW_TABLE, "k": k,
                    "arrow": state.batch_file(k) if way != "c" else None, "shape": "ingest"}
        if step == "delete":
            k = live.pop(0)
            return {"i": i, "session": "w", "kind": "delete", "text": wl.rw_delete(k), "k": k,
                    "shape": "delete"}
        shape = streams[int(step[1])][warm + i // len(pattern)]
        with state.lock:
            lo, hi = state.acked_lo, state.acked_hi
        return {"i": i, "session": step, "kind": "sql", "text": wl.RW_READS[shape],
                "shape": shape, "lo": lo, "hi": hi}

    def http_one(op):
        if op["kind"] == "sql":
            return rw_read(state, sessions[op["session"]], op["shape"])
        return rw_write(run, state, writer, op["kind"], op["k"])

    ph = traced_replay(run, make_op, sessions, http_one, on_direct=lambda op, r: rw_ack(state, op, r))
    s1, scrape = finish_host(run, writer)
    reads = []
    for way in ("a", "b", "c"):
        for op, r in ph[way]:
            if op["kind"] != "sql":
                run.attempted += 1
                if r["error"]:
                    run.fail(op["shape"], r["error"])
            else:
                if way != "c":
                    r.update(shape=op["shape"], lo=op["lo"], hi=op["hi"],
                             table=direct_table(r) if r["result"] else None)
                reads.append(r)
    run.detail["stale_read_ratio"] = rw_score(run, state, reads) / max(len(reads), 1)
    return traced_layers(run, ph, s0, s1, scrape, [c.login_ms for c in sessions.values()], boots)


def rw_ack(state, op, r):
    """A direct writer step that succeeded moves the acknowledged state."""
    if op["kind"] == "sql" or r["error"]:
        return
    with state.lock:
        if op["kind"] == "ingest":
            state.acked_hi = op["k"]
        else:
            state.acked_lo = op["k"] + 1


def llm_pipeline(run):
    """llm_pipeline: one in-process caller, passes over the operator batch."""
    run.start_host()
    run.host.call(cmd="pipeline", ops=wl.PIPELINE_OPS, passes=1)
    s0 = run.stats() if run.trace else None  # JVM counters at the start of the traced part
    if not run.trace:
        t_start = time.perf_counter()
        setup_s = t_start - run.host.t_launch
        rep = run.host.call(cmd="pipeline", ops=wl.PIPELINE_OPS,
                            passes=amount(run, PIPELINE_PASSES_PER_S))
        window = time.perf_counter() - t_start
        client = run.client()
        s1, _ = finish_host(run, client)
        llm_check(run, rep)
        ok = [c for c in rep["calls"] if not c["error"]]
        run.detail["per_shape"] = per_shape([dict(c, shape=c["op"]) for c in ok])
        run.detail["batch_pass_s"] = checks.median(rep["passes_s"])
        run.detail["passes"] = len(rep["passes_s"])
        return e2e(run, pipeline_summary(rep), len(ok), window, setup_s, s1["heap_used_mb"])
    # traced run: each operator twice per pass, untraced and traced, in an
    # order that alternates from call to call; half the passes, as each
    # call runs twice
    ph = {"a": [], "b": []}
    oracle = {}
    n = 0
    for _ in range(max(1, amount(run, PIPELINE_PASSES_PER_S) // 2)):
        for op in wl.PIPELINE_OPS:
            for way in (("a", "b") if n % 2 == 0 else ("b", "a")):
                rep = run.host.call(cmd="pipeline", ops=[op], passes=1, trace=way == "b")
                oracle.update(rep["oracle"])
                ph[way].append((op, dict(rep["calls"][0], result=None)))
            n += 1
    ph["spans"] = save_spans(run)
    client = run.client()
    s1, scrape = finish_host(run, client)
    llm_check(run, {"oracle": oracle, "calls": [r for w in ("a", "b") for _, r in ph[w]]})
    return traced_layers(run, ph, s0, s1, scrape, [client.login_ms], [])


def pipeline_summary(rep):
    """Statement latency of the operator batch, per pass. The operators'
    latencies differ several-fold, so a median pooled over their calls
    falls between two operators and a tail over a dozen calls is the same
    number. Per pass: the mean call latency (every operator counts), and
    the slowest call; each is the median over the passes."""
    n = len(rep["passes_s"])
    calls_per_pass = len(rep["calls"]) / n
    mean_ms = [p * 1e3 / calls_per_pass for p in rep["passes_s"]]
    slowest = [max(c["lat_ms"] for c in rep["calls"] if c["pass"] == k) for k in range(n)]
    return {"n": len(rep["calls"]), "passes": n, "p50_ms": checks.median(mean_ms),
            "tail": "slowest call of a pass", "tail_ms": checks.median(slowest)}


def llm_check(run, rep):
    """Each operator's row count against DuckDB's count of its oracle SQL."""
    con = checks.connect(run.data_dir, datagen.TABLES, threads=nproc())
    want = {}
    for op, sql in rep["oracle"].items():
        want[op] = con.execute(f"SELECT COUNT(*) FROM ({sql})").fetchone()[0] if sql else None
    for c in rep["calls"]:
        run.attempted += 1
        if c["error"]:
            run.fail(c["op"], c["error"])
        elif want[c["op"]] is not None and c["count"] != want[c["op"]]:
            run.fail(c["op"], f"{c['count']} rows, DuckDB has {want[c['op']]}")


# olap_mix runs at sf0.01: its statements are the interactive kind, whose
# cost should be planning, stage waves and per-request overhead; at sf0.1 on
# four cores execution alone takes over half a second per statement.
# llm_pipeline runs at sf0.05 so that two passes fit in every ten seconds of a run.
WORKLOAD_SF = {"olap_mix": 0.01, "bulk_export": 0.1, "rw_mixed": 0.1, "llm_pipeline": 0.05}


def prepare_layout(classpath, work, data_dir, sf):
    """A home directory holding the engine's Layout cache for `data_dir`.

    `Layout.normalize` rewrites the tables once and reuses the result
    (keyed by the files' fingerprint); it is built here once per checkout,
    and each run starts from a fresh copy of it."""
    home = os.path.join(work, f"home-sf{sf}")
    if os.path.exists(os.path.join(home, "_DONE")):
        return home
    log(f"building the Layout cache for sf{sf}")
    shutil.rmtree(home, ignore_errors=True)
    prep = os.path.join(work, "runs", f"prepare-{os.getpid()}")
    os.makedirs(prep)
    try:
        Host(classpath, prep, data_dir, home).close()
    finally:
        shutil.rmtree(prep, ignore_errors=True)
    open(os.path.join(home, "_DONE"), "w").close()
    return home


WORKLOAD_FNS = {"olap_mix": olap_mix, "bulk_export": bulk_export, "rw_mixed": rw_mixed,
                "llm_pipeline": llm_pipeline}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt")) and
            os.path.isdir(os.path.join(root, "src", "main", "scala"))):
        log(f"{root} holds no program sources (build.sbt, src/main/scala); "
            "run from the root of a checkout")
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    work = os.path.join(HERE, ".work")
    os.makedirs(os.path.join(work, "results"), exist_ok=True)
    t0 = time.time()
    classpath = build(root, work)
    sf = WORKLOAD_SF[args.workload]
    data_dir = datagen.ensure(os.path.join(work, "data", f"sf{sf}"), sf)
    layout_home = prepare_layout(classpath, work, data_dir, sf)
    run_dir = os.path.join(work, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    run = Run(args, root, work, classpath, run_dir, data_dir, layout_home)
    load_start = loadavg()

    def stop(signum, frame):
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    try:
        values = WORKLOAD_FNS[args.workload](run)
    except BaseException:
        if run.host is not None:
            log(f"host log:\n{run.host.stderr_tail()}")
        raise
    finally:
        if run.host is not None:
            run.host.close()
        shutil.rmtree(run_dir, ignore_errors=True)
    line = result_line(spec, values, run)
    metrics = json.loads(line)["metrics"]
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "nproc": nproc(), "xmx": run.host.xmx, "spark_cpus": run.host.cpus,
        "default_parallelism": run.host.ready["default_parallelism"],
        "git_commit": git_commit(root), "load_avg_start": load_start, "load_avg_end": loadavg(),
        "wall_s": time.time() - t0, "attempted": run.attempted, "failed": run.failed,
        "stale_reads": run.stale, "failed_ratio": failed_ratio(run),
        "failures": run.failures, "metrics": metrics, "measured": values, **run.detail}
    name = f"{args.workload}-{args.seed}-t{args.trace}.json"
    with open(os.path.join(work, "results", name), "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    print("perfbench-record " + json.dumps(record, sort_keys=True))
    print(line)
    return 0


def result_line(spec, values, run):
    """The last line of stdout: every declared metric of this mode (the
    end-to-end ones untraced, the per-layer ones traced) with its unit."""
    declared = spec["per_layer" if run.trace else "end_to_end"]
    metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in declared}
    return json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                       "failed": run.failed, "metrics": metrics})


if __name__ == "__main__":
    sys.exit(main())
