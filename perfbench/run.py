#!/usr/bin/env python3
"""Benchmark entry point: runs one workload once and prints one JSON line.

    python3 perfbench/run.py --workload catalog --seed 1 --seconds 10 --trace 0

Run from the root of a graft checkout. The first run builds the engine and
the harness with sbt (classpath cached in .bench_build/ by source digest);
every run then generates its inputs from --seed, starts a fresh JVM
(graftbench.Main), checks the outputs and prints, as the last line of
stdout:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

--trace 0 reports the end-to-end metrics of BENCHMARK.json, --trace 1 the
per-layer ones (and writes spans and profiles to .bench_build/trace/).
Workload sizes live in perfbench/workloads.json; see perfbench/README.md.
"""
import argparse
import collections
import datetime
import decimal
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
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")

JDK_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
        "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
        "sun.nio.cs", "sun.security.action", "sun.util.calendar")
]


TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events",
          "documents", "embeddings")


class BenchError(Exception):
    pass


Build = collections.namedtuple("Build", "cp digest")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def now_us():
    return time.time_ns() // 1000


# ---------------------------------------------------------------- build

def preflight():
    need = ["build.sbt", "project/build.properties", "src/main/scala/graft", "BENCHMARK.json"]
    missing = [p for p in need if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        raise BenchError(f"{ROOT} is not a graft checkout (missing {', '.join(missing)})")
    for tool in ("sbt", "java"):
        if shutil.which(tool) is None:
            raise BenchError(f"'{tool}' is not on PATH")


def source_digest():
    h = hashlib.sha256()
    for rel in ("build.sbt", "project/build.properties", "src/main",
                "perfbench/build.sbt", "perfbench/project/build.properties", "perfbench/src"):
        path = os.path.join(ROOT, rel)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def classpath(digest):
    """Build with sbt unless the last build was of these very sources; the
    classpath file records the source digest of the build it came from."""
    cache = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(cache):
        with open(cache) as fh:
            stamp, _, cp = fh.read().partition("\n")
        if stamp == digest and cp and all(os.path.isfile(p) for p in cp.split(os.pathsep)):
            return cp
    log("building engine and harness with sbt ...")
    t0 = time.time()
    out = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, capture_output=True, text=True, timeout=840, stdin=subprocess.DEVNULL)
    lines = out.stdout.strip().splitlines()
    cp = lines[-1].strip() if lines else ""
    if out.returncode != 0 or os.path.join("perfbench", "target") not in cp:
        raise BenchError("sbt build failed:\n" + "\n".join((out.stdout + out.stderr).splitlines()[-40:]))
    cp = jar_dirs(cp)
    with open(cache, "w") as fh:
        fh.write(digest + "\n" + cp)
    log(f"built in {time.time() - t0:.0f} s")
    return cp


def jar_dirs(cp):
    """The classpath with its class directories packed into jars, which
    class-data sharing (below) needs."""
    jars = os.path.join(BUILD, "jars")
    shutil.rmtree(jars, ignore_errors=True)
    os.makedirs(jars)
    out = []
    for i, path in enumerate(cp.split(os.pathsep)):
        if os.path.isdir(path):
            jar = os.path.join(jars, f"classes{i}.jar")
            with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
                for d, _, fs in os.walk(path):
                    for f in sorted(fs):
                        z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), path))
            path = jar
        out.append(path)
    return os.pathsep.join(out)


# ---------------------------------------------------------------- JVM

class Jvm:
    """The benchmark JVM for one job, stopped and reaped on exit.

    It loads its classes from a class-data sharing archive of the classes
    its workload loaded before, in this build. The first run of a workload
    in a build has none yet: that JVM writes it on exit."""

    def __init__(self, build, conf, job, work, interactive=False):
        self.work = work
        cds = os.path.join(BUILD, "cds")
        os.makedirs(cds, exist_ok=True)
        self.archive = os.path.join(cds, f"{job['workload']}-{build.digest}.jsa")
        if os.path.exists(self.archive):
            share = f"-XX:SharedArchiveFile={self.archive}"
        else:
            for old in os.listdir(cds):
                if old.startswith(job["workload"] + "-"):
                    os.remove(os.path.join(cds, old))
            share = f"-XX:ArchiveClassesAtExit={self.archive}.tmp"
        tmp = os.path.join(BUILD, "tmp")
        os.makedirs(tmp, exist_ok=True)
        job = dict(job, work=work, cpus=conf["cpus"])
        job_file = os.path.join(work, "job.properties")
        with open(job_file, "w") as fh:
            for k, v in job.items():
                fh.write(f"{k}={v}\n")
        # JVM warnings go to the log, never into the stdout protocol
        cmd = ["java", share, "-Xlog:disable", "-Xlog:all=warning:stderr", *JDK_OPENS, f"-Xmx{conf['jvm_heap']}", "-Dspark.ui.enabled=false",
               "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={tmp}",
               f"-Dspark.local.dir={tmp}",
               f"-Dspark.sql.warehouse.dir={os.path.join(BUILD, 'warehouse')}",
               "-cp", build.cp, "graftbench.Main", job_file]
        self.log = open(os.path.join(work, "jvm.log"), "w")
        with open(job_file, "a") as fh:
            fh.write(f"spawn_us={now_us()}\n")
        self.proc = subprocess.Popen(
            cmd, cwd=ROOT, stderr=self.log, text=True, bufsize=1,
            stdin=subprocess.PIPE if interactive else subprocess.DEVNULL,
            stdout=subprocess.PIPE if interactive else self.log)

    def say(self, line):
        self.proc.stdin.write(line + "\n")
        self.proc.stdin.flush()

    def expect(self, word):
        while True:
            line = self.proc.stdout.readline()
            if not line:
                raise BenchError(f"JVM exited before '{word}'; see {self.log.name}:\n" + self.tail())
            if line.startswith(word):
                return line.split()

    def tail(self):
        self.log.flush()
        with open(self.log.name, errors="replace") as fh:
            return "".join(fh.readlines()[-25:])

    def finish(self, timeout):
        try:
            self.proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            raise BenchError(f"JVM did not finish within {timeout} s")
        if self.proc.returncode != 0:
            raise BenchError(f"JVM exited with {self.proc.returncode}:\n" + self.tail())
        with open(os.path.join(self.work, "result.json")) as fh:
            return json.load(fh)

    def close(self):
        if self.proc.poll() is None:
            self.proc.kill()
        self.proc.wait()
        self.log.close()
        tmp = self.archive + ".tmp"
        if os.path.exists(tmp):
            if self.proc.returncode == 0:
                os.replace(tmp, self.archive)
            else:
                os.remove(tmp)


# ---------------------------------------------------------------- catalog

def canon(v):
    """A value in a form both engines agree on: numbers by value (9
    significant digits for non-integers), timestamps as naive UTC ISO text,
    bytes as hex, lists and maps element by element."""
    if v is None or isinstance(v, (bool, str)):
        return v
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return "nan"
        if f.is_integer() and abs(f) < 2 ** 53:
            return str(int(f))
        return format(f, ".9g")
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, (datetime.date, datetime.time)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, dict):
        return {k: canon(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        items = [canon(x) for x in v]
        if v and all(isinstance(x, tuple) and len(x) == 2 for x in v):  # a map
            items = sorted(items, key=lambda kv: json.dumps(kv, sort_keys=True))
        return items
    return str(v)


def table_digest(table):
    """(columns, row count, order-insensitive hash) of an Arrow table."""
    cols = sorted(table.column_names)
    rows = sorted(json.dumps([canon(r[c]) for c in cols], sort_keys=True) for r in table.to_pylist())
    return cols, len(rows), hashlib.sha256("\n".join(rows).encode()).hexdigest()


def check_catalog(work, data, res):
    """Compare every query's output with the DuckDB oracle over the same
    tables. Oracle digests are cached next to the tables, keyed by SQL."""
    import duckdb
    import pyarrow.parquet as pq
    with open(os.path.join(work, "oracle.json")) as fh:
        oracle = json.load(fh)
    cache_file = os.path.join(data, "oracle_digests.json")
    cache = {}
    if os.path.exists(cache_file):
        with open(cache_file) as fh:
            cache = json.load(fh)
    con = None
    for q, sql in oracle.items():
        out = os.path.join(work, "out", q)
        if not os.path.isdir(out):
            continue  # the JVM already counted this query as failed
        got = list(table_digest(pq.read_table(out)))
        if sql is None:
            ok, detail = False, "no oracle SQL for this query"
        else:
            key = hashlib.sha256(sql.encode()).hexdigest()
            if key not in cache:
                if con is None:
                    con = duckdb.connect()
                    con.execute("SET threads TO 2")
                    for t in TABLES:
                        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                    f"read_parquet('{os.path.join(data, t + '.parquet')}')")
                cache[key] = list(table_digest(con.execute(sql).fetch_arrow_table()))
            want = cache[key]
            ok = got == want
            detail = f"spark {got[:2]} {got[2][:12]} vs duckdb {want[:2]} {want[2][:12]}"
        res["checks"].append({"name": f"{q} oracle", "ok": ok, "detail": "" if ok else detail})
        if not ok:
            res["failed"] += 1
    with open(cache_file + ".tmp", "w") as fh:
        json.dump(cache, fh)
    os.replace(cache_file + ".tmp", cache_file)


def run_catalog(build, conf, a, work, scale):
    """The tables are generated once per checkout (and generator version)
    from the fixed data seed of workloads.json; --seed orders the queries
    within each group."""
    sys.path.insert(0, HERE)
    import gen_tables
    c = conf["catalog"]
    with open(gen_tables.__file__, "rb") as fh:
        gen = hashlib.sha256(fh.read()).hexdigest()[:12]
    data = os.path.join(BUILD, "data", f"catalog-sf{c['sf']}-seed{c['data_seed']}-{gen}")
    if not os.path.exists(os.path.join(data, "complete")):
        shutil.rmtree(data, ignore_errors=True)
        gen_tables.generate(c["data_seed"], c["sf"], data)
        open(os.path.join(data, "complete"), "w").close()
    job = {"workload": "catalog", "seed": a.seed, "trace": a.trace, "data": data,
           "passes": max(1, round(c["passes"] * scale)),
           **{f"group.{g}": ",".join(qs) for g, qs in c["groups"].items()}}
    jvm = Jvm(build, conf, job, work)
    try:
        res = jvm.finish(timeout=600)
    finally:
        jvm.close()
    check_catalog(work, data, res)
    return res


# ---------------------------------------------------------------- feature-store

def run_feature_store(build, conf, a, work, scale):
    c = conf["feature-store"]
    job = {"workload": "feature-store", "seed": a.seed, "trace": a.trace,
           "rows_per_epoch": c["rows_per_epoch"], "warm_epochs": c["warm_epochs"],
           "epochs": max(4, round(c["epochs"] * scale)), "keys": c["keys"], "timeout_s": 150}
    jvm = Jvm(build, conf, job, work)
    try:
        res = jvm.finish(timeout=600)
    finally:
        jvm.close()
    log("timed epoch walls (ms): " + " ".join(f"{w:.0f}" for w in res["extra"]["epoch_walls_ms"]))
    return res


# ---------------------------------------------------------------- tcp-service

def run_tcp(build, conf, a, work, scale):
    """Phases: warm (sent at once just before a trigger tick, drained before
    the timed part); steady, due from 50 ms after a trigger tick to 50 ms
    before the next, so that every steady frame waits for the one batch
    starting at that next tick, uniformly over the interval; then the burst,
    sent 0.4 intervals after the steady batch started, and drained.

    Spark starts a fixed-interval batch at the next multiple of the interval
    in wall-clock time, or at once when the batch before ran past it. So the
    batch after the steady one starts after the burst is sent unless the
    sending takes the remaining 0.6 intervals, and takes it whole; with more
    than one steady interval, an overrunning steady batch could start the
    next one in the middle of the burst. A split burst is a failed check."""
    import numpy as np
    c = conf["tcp-service"]
    iv = c["interval_ms"] * 1000
    job = {"workload": "tcp-service", "seed": a.seed, "trace": a.trace, "interval_ms": c["interval_ms"],
           "config": os.path.join(HERE, "service.yaml"), "drain_timeout_s": c["drain_timeout_s"]}
    steady_n = c["steady_rate"] * (iv - 100000) // 1000000
    phases = [("warm", 0, 0, c["steady_rate"] * c["warm_seconds"]),
              ("steady", 1, c["steady_rate"], steady_n),
              ("burst", 2, 0, int(c["burst_frames"] * scale))]
    jvm = Jvm(build, conf, job, work, interactive=True)
    sent = {}
    try:
        port = int(jvm.expect("READY")[1])
        seq0, n_kafka, seen, tick = 0, 0, set(), 0
        for name, tag, rate, frames in phases:
            start = now_us() + 300000
            if name == "warm":  # just before a tick, so set-up does not wait for one
                start = (start + 100000) // iv * iv + iv - 100000
            elif name == "steady":
                tick = start // iv * iv + iv
                start = tick + 50000
            else:
                start = tick + iv + 2 * iv // 5
            manifest = os.path.join(work, f"gen_{name}")
            cmd = [sys.executable, os.path.join(HERE, "tcpgen.py"), "--port", str(port),
                   "--seed", str(a.seed), "--tag", str(tag), "--seq0", str(seq0),
                   "--frames", str(frames), "--rate", str(rate), "--start-us", str(start),
                   "--manifest", manifest, "--hb-share", str(c["hb_share"]),
                   "--dup-share", str(c["dup_share"]), "--dup-window", str(c["dup_window"])]
            if a.trace and name == "burst":
                cmd += ["--stream-out", os.path.join(work, "frames.bin")]
            subprocess.run(cmd, check=True, timeout=120, stdin=subprocess.DEVNULL)
            m = dict(np.load(manifest + ".npz"))
            sent[name] = m
            seq0 += frames
            n_kafka += len(m["seq"])
            seen.update(np.unique(m["seq"]).tolist())
            if name != "steady":
                jvm.say(f"EXPECT {name} {n_kafka} {len(seen)}")
                if jvm.expect("DRAINED")[2] != "true":
                    log(f"phase {name}: the sinks did not receive every frame in time")
        jvm.say("STOP")
        res = jvm.finish(timeout=120)
    finally:
        jvm.close()
    check_tcp(work, sent, res)
    return res


def check_tcp(work, sent, res):
    """Every frame reaches kafka-nb exactly once per copy sent, under the
    subject of its rule; audit-nb gets each distinct payload exactly once.
    Then the latency and burst figures."""
    import numpy as np

    def records(name):
        r = np.fromfile(os.path.join(work, f"{name}.bin"), dtype="<i8")
        return r.reshape(-1, 6)  # tag, seq, due_us, arrival_us, subject code, batch id

    kafka, audit = records("kafka"), records("audit")
    seq = np.concatenate([m["seq"] for m in sent.values()])
    typ = np.concatenate([m["type"] for m in sent.values()])
    n = int(seq.max()) + 1
    want = np.bincount(seq, minlength=n)
    kind = np.full(n, -1)
    kind[seq] = typ

    def known(r):
        return r[(r[:, 1] >= 0) & (r[:, 1] < n)]
    kk, aa = known(kafka), known(audit)
    got_k = np.bincount(kk[:, 1], minlength=n)
    got_a = np.bincount(aa[:, 1], minlength=n)
    bad = {
        "kafka-nb frames lost or repeated": int(np.abs(got_k - want).sum()),
        "audit-nb payloads not exactly once": int(np.abs(got_a - (want > 0)).sum()),
        "rows on the wrong subject": int((kk[:, 4] != np.where(kind[kk[:, 1]] == 0, 1, 2)).sum()
                                         + (aa[:, 4] != 3).sum()),
        "rows with an unknown sequence number": len(kafka) - len(kk) + len(audit) - len(aa),
    }
    res["attempted"] += int(len(seq))
    for name, count in bad.items():
        res["checks"].append({"name": name, "ok": count == 0, "detail": str(count)})
        res["failed"] += count

    # steady: a frame is delivered once its first copy reached both sinks
    first_k = np.full(n, np.iinfo(np.int64).max)
    np.minimum.at(first_k, kk[:, 1], kk[:, 3])
    at_a = np.zeros(n, np.int64)
    at_a[aa[:, 1]] = aa[:, 3]
    due = np.zeros(n, np.int64)
    due[kk[:, 1]] = kk[:, 2]
    s = np.unique(sent["steady"]["seq"])
    s = s[(got_k[s] > 0) & (got_a[s] > 0)]
    lat = (np.maximum(first_k[s], at_a[s]) - due[s]) / 1000.0
    e = res["e2e"]
    e["latency_ms"] = float(np.percentile(lat, 50)) if len(lat) else float("nan")
    e["tail_ms"] = float(np.percentile(lat, 99)) if len(lat) else float("nan")

    # burst: from the start of the micro-batch that took it, as the engine
    # stamped it, to its last arrival at either sink. A burst split over
    # several batches has no such time: the check fails, the rate is missing.
    b = sent["burst"]
    kb, ab = kk[kk[:, 0] == 2], aa[aa[:, 0] == 2]
    batches = np.unique(np.concatenate([kb[:, 5], ab[:, 5]])).tolist()
    starts = res["extra"]["batch_start_us"]
    whole = len(batches) == 1 and str(batches[0]) in starts
    res["checks"].append({"name": "burst taken by one micro-batch", "ok": whole,
                          "detail": f"batches {batches}, starts known for {sorted(starts)}"})
    if whole:
        last = max(kb[:, 3].max(initial=0), ab[:, 3].max(initial=0))
        e["rate_per_s"] = len(b["seq"]) / ((last - starts[str(batches[0])]) / 1e6)
    res["layer"]["tools.gen_lag_p99_ms"] = float(np.percentile(sent["steady"]["lag"], 99)) / 1000.0


# ---------------------------------------------------------------- main

def untraced_latency(path, seed):
    """latency_ms of the untraced run of this seed; without one, the median
    over the untraced runs of other seeds, which spares the traced run a
    second run of the workload (a run is most of a minute)."""
    runs = {}
    for f in os.listdir(path):
        if not f.endswith(".json"):
            continue
        with open(os.path.join(path, f)) as fh:
            runs[f] = json.load(fh)["latency_ms"]
    return runs[f"seed{seed}.json"] if f"seed{seed}.json" in runs else statistics.median(runs.values())


RUNNERS = {"catalog": run_catalog, "feature-store": run_feature_store, "tcp-service": run_tcp}


def run_once(build, conf, a, scale):
    work = os.path.join(BUILD, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        res = RUNNERS[a.workload](build, conf, a, work, scale)
        if a.trace:
            keep = os.path.join(BUILD, "trace", a.workload)
            shutil.rmtree(keep, ignore_errors=True)
            os.makedirs(keep)
            for f in ("spans.jsonl", "jvm.log"):
                if os.path.exists(os.path.join(work, f)):
                    shutil.copy(os.path.join(work, f), keep)
            with open(os.path.join(keep, "result.json"), "w") as fh:
                json.dump(res, fh, indent=1)
            if "profile" in res["extra"]:
                with open(os.path.join(keep, "profile.json"), "w") as fh:
                    json.dump(res["extra"]["profile"], fh, indent=1)
            log(f"trace written to {os.path.relpath(keep, ROOT)}/")
        return res
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description="graft benchmark: one workload, one run")
    ap.add_argument("--workload", required=True, choices=sorted(RUNNERS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still stops its JVM and generator (the finally blocks)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        preflight()
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            bench = json.load(fh)
        with open(os.path.join(HERE, "workloads.json")) as fh:
            conf = json.load(fh)
        digest = source_digest()
        build = Build(classpath(digest), digest)
        scale = a.seconds / bench["run_seconds"]
        # trace.overhead_frac compares with the untraced runs of the same
        # build and workload settings (see untraced_latency)
        key = hashlib.sha256(json.dumps([digest, a.seconds, conf[a.workload]], sort_keys=True).encode())
        untraced = os.path.join(BUILD, "untraced", f"{a.workload}-{key.hexdigest()[:12]}")
        os.makedirs(untraced, exist_ok=True)

        def remember(r):
            path = os.path.join(untraced, f"seed{a.seed}.json")
            with open(path + ".tmp", "w") as fh:
                json.dump(r["e2e"], fh)
            os.replace(path + ".tmp", path)
        if a.trace and not any(f.endswith(".json") for f in os.listdir(untraced)):
            log("no untraced run of this build yet: running one first")
            remember(run_once(build, conf, argparse.Namespace(**dict(vars(a), trace=0)), scale))
        res = run_once(build, conf, a, scale)
        if not a.trace:
            remember(res)
    except BenchError as e:
        log(str(e))
        sys.exit(2)
    except (OSError, subprocess.SubprocessError, ValueError, KeyError) as e:
        log(f"{type(e).__name__}: {e}")
        sys.exit(2)

    spec = bench["per_layer"] if a.trace else bench["end_to_end"]
    values = dict(res["layer"] if a.trace else res["e2e"])
    if a.trace:
        values["trace.overhead_frac"] = res["e2e"]["latency_ms"] / untraced_latency(untraced, a.seed) - 1.0
    metrics, missing = {}, []
    for m in spec:
        v = values.get(m["name"])
        if v is None and a.trace and m["name"] not in conf[a.workload]["layers"]:
            v = 0.0  # a layer this workload does not exercise did no work
        if v is None or not math.isfinite(v):
            missing.append(m["name"])
            continue
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    for c in res["checks"]:
        if not c["ok"]:
            log(f"check failed: {c['name']}: {c['detail']}")
    if missing:
        log(f"no value for: {', '.join(missing)}")
    correct = res["failed"] == 0 and not missing and all(c["ok"] for c in res["checks"])
    print(json.dumps({"correct": correct, "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
