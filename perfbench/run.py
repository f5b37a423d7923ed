#!/usr/bin/env python3
"""The repo benchmark: one command, three seeded workloads.

    python3 perfbench/run.py --workload {query_mix,curation,calls_stream} \\
        --seed N --seconds S --trace {0,1}

Run from the repository root. It builds the engine with sbt (`export
Runtime/fullClasspath`), compiles the harness in `perfbench/src` with the
Scala compiler jar on that classpath, generates the workload's inputs from
the seed, runs the harness with plain `java`, checks the outputs (DuckDB
oracles for the board queries, the batch pipeline for the stream) and
prints the metrics. The last stdout line is one bare JSON object.
Build outputs, inputs and run artifacts go under `.bench_build/`.
"""
import argparse
import glob
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
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # write nothing beside the sources

import gen  # noqa: E402
import metrics as M  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
# a run must end within 180 s; the build before the first run of a
# checkout has its own, longer allowance
DEADLINE_S = 175.0
BUILD_S = {"sbt": 600, "scalac": 200}
T_START = time.monotonic()

END_TO_END = ("setup_s", "latency_p50_ms", "latency_tail_ms", "throughput_per_s",
              "retained_heap_mb")
UNITS = {"setup_s": "s", "latency_p50_ms": "ms", "latency_tail_ms": "ms",
         "throughput_per_s": "1/s", "retained_heap_mb": "MB"}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"error: {msg}")
    sys.exit(code)


def remaining():
    return DEADLINE_S - (time.monotonic() - T_START)


CHILDREN = []


def spawn(cmd, timeout, **kw):
    """Run a child process to completion within `timeout` seconds; it is
    killed (and waited for) on timeout or when this process is signalled."""
    proc = subprocess.Popen(cmd, **kw)
    CHILDREN.append(proc)
    try:
        proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"{os.path.basename(cmd[0])} exceeded its time budget")
    finally:
        CHILDREN.remove(proc)
    return proc.returncode


def on_signal(signum, _frame):
    for p in CHILDREN:
        p.kill()
        p.wait()
    fail(f"stopped by signal {signum}")


# --- build -------------------------------------------------------------------

def source_stamp():
    files = ["build.sbt"] + sorted(glob.glob("project/*.sbt") + glob.glob("project/*.properties"))
    files += sorted(glob.glob("src/main/**/*", recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    h = hashlib.sha256()
    for f in files:
        if os.path.isfile(f):
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", " ".join([
        "-Dsbt.override.build.repos=true",
        f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')}",
        "-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]))
    return env


def build():
    """Compile engine + harness once per source state; returns (classpath,
    java options)."""
    stamp = source_stamp()
    meta = os.path.join(BUILD, "build.json")
    if os.path.exists(meta):
        with open(meta) as fh:
            m = json.load(fh)
        if m.get("stamp") == stamp:
            return m["classpath"], m["java_options"]
    log("building engine (sbt) and harness (scalac)")
    blog = os.path.join(BUILD, "build.log")
    os.makedirs(BUILD, exist_ok=True)
    with open(blog, "w") as fh:
        rc = spawn(["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath",
                    "show javaOptions"], BUILD_S["sbt"],
                   stdout=fh, stderr=subprocess.STDOUT, env=sbt_env())
    with open(blog) as fh:
        text = fh.read()
    if rc != 0:
        sys.stderr.write(text[-4000:])
        fail("sbt build failed")
    lines = text.splitlines()
    cps = [ln for ln in lines if not ln.startswith("[") and os.pathsep in ln]
    if not cps:
        fail("sbt printed no classpath")
    classpath = cps[-1].strip()
    java_opts = [ln.split("* ", 1)[1].strip() for ln in lines if ln.startswith("[info] * ")]
    java_opts = [o for o in java_opts if not o.startswith("-Xmx")]
    jars = classpath.split(os.pathsep)
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler", "scala-library", "scala-reflect"))]
    if not any("scala-compiler" in j for j in compiler):
        fail("no scala-compiler jar on the exported classpath")
    classes = os.path.join(BUILD, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    srcs = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    with open(blog, "a") as fh:
        rc = spawn(["java", "-Xmx1g", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler),
                    "scala.tools.nsc.Main", "-nowarn", "-d", classes, "-classpath", classpath]
                   + srcs,
                   BUILD_S["scalac"], stdout=fh, stderr=subprocess.STDOUT)
    if rc != 0:
        with open(blog) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail("harness compile failed")
    cp = classes + os.pathsep + classpath
    with open(meta, "w") as fh:
        json.dump({"stamp": stamp, "classpath": cp, "java_options": java_opts}, fh)
    return cp, java_opts


# --- inputs --------------------------------------------------------------------

def make_inputs(workload, cfg, seed, seconds, data, probe_cfg):
    t0 = time.monotonic()
    shutil.rmtree(data, ignore_errors=True)
    os.makedirs(data)
    extra = []
    if workload == "calls_stream":
        gen.tables(data, seed, cfg["customer_sf"], 0, 0, 0.0, only=("customer",))
        n_cust = int(150_000 * cfg["customer_sf"])
        total = cfg["warm_s"] + seconds + cfg["burst_s"] * cfg["bursts"]
        sched = gen.call_schedule(seed, cfg["rate_eps"], total, n_cust, cfg["key_widen"],
                                  cfg["zipf_s"], cfg["time_scale"], cfg["max_disorder_event_s"])
        gen.write_calls(data, sched)
        # the traced run's kernel and operator probes read a corpus
        gen.tables(data, seed, 0.0, probe_cfg["documents"], probe_cfg["embeddings"],
                   probe_cfg["dup_share"], only=("documents", "embeddings"))
        miss = float((sched["caller"] >= n_cust).mean())
        extra = ["--rate", str(cfg["rate_eps"]), "--warm", str(cfg["warm_s"]),
                 "--watermark", cfg["watermark"],
                 "--tick_ms", str(cfg["append_tick_ms"]),
                 "--bursts", str(cfg["bursts"]),
                 "--prewarm_s", str(cfg["prewarm_s"]), "--prewarm_chunks", str(cfg["prewarm_chunks"]),
                 "--budget", str(int(remaining() - 60))]
        info = {"events": len(sched["due_ms"]), "miss_share": miss}
    else:
        only = gen.TABLES if workload == "query_mix" else ("documents", "embeddings")
        info = gen.tables(data, seed, cfg["sf"], cfg["documents"], cfg["embeddings"],
                          cfg["dup_share"], only=only)
        names = [q for fam in cfg["families"].values() for q in fam]
        extra = ["--queries", ",".join(names), "--pass_s", str(cfg["nominal_pass_s"])]
        sched = None
    log(f"inputs for {workload} (seed {seed}) in {time.monotonic() - t0:.1f} s: {info}")
    return extra, sched


# --- oracle check ----------------------------------------------------------------

def oracle_check(raw, data, out):
    """Compare each dumped warm result with its DuckDB oracle, canonicalised
    as scripts/selfcheck.py does (columns sorted by name, rows sorted,
    cells compared as strings). Returns {query: error or None}."""
    import duckdb
    import pandas as pd

    def canon(df):
        df = df.reindex(sorted(df.columns), axis=1)
        return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)

    def cell_eq(a, b):
        if a is None and b is None:
            return True
        try:
            if pd.isna(a) and pd.isna(b):
                return True
        except (TypeError, ValueError):
            pass
        return str(a) == str(b)

    con = duckdb.connect()
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    for p in glob.glob(os.path.join(data, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    # oracle results depend only on the inputs, so a seed seen before in
    # this checkout reuses them
    cache = os.path.join(BUILD, "oracle-cache")
    os.makedirs(cache, exist_ok=True)
    h = hashlib.sha256()
    for p in sorted(glob.glob(os.path.join(data, "*.parquet"))):
        with open(p, "rb") as fh:
            h.update(fh.read())
    data_key = h.hexdigest()

    def oracle(sql):
        key = hashlib.sha256((data_key + sql).encode()).hexdigest()[:32]
        path = os.path.join(cache, key + ".pkl")
        if os.path.exists(path):
            return pd.read_pickle(path)
        df = con.execute(sql).df()
        df.to_pickle(path)
        return df

    verdict = {}
    for name, sql in raw.get("oracle_sql", {}).items():
        files = sorted(glob.glob(os.path.join(out, "results", name, "*.parquet")))
        try:
            got = canon(pd.concat([pd.read_parquet(f) for f in files]))
            exp = canon(oracle(sql))
        except Exception as e:  # noqa: BLE001 - any failure is a failed check
            verdict[name] = f"{type(e).__name__}: {str(e)[:200]}"
            continue
        if list(got.columns) != list(exp.columns):
            verdict[name] = f"columns {list(got.columns)} != {list(exp.columns)}"
        elif len(got) != len(exp):
            verdict[name] = f"rows {len(got)} != {len(exp)}"
        else:
            bad = next(((c, i, a, b) for c in got.columns
                        for i, (a, b) in enumerate(zip(got[c].tolist(), exp[c].tolist()))
                        if not cell_eq(a, b)), None)
            verdict[name] = None if bad is None else \
                f"first diff col={bad[0]} row={bad[1]}: spark={bad[2]!r} oracle={bad[3]!r}"
    return verdict


# --- analysis ----------------------------------------------------------------------

def latency_stats(samples, want):
    """Median and the configured tail percentile, lowered to the highest
    one with at least ten samples beyond it when the run has too few."""
    p = M.tail_percentile(len(samples), want) or 50.0
    p50 = statistics.median(samples) if samples else float("nan")
    return {"n": len(samples), "p50": p50, "tail_pct": p,
            "tail": p50 if p == 50.0 else M.percentile(samples, p)}


def query_ops(raw, verdict, cfg):
    """Attempted/failed counts and per-query latencies of a board workload."""
    ops = raw["ops"]
    warm_hash = {o["name"].split("#")[0]: o["hash"] for o in ops if o["phase"] == "warm"}
    attempted = failed = 0
    problems = []
    for o in ops:
        q = o["name"].split("#")[0]
        attempted += 1
        err = None
        if not o["ok"]:
            err = o["error"]
        elif verdict.get(q):
            err = f"oracle mismatch: {verdict[q]}"
        elif o["hash"] != warm_hash.get(q):
            err = f"result differs from warm run ({o['hash']} vs {warm_hash.get(q)})"
        if err:
            failed += 1
            problems.append(f"{o['name']}: {err}")
    measured = [o for o in ops if o["phase"] == "measure"]
    return attempted, failed, problems, measured


def analyze(workload, cfg, raw, verdict, sched):
    out = {}
    human = []
    jvm0 = raw["jvm_start_ms"]
    m0, m1 = raw["measure_start_ms"], raw["measure_end_ms"]
    out["setup_s"] = (m0 - jvm0) / 1000.0
    out["retained_heap_mb"] = raw["live_heap_mb"]
    problems = []
    if workload in ("query_mix", "curation"):
        attempted, failed, problems, measured = query_ops(raw, verdict, cfg)
        if workload == "query_mix":
            lat = [o["end"] - o["start"] for o in measured if o["ok"]]
            st = latency_stats(lat, cfg["tail_pct"])
            # successful queries over their own time: neither the host-health
            # probes between queries nor fast failures count
            out["throughput_per_s"] = len(lat) / (sum(lat) / 1000.0) if lat else float("nan")
            human += [
                ("query_latency_p50_ms", st["p50"], "ms", f"n={st['n']}"),
                (f"query_latency_p{st['tail_pct']:g}_ms", st["tail"], "ms", f"n={st['n']}"),
                ("queries_per_s", out["throughput_per_s"], "1/s",
                 f"{len(lat)} successful queries over their summed latency, "
                 f"{len(raw['passes'])} passes")]
        else:
            # the operation is one pass of the chain
            lat = [e - s for s, e in raw["passes"]]
            st = latency_stats(lat, cfg["tail_pct"])
            out["throughput_per_s"] = cfg["documents"] / (st["p50"] / 1000.0)
            human += [
                ("chain_wall_s", st["p50"] / 1000.0, "s", f"median of n={st['n']} passes"),
                ("documents_per_s", out["throughput_per_s"], "1/s", f"{cfg['documents']} docs")]
        out["latency_p50_ms"], out["latency_tail_ms"] = st["p50"], st["tail"]
    else:
        check = raw["stream_check"]
        prog = raw["progress"]
        t0 = raw["stream_t0_ms"]
        timed = [c for c in raw["chunks"] if c[0] < raw["bursts"]["from"]]
        acc = M.event_latencies(
            sched["due_ms"], timed, [(p["end_offset"], p["end"]) for p in prog], t0)
        # only events due inside the measured window count
        lo, hi = m0 - t0, m1 - t0
        inside = [v for k, v in acc.items() if lo <= sched["due_ms"][k] < hi]
        unserved = sum(1 for v in acc.values() if v[0] is None)
        lat = [v[0] for v in inside if v[0] is not None]
        late = [v[1] for v in inside]
        st = latency_stats(lat, cfg["tail_pct"])
        out["latency_p50_ms"], out["latency_tail_ms"] = st["p50"], st["tail"]
        b = raw["bursts"]
        # capacity: a burst's rows over the duration of the batch that took
        # them, median over the bursts
        rates = []
        for off in b["offsets"]:
            took = [p for p in prog if p["rows"] > 0 and p["end_offset"] >= off]
            if took:
                rates.append(took[0]["rows"] / ((took[0]["end"] - took[0]["start"]) / 1000.0))
        out["throughput_per_s"] = statistics.median(rates) if rates else float("nan")
        dropped = sum(p["dropped"] for p in prog)
        attempted = max(1, check["keys"])
        # a failed stream fails every row; rows dropped as late fail the check
        failed = min(attempted, check["mismatched"] + (attempted if check["error"] else 0)
                     + (1 if dropped else 0))
        if check["mismatched"]:
            problems.append(f"{check['mismatched']} (caller, window) rows differ from the "
                            f"batch pipeline, e.g. {check['sample']}")
        if check["error"]:
            problems.append(f"stream failed: {check['error']}")
        if dropped:
            problems.append(f"{dropped} rows dropped as late by the watermark")
        if unserved:
            problems.append(f"{unserved} events never reached a batch")
        human += [
            ("event_latency_p50_ms", st["p50"], "ms", f"n={st['n']}"),
            (f"event_latency_p{st['tail_pct']:g}_ms", st["tail"], "ms", f"n={st['n']}"),
            ("burst_capacity_eps", out["throughput_per_s"], "1/s",
             f"median of {len(rates)} bursts of {b['rows']} events, rows/batch duration"),
            ("offered_eps", cfg["rate_eps"], "1/s", "open loop"),
            ("gen_lateness_p99_ms", M.percentile(late, 99), "ms", f"n={len(late)}")]
    human += [("setup_s", out["setup_s"], "s", "process start to first timed operation"),
              ("failed_share", failed / attempted, "", f"{failed} of {attempted}"),
              ("retained_heap_mb", out["retained_heap_mb"], "MB",
               "live heap after full GC, engine state live")]
    hl = M.health([p["ms"] for p in raw["probes"]])
    return out, human, attempted, failed, problems, hl


def cpu_steal():
    """(steal, total) CPU jiffies of this machine, or None off Linux."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
        return f[7], sum(f)
    except (OSError, ValueError, IndexError):
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)

    with open(os.path.join(HERE, "workloads.json")) as fh:
        workloads = json.load(fh)
    if args.workload not in workloads:
        fail(f"unknown workload {args.workload!r}; one of {sorted(workloads)}")
    cfg = workloads[args.workload]
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft", "SparkEntry.scala")):
        if not os.path.isfile(need):
            fail(f"{need} not found: run from the root of a graft checkout")
    if not shutil.which("sbt") or not shutil.which("java"):
        fail("sbt and java must be on PATH")

    global T_START
    classpath, java_opts = build()
    T_START = time.monotonic()
    run_dir = os.path.join(BUILD, "run", args.workload)
    data = os.path.join(run_dir, "data")
    out = os.path.join(run_dir, "out")
    extra, sched = make_inputs(args.workload, cfg, args.seed, args.seconds, data,
                                 workloads["curation"])
    shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(os.path.join(run_dir, "tmp"), ignore_errors=True)
    cores = len(os.sched_getaffinity(0))
    # keep the JVM's temporary files inside the checkout: no perf-data file,
    # temp files under the run directory, and Spark's local dirs from its
    # own setting rather than an inherited SPARK_LOCAL_DIRS
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
           + java_opts + ["-cp", classpath, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--data", data, "--out", out, "--cores", str(cores)] + extra)
    log(f"running {args.workload} on local[{cores}] for {args.seconds:g} s")
    steal0 = cpu_steal()
    with open(os.path.join(run_dir, "jvm.log"), "w") as jlog:
        rc = spawn(cmd, max(10, remaining() - 15), stdout=jlog, stderr=subprocess.STDOUT,
                   env=env)
    if rc != 0 or not os.path.exists(os.path.join(out, "raw.json")):
        with open(os.path.join(run_dir, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-3000:])
        fail(f"harness exited with {rc}")
    with open(os.path.join(out, "raw.json")) as fh:
        raw = json.load(fh)

    verdict = oracle_check(raw, data, out) if raw.get("oracle_sql") else {}
    e2e, human, attempted, failed, problems, hl = analyze(args.workload, cfg, raw, verdict, sched)
    for p in problems[:20]:
        log(f"check failed: {p}")

    print(f"workload={args.workload} seed={args.seed} seconds={args.seconds:g} "
          f"cores={cores} trace={args.trace}")
    for name, v, unit, note in human:
        print(f"  {name:<24} {v:>14.4f} {unit:<4} {note}")
    load = os.getloadavg()
    steal1 = cpu_steal()
    steal = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]) if steal0 and steal1 else 0.0
    print(f"  host: nproc={cores} loadavg={load[0]:.2f},{load[1]:.2f},{load[2]:.2f} "
          f"cpu_steal={steal:.1%} "
          f"dispatch probe median={hl['median_ms']:.2f} ms max={hl['max_ms']:.2f} ms "
          f"n={hl['n']} {'healthy' if hl['healthy'] else 'UNHEALTHY (max > 2x median)'}")

    if args.trace:
        import layers
        metrics = layers.per_layer(args.workload, cfg, raw, sched)
        for k, v in metrics.items():
            print(f"  {k:<34} {v['value']:>14.4f} {v['unit']}")
    else:
        metrics = {k: {"value": e2e[k], "unit": UNITS[k]} for k in END_TO_END}
    # a metric that could not be measured is a failed check, not a number
    unmeasured = [k for k, v in metrics.items() if not math.isfinite(v["value"])]
    for k in unmeasured:
        log(f"check failed: {k} could not be measured")
        metrics[k]["value"] = 0.0
    failed = min(attempted, failed + len(unmeasured))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
