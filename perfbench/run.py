#!/usr/bin/env python3
"""graft's benchmark: one command runs one workload and prints its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \\
        --trace <0|1>

Run from the root of a checkout of the repository. The first run builds
the library and the harness (sbt, offline) and generates the seeded
inputs; later runs reuse both while the sources and the seed are the
same. All outputs stay under perfbench/.work.

Workloads (all at local[4], one process, no more threads than cores; a run
on a machine without exactly 4 cores exits 3 and reports nothing):
  cdc_catchup     a connector restarting after an outage drains a staged
                  backlog of four skewed collections (closed loop)
  curation_small  a fixed list of training-data queries over a seeded
                  one-file corpus, validated against the DuckDB oracle

End-to-end metrics (--trace 0), the same three on every workload:
  setup_s      JVM start to the GraftExtensions session answering its
               first query
  result_s     median time to a complete result: one backlog drain by
               Connector.run (cdc_catchup; events/s = backlog / result_s)
               or one pass over the query list (curation_small)
  peak_rss_mb  the workload JVM's peak resident memory (VmHWM), with a
               2 GB heap that is touched only as the program uses it
A failure (a missing, extra or wrong message, a wrong resume token, an
errored query, a digest or oracle mismatch) counts in `failed`.

With --trace 1 the last stdout line carries the per-layer metrics of a
traced run instead (spans, Spark job/stage events, streaming progress,
the program's Prometheus text, layer probes); the spans are written to
perfbench/.work/runs/*/spans.jsonl. Earlier stdout lines carry the run's
environment block and details (per-unit and per-query times).
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

WORKLOADS = {
    "cdc_catchup": {"mode": "cdc", "events": 8000},
    "curation_small": {"mode": "curation", "docs": 600, "vecs": 300},
}
# the probe set every workload carries (a small backlog and a small corpus)
COMMON = {"probe_events": 4000, "probe_docs": 400, "probe_vecs": 200}
QUERIES = ["dedup_span_removal", "dedup_simhash_pairs", "sim_knn_lsh",
           "curation_pipeline_e2e"]
RUN_LIMIT_S = 175  # a run must end within 180 s once built
# the core count the baseline (perfbench/baseline) was taken with; a run on
# another count is invalid and reports nothing
DECLARED_CORES = 4
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

END_TO_END = [("setup_s", "s"), ("result_s", "s"), ("peak_rss_mb", "MB")]
KERNELS = ["minhash_sig", "simhash64", "winnow_fingerprint", "token_counts",
           "bpe_apply", "lsh_buckets", "vec_dot", "to_extended_json"]
OPERATORS = ["kmeans_fit", "connected_components", "pack_shards",
             "incremental_dedup_probe", "coreset"]
STREAM_KEYS = [
    ("streaming.triggers", "count"), ("streaming.progress_events", "count"),
    ("streaming.trigger_ms.p50", "ms"),
    ("streaming.trigger_ms.p99", "ms"), ("streaming.query_planning_ms", "ms"),
    ("streaming.add_batch_ms", "ms"), ("streaming.wal_commit_ms", "ms"),
    ("streaming.commit_offsets_ms", "ms"), ("streaming.tokens_read.s", "s"),
    ("streaming.backlog_events.max", "count"),
    ("streaming.duplicates", "count"), ("streaming.shuffle_bytes", "bytes"),
    ("sinks.messages_append.s", "s"),
    ("sinks.tokens_append.s", "s"), ("sinks.published", "count")]
SPARK_KEYS = [("stages", "count"), ("tasks", "count"),
              ("serial_stages", "count"), ("shuffle_bytes", "bytes"),
              ("spill_bytes", "bytes"), ("task_skew_max", "ratio")]
OBSERVED = ["dropped_buckets", "dropped_postings", "total_buckets"]


def per_layer_names():
    """(name, unit, better) of every per-layer metric, in output order."""
    out = [("functions.%s.rows_per_s" % k, "1/s", "higher") for k in KERNELS]
    out += [("operators.%s.s" % o, "s", "lower") for o in OPERATORS]
    out += [("operators.cdc_to_messages.rows_per_s", "1/s", "higher"),
            ("sources.changestream.rows_per_s", "1/s", "higher"),
            ("sources.latest_offset_ms", "ms", "lower")]
    out += [(k, u, "higher" if k in ("sinks.published",
                                     "streaming.progress_events") else "lower")
            for k, u in STREAM_KEYS]
    out += [("streaming.single_thread_events_per_s", "1/s", "higher")]
    for q in QUERIES:
        out += [("queries.%s.s" % q, "s", "lower"),
                ("queries.%s.shuffle_bytes" % q, "bytes", "lower")]
    out += [("queries.%s" % k, u, "lower") for k, u in SPARK_KEYS]
    out += [("queries.observed.%s" % k, "count", "lower") for k in OBSERVED]
    out += [("trace.self_s.%s" % l, "s", "lower")
            for l in ("workload", "phase", "unit", "job", "stage")]
    out += [("trace.overhead_s", "s", "lower"), ("trace.spans", "count",
                                                  "higher"),
            ("jvm.gc_s", "s", "lower"), ("jvm.heap_peak_mb", "MB", "lower"),
            ("jvm.live_heap_mb", "MB", "lower"),
            ("failed_frac", "ratio", "lower")]
    return out


def log(msg):
    print("[perfbench] %s" % msg, file=sys.stderr, flush=True)


def fail(msg, code=2, log_file=None):
    """Exit without a result; with `log_file`, show the end of that log
    (the harness's progress lines and errors) on stderr."""
    if log_file:
        log_tail(log_file)
    log("error: " + msg)
    sys.exit(code)


def log_tail(path, n=30):
    """Print a log's progress lines, error headlines and the stack of its
    main thread (a JVM thread dump), then its last lines."""
    try:
        with open(path, errors="replace") as fh:
            lines = fh.read().splitlines()
    except OSError:
        return
    keep, in_main = [], False
    for l in lines:
        in_main = l.startswith('"main"') or (in_main and l.strip() != "")
        if (in_main or l.startswith("[harness") or
                re.match(r"(\S+(Exception|Error)\b|Caused by|Exception in)",
                         l)):
            keep.append(l)
    for l in keep[-3 * n:] + ["--- end of %s:" % os.path.basename(path)] + \
            lines[-n:]:
        print("  | " + l[:400], file=sys.stderr)


def nproc():
    return len(os.sched_getaffinity(0))


def cpu_steal(since=None):
    """/proc/stat (steal, total) ticks, or the steal share since `since`."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    now = (f[7], sum(f))
    if since is None:
        return now
    return (now[0] - since[0]) / max(1, now[1] - since[1])


def loadavg():
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


# ---------------------------------------------------------------- build

def source_digest():
    """sha256 over every file the build reads, in a stable order."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"),
                os.path.join(HERE, "src")):
        for d, dirs, names in os.walk(top):
            dirs.sort()
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def git_state():
    """(sha, dirty) when the checkout is a git work tree, else (None, None)."""
    try:
        top = subprocess.run(["git", "rev-parse", "--show-toplevel"],
                             cwd=ROOT, capture_output=True, text=True,
                             timeout=10)
        if (top.returncode != 0 or
                os.path.realpath(top.stdout.strip()) != os.path.realpath(ROOT)):
            return None, None
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
        st = subprocess.run(["git", "status", "--porcelain", "--", "src",
                             "build.sbt", "project", "perfbench"], cwd=ROOT,
                            capture_output=True, text=True, timeout=10)
        return sha.stdout.strip(), bool(st.stdout.strip())
    except (OSError, subprocess.SubprocessError):
        return None, None


def build(digest):
    """Compile library + harness once per source digest; the classpath."""
    cp_file = os.path.join(WORK, "build", "classpath-%s.txt" % digest[:16])
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            return fh.read().strip(), 0.0
    os.makedirs(os.path.dirname(cp_file), exist_ok=True)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.log.noformat=true", "-Xmx2g",
            "-Djava.io.tmpdir=%s" % tmp]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 "-Dsbt.repository.config=%s" % repos]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts))
    log("building library and harness (sbt, offline)")
    t0 = time.time()
    with open(os.path.join(WORK, "build", "sbt.log"), "w") as out:
        p = subprocess.run(["sbt", "--batch", "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                           stdout=subprocess.PIPE, stderr=out, text=True,
                           timeout=840)
        out.write(p.stdout)
    # the classpath is the last line that lists jars (not a log line)
    cps = [l.strip() for l in p.stdout.splitlines()
           if ".jar" in l and not l.startswith("[")]
    if p.returncode != 0 or not cps:
        fail("build failed (sbt exit code %d)" % p.returncode,
             log_file=os.path.join(WORK, "build", "sbt.log"))
    with open(cp_file + ".tmp", "w") as fh:
        fh.write(cps[-1])
    os.replace(cp_file + ".tmp", cp_file)
    return cps[-1], time.time() - t0


# ------------------------------------------------------------------ jvm

def java(cp, args, work, cores, log_name, deadline):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a heap that never resizes, with a fixed young generation: G1 then
    # touches the young regions and as many old regions as the program
    # keeps alive at its peak, so peak RSS does not hinge on when G1 would
    # grow the heap or resize the young generation
    cmd = ["java", "-Xms2g", "-Xmx2g", "-Xmn512m",
           "-XX:ActiveProcessorCount=%d" % cores,
           "-Djava.io.tmpdir=%s" % tmp, "-Dderby.system.home=%s" % tmp]
    for p in ADD_OPENS:
        cmd += ["--add-opens", "%s=ALL-UNNAMED" % p]
    cmd += ["-cp", cp, "perfbench.Harness"] + [str(a) for a in args]
    # Spark binds to the loopback address, so a host name that does not
    # resolve cannot stop a run
    env = dict(os.environ)
    env.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    env.setdefault("SPARK_LOCAL_HOSTNAME", "localhost")
    log_file = os.path.join(work, log_name)
    with open(log_file, "w") as out:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdin=subprocess.DEVNULL,
                             stdout=out, stderr=out)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.send_signal(signal.SIGQUIT)  # a thread dump into the log
            time.sleep(2)
            fail("harness JVM timed out (%s)" % log_name, log_file=log_file)
        finally:  # never leave a JVM behind, whatever ends the wait
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0:
        fail("harness JVM failed with code %d" % rc, log_file=log_file)
    with open(args[6]) as fh:
        return json.load(fh)


# --------------------------------------------------------------- oracle

def oracle_check(data, work, res):
    """Compare each validation output with DuckDB running the query's
    oracle SQL (cached per seed), the way tools/check.py does. Returns
    {query: error} for every query that does not match."""
    import duckdb
    import numpy as np
    import pandas as pd

    cache = os.path.join(data, "oracle")
    os.makedirs(cache, exist_ok=True)
    con = None
    bad = {}
    for q, sql in sorted(res.get("oracle_sql", {}).items()):
        if q in res.get("errors", {}):
            continue
        want_f = os.path.join(cache, q + ".parquet")
        if not os.path.exists(want_f):
            if con is None:
                con = duckdb.connect()
                con.execute("SET threads TO %d" % nproc())
                con.execute("SET temp_directory = '%s'"
                            % os.path.join(work, "duckdb-tmp"))
                for t in ("documents", "embeddings"):
                    con.execute("CREATE VIEW %s AS SELECT * FROM '%s'" % (
                        t, os.path.join(data, "corpus", t + ".parquet")))
            try:
                df = con.execute(sql).df()
            except Exception as e:  # an oracle that fails is a failure
                bad[q] = "oracle error: %s" % str(e)[:200]
                continue
            df.to_parquet(want_f + ".tmp")
            os.replace(want_f + ".tmp", want_f)
        want = pd.read_parquet(want_f)
        got_dir = os.path.join(work, "out", q)
        parts = sorted(f for f in os.listdir(got_dir) if f.endswith(".parquet"))
        got = (pd.concat([pd.read_parquet(os.path.join(got_dir, f))
                          for f in parts]) if parts else pd.DataFrame())
        got = got[sorted(got.columns)].reset_index(drop=True)
        want = want[sorted(want.columns)].reset_index(drop=True)
        if list(got.columns) != list(want.columns):
            bad[q] = "schema %s vs %s" % (list(got.columns), list(want.columns))
            continue
        if len(got) != len(want):
            bad[q] = "rows %d vs %d" % (len(got), len(want))
            continue

        def norm(s):
            if s.dtype.kind == "M" or (s.dtype == object and len(s) and
                                       hasattr(s.iloc[0], "isoformat")):
                return pd.to_datetime(s).dt.strftime("%Y-%m-%dT%H:%M:%S")
            return s
        got, want = got.apply(norm), want.apply(norm)
        for c in got.columns:
            g, w = got[c].values, want[c].values
            if g.dtype.kind == "f" or w.dtype.kind == "f":
                eq = (pd.isna(g) & pd.isna(w)) | (g == w)
            else:
                eq = ((pd.Series(g).isna().values &
                       pd.Series(w).isna().values) |
                      pd.Series(g).astype(object).eq(
                          pd.Series(w).astype(object)).values)
            if not np.asarray(eq).all():
                i = int(np.argmin(eq))
                bad[q] = "value col=%s row=%d: %r vs %r" % (c, i, g[i], w[i])
                break
    return bad


# ------------------------------------------------------------------ main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("no graft sources next to the benchmark (expected build.sbt "
             "and src/main/scala/graft in %s)" % ROOT)
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")

    # a SIGTERM unwinds like an error, so the JVM a run waits on is killed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cores = nproc()
    if cores != DECLARED_CORES:
        fail("invalid run: %d cores, but the benchmark is declared for %d"
             % (cores, DECLARED_CORES), code=3)
    load_start = loadavg()
    sha, dirty = git_state()
    digest = source_digest()
    cp, build_s = build(digest)
    deadline = time.time() + RUN_LIMIT_S  # the limit starts after a build

    wl = WORKLOADS[a.workload]
    params = dict(COMMON, **wl)
    tag = hashlib.sha256(json.dumps(params, sort_keys=True).encode())
    with open(os.path.join(HERE, "gen.py"), "rb") as fh:
        tag.update(fh.read())
    data = os.path.join(WORK, "data", "%s-%d-%s" % (
        a.workload, a.seed, tag.hexdigest()[:8]))
    sys.path.insert(0, HERE)
    import gen
    t0 = time.time()
    meta, fresh = gen.generate(data, a.workload, a.seed, params)
    gen_s = time.time() - t0 if fresh else 0.0

    runs = os.path.join(WORK, "runs")
    shutil.rmtree(runs, ignore_errors=True)  # the previous run's outputs
    work = os.path.join(runs, "%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    os.makedirs(work)

    steal_start = cpu_steal()
    out = os.path.join(work, "result.json")
    res = java(cp, [wl["mode"], data, work, a.seconds, a.trace, cores, out,
                    ",".join(QUERIES)], work, cores, "harness.log", deadline)
    env = res["env"]
    if env["default_parallelism"] != cores or env["shuffle_partitions"] != cores:
        fail("invalid run: Spark runs %d-way but %d cores are declared"
             % (env["default_parallelism"], cores), code=3)

    failed, attempted = res["failed"], res["attempted"]
    oracle_bad = {}
    if wl["mode"] == "curation":
        oracle_bad = oracle_check(data, work, res)
        failed += len(oracle_bad)

    single = None
    if a.trace:
        # the single-threaded baseline: a traced drain of the probe backlog
        # at local[1] (also the stream layers of a workload without one)
        sout = os.path.join(work, "single.json")
        single = java(cp, ["single", data, work, 0, 1, 1, sout], work, 1,
                      "single.log", deadline)
        failed += single["failed"]
        attempted += single["attempted"]

    env_block = dict(env, nproc=cores, declared_cores=DECLARED_CORES,
                     git_sha=sha, git_dirty=dirty, source_sha256=digest,
                     loadavg_start=load_start, loadavg_end=loadavg(),
                     build_s=build_s, gen_s=gen_s, seed=a.seed,
                     workload=a.workload, seconds=a.seconds, trace=a.trace,
                     steal_frac=cpu_steal(steal_start),
                     units=len(res["unit_s"]))
    print(json.dumps({"env": env_block}))
    print(json.dumps({"detail": {
        "unit_s": res["unit_s"], "events_per_s": res.get("events_per_s"),
        "query_s": res.get("query_s"), "validate_s": res.get("validate_s"),
        "errors": res.get("errors"),
        "oracle_mismatches": oracle_bad, "inputs": meta}}))

    if not a.trace:
        values = {"setup_s": res["setup_s"],
                  "result_s": statistics.median(res["unit_s"]),
                  "peak_rss_mb": res["jvm"]["peak_rss_mb"]}
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END}
    else:
        metrics = per_layer(res, single, failed, attempted)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


def per_layer(res, single, failed, attempted):
    probes = res["probes"]
    stream = res.get("layer") or single["layer"]
    spark = res["spark"]
    self_s = res["self_s"]
    untraced = (res.get("untraced_unit_s") or
                res.get("layer", {}).get("untraced_unit_s") or [])
    v = {}
    for k in KERNELS:
        v["functions.%s.rows_per_s" % k] = probes["functions.%s.rows_per_s" % k]
    for o in OPERATORS:
        v["operators.%s.s" % o] = probes["operators.%s.s" % o]
    v["operators.cdc_to_messages.rows_per_s"] = \
        probes["operators.cdc_to_messages.rows_per_s"]
    for k in ("sources.changestream.rows_per_s", "sources.latest_offset_ms"):
        v[k] = probes[k]
    for k, _ in STREAM_KEYS:
        v[k] = stream[k]
    v["streaming.single_thread_events_per_s"] = \
        statistics.median(single["events_per_s"])
    for q in QUERIES:  # 0 on a workload that does not run the list
        v["queries.%s.s" % q] = (res.get("query_s") or {}).get(q, 0.0)
        v["queries.%s.shuffle_bytes" % q] = spark["query_shuffle_bytes"].get(q, 0)
    for k, _ in SPARK_KEYS:
        v["queries.%s" % k] = spark[k]
    for k in OBSERVED:
        v["queries.observed.%s" % k] = spark["observed"].get(k, 0)
    for l in ("workload", "phase", "unit", "job", "stage"):
        v["trace.self_s.%s" % l] = self_s.get(l, 0.0)
    v["trace.overhead_s"] = (statistics.median(res["unit_s"]) -
                             statistics.median(untraced))
    v["trace.spans"] = res["spans"]
    v["jvm.gc_s"] = res["jvm"]["gc_s"]
    v["jvm.heap_peak_mb"] = res["jvm"]["heap_peak_mb"]
    v["jvm.live_heap_mb"] = res["jvm"]["live_heap_mb"]
    v["failed_frac"] = failed / max(1, attempted)
    return {n: {"value": v[n], "unit": u} for n, u, _ in per_layer_names()}


if __name__ == "__main__":
    main()
