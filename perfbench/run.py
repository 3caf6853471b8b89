#!/usr/bin/env python3
"""Benchmark of the graft streaming ETL and its batch query surface.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the library and the
benchmark's own JVM side from source into .bench_build/ (scalac from the
Spark distribution's jars); later runs reuse the build while the sources are
unchanged. Every run generates its inputs from --seed, measures for --seconds,
checks the outputs, and prints one JSON object as the last line of stdout.
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.join(ROOT, "tools"))  # verify_local.canon
import gen  # noqa: E402
import layers  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
OUT = os.path.join(ROOT, ".bench_out")
ORACLE_COMMITTED = os.path.join(HERE, "oracle.json")
ORACLE_BUILT = os.path.join(BUILD, "oracle.json")
CORES = os.cpu_count() or 1
JVM_TIMEOUT_S = 165

# stream_drain: backlog drained in micro-batches of ~10,000 observations
DRAIN_OBS_PER_FILE = 2500
DRAIN_FILES_PER_TRIGGER = 4
DRAIN_FILES = 8

# batch_suite: the queries the ROADMAP names plus one query of every other
# operator module, over the sf0.001 tables in perfbench/data
BATCH_QUERIES = {
    "text_cosine_pairs": "TextOps", "dedup_report": "TextOps",
    "dedup_containment": "TextOps", "text_token_budget": "TextOps",
    "dedup_ngram_jaccard": "TextOps", "dedup_clusters_report": "TextOps",
    "sim_knn_pq": "SimilarityOps", "mm_features": "Multimodal",
    "q21_waiting": "ExtraOps", "q5_region": "StarOps",
    "k2_deadletter": "EventOps",
}
MINING_PREFIXES = ("dedup_", "text_", "llm_", "sim_", "mm_")
DUCKDB_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
                 "lineitem", "events", "documents", "embeddings"]

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def fail(msg):
    log("error: " + msg)
    sys.exit(2)


# ---------------------------------------------------------------------------
# Build
# ---------------------------------------------------------------------------

def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            return re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                             fh.read()).group(1)
    except (OSError, AttributeError):
        fail("no Spark jars: set SPARK_HOME, or run from the repository root")


def sources():
    lib = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                           recursive=True))
    own = sorted(glob.glob(os.path.join(HERE, "scala/**/*.scala"),
                           recursive=True))
    if not lib:
        fail("no library sources under src/main/scala; run from the "
             "repository root")
    if not glob.glob(os.path.join(spark_jars(), "spark-sql_*.jar")):
        fail("no Spark jars in " + spark_jars())
    return lib + own


def build():
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs + sorted(glob.glob(os.path.join(HERE, "data", "*"))) + \
            glob.glob(ORACLE_COMMITTED):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return classes
    log("building %d sources" % len(srcs))
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cp = spark_jars() + "/*"
    r = subprocess.run(
        ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", cp,
         "scala.tools.nsc.Main",
         "-nowarn", "-classpath", cp, "-d", classes] + srcs,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        fail("build failed:\n" + r.stdout[-4000:])
    oracle_answers(classes)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return classes


def java_cmd(classes, tmp, heap=("-Xmx3g",)):
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", "java.base/%s=ALL-UNNAMED" % p]
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    return cmd + list(heap) + ["-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp,
                  "-Dderby.system.home=" + tmp,
                  "-cp", classes + os.pathsep + spark_jars() + "/*",
                  "perfbench.Main"]


def oracle_answers(classes):
    """Canonical DuckDB answers of the batch_suite queries' oracle SQL over
    perfbench/data, keyed by the SQL text and the data. The mining oracles
    replay whole algorithms in SQL and take about a minute, so the answers
    are committed in perfbench/oracle.json; the build recomputes, into
    .bench_build/oracle.json, only those whose SQL or data changed."""
    import duckdb
    from verify_local import canon
    known = {}
    for path in (ORACLE_COMMITTED, ORACLE_BUILT):
        if os.path.exists(path):
            with open(path) as fh:
                known.update(json.load(fh))
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    sql_path = os.path.join(tmp, "oracle_sql.json")
    subprocess.run(java_cmd(classes, tmp) + ["oracle-sql", sql_path]
                   + sorted(BATCH_QUERIES), check=True)
    with open(sql_path) as fh:
        sqls = json.load(fh)
    data = os.path.join(HERE, "data")
    h = hashlib.sha256()
    for p in sorted(glob.glob(os.path.join(data, "*.parquet"))):
        with open(p, "rb") as fh:
            h.update(fh.read())
    answers = {}
    for name, sql in sorted(sqls.items()):
        key = hashlib.sha256((h.hexdigest() + sql).encode()).hexdigest()
        if known.get(name, {}).get("key") == key:
            answers[name] = known[name]
            continue
        log("computing the DuckDB oracle of " + name)
        con = duckdb.connect()
        con.sql("SET threads=%d" % CORES)
        for t in DUCKDB_TABLES:
            con.sql("CREATE VIEW %s AS SELECT * FROM '%s/%s.parquet'"
                    % (t, data, t))
        want = con.sql(sql)
        cols = [c.lower() for c in want.columns]
        answers[name] = {"key": key, "cols": sorted(cols),
                         "rows": digest(canon(want.fetchall(), cols))}
        con.close()
    with open(ORACLE_BUILT, "w") as fh:
        json.dump(answers, fh, indent=1, sort_keys=True)


def digest(rows):
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()


def run_jvm(classes, cfg, run_dir, heap=("-Xmx3g",)):
    cfg_path = os.path.join(run_dir, "config.json")
    res_path = os.path.join(run_dir, "result.json")
    with open(cfg_path, "w") as fh:
        json.dump(cfg, fh)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = java_cmd(classes, tmp, heap) + [cfg_path, res_path]
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                             cwd=run_dir)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail("JVM timed out; log in " + run_dir)
    if rc != 0 or not os.path.exists(res_path):
        with open(os.path.join(run_dir, "jvm.log")) as fh:
            tail = fh.read()[-3000:]
        fail("JVM failed (rc=%d):\n%s" % (rc, tail))
    with open(res_path) as fh:
        return json.load(fh)


# ---------------------------------------------------------------------------
# Checks against the generator's oracle
# ---------------------------------------------------------------------------

ID_COLS = "network, node_id, meta_id, datetime, sensor"


def sink_check(sinks, spool, expected):
    """Read one run's sinks and status spool with DuckDB and compare them
    with the batch Pipeline's expected relations. Returns the file ids with
    any differing row, the per-file sink counts for the oracle, and the
    global status and alert tallies."""
    import duckdb
    con = duckdb.connect()
    con.sql("SET threads=%d" % CORES)
    exp = expected["dir"]

    def rel(path):
        return "read_parquet('%s/**/*.parquet', hive_partitioning=true)" % path
    file_id = "meta_id // %d" % gen.ROWS_PER_FILE_ID
    bad = set()
    for got, want, cols in [
            ("wide", "wide", ID_COLS + ", feature, CAST(results AS VARCHAR)"),
            ("dead_letter", "dead_letter", ID_COLS + ", data"),
            ("_events", "events", ID_COLS + ", feature, event_json")]:
        g = "SELECT %s FROM %s" % (cols, rel(sinks + "/" + got))
        w = "SELECT %s FROM %s" % (cols, rel(exp + "/" + want))
        bad |= {r[0] for r in con.sql(
            "SELECT DISTINCT %s FROM ((%s EXCEPT ALL %s) UNION ALL "
            "(%s EXCEPT ALL %s))" % (file_id, g, w, w, g)).fetchall()}
    counts = {}

    def per_file(sql):
        return con.sql(sql % {"f": file_id, "w": rel(sinks + "/wide"),
                              "d": rel(sinks + "/dead_letter"),
                              "e": rel(sinks + "/_events")}).fetchall()
    for f, obs in per_file("SELECT %(f)s, count(DISTINCT meta_id) FROM "
                           "(SELECT meta_id FROM %(w)s UNION ALL "
                           "SELECT meta_id FROM %(d)s) GROUP BY 1"):
        counts[f] = {"obs": obs, "valid": 0, "misfit": 0, "dead_letter": 0,
                     "feature_rows": 0, "wide": {}}
    for f, nf, rows, pairs in per_file(
            "SELECT %(f)s, network || '/' || feature, count(*), "
            "sum(cardinality(results)) FROM %(w)s GROUP BY ALL"):
        counts[f]["wide"][nf] = rows
        counts[f]["valid"] += int(pairs)
    for f, rows, pairs in per_file(
            "SELECT %(f)s, count(*), sum(CASE WHEN json_valid(data) THEN "
            "len(json_keys(data)) ELSE -1000000 END) FROM %(d)s GROUP BY 1"):
        counts[f]["dead_letter"], counts[f]["misfit"] = rows, int(pairs)
    for f, rows in per_file("SELECT %(f)s, count(*) FROM %(e)s GROUP BY 1"):
        counts[f]["feature_rows"] = rows
    sc = "sensor, network, alertType, messages"
    g = "SELECT %s FROM %s" % (sc, rel(spool))
    w = "SELECT %s FROM %s" % (sc, rel(exp + "/statuses"))
    status_diff = con.sql("SELECT count(*) FROM ((%s EXCEPT ALL %s) UNION ALL "
                          "(%s EXCEPT ALL %s))" % (g, w, w, g)).fetchone()[0]
    statuses = dict(con.sql("SELECT coalesce(alertType, 'clean'), count(*) "
                            "FROM %s GROUP BY 1" % rel(spool)).fetchall())
    alerts = {}
    if glob.glob(sinks + "/_alerts/*.parquet"):
        alerts = {s: (a, r) for s, a, r in con.sql(
            "SELECT sensor, count(*) FILTER (kind = 'alert'), "
            "count(*) FILTER (kind = 'resolve') FROM %s GROUP BY 1"
            % rel(sinks + "/_alerts")).fetchall()}
    con.close()
    return {"bad_files": bad, "counts": counts, "status_diff": status_diff,
            "statuses": statuses, "alerts": alerts,
            "malformed": expected["lines"] - expected["obs"]}


def check_stream(truth, check, files_done):
    """Failed file names: any sink row missing or wrong for the file, in
    the batch-Pipeline comparison or in the oracle's counts. A global
    mismatch (statuses, alerts, malformed lines) fails every file."""
    names = [t["name"] for t in truth["files"]]
    failed = {names[i] for i in check["bad_files"] if 0 <= i < len(names)}
    for i, t in enumerate(truth["files"]):
        want = {"obs": t["obs"], "valid": t["valid"],
                "misfit": t[gen.UNKNOWN_SENSOR] + t[gen.UNKNOWN_KEY]
                + t[gen.COERCION],
                "dead_letter": t["dead_letter"],
                "feature_rows": t["feature_rows"], "wide": t["wide"]}
        if check["counts"].get(i) != want:
            failed.add(t["name"])
    alerted = sorted(s for s, (a, _) in check["alerts"].items() if a > 0)
    ok_global = (
        check["status_diff"] == 0
        and check["statuses"] == truth["statuses"]
        and check["malformed"] == sum(f["malformed"] for f in truth["files"])
        and alerted == truth["error_sensors"]
        and all(a - r in (0, 1) for a, r in check["alerts"].values()))
    if not ok_global:
        log("global stream check failed: %s" % json.dumps(
            {k: check[k] for k in ("status_diff", "statuses", "malformed")}))
        failed |= set(names)
    failed |= set(names) - files_done
    if failed:
        log("%d files failed the output check" % len(failed))
    return failed


# ---------------------------------------------------------------------------
# Workloads
# ---------------------------------------------------------------------------

def stream_drain(args, classes, run_dir):
    stage = os.path.join(run_dir, "stage")
    catalog, truth = gen.write_files(stage, args.seed, DRAIN_FILES,
                                     DRAIN_OBS_PER_FILE)
    res = run_jvm(classes, dict(base_cfg(args, run_dir), catalog=catalog,
                                stage_dir=stage,
                                files_per_trigger=DRAIN_FILES_PER_TRIGGER),
                  run_dir)
    res["obs_total"] = sum(f["obs"] for f in truth["files"])
    p50s, rates, cpus, attempted, failed = [], [], [], 0, 0
    for d in res["drains"]:
        check = sink_check(d["sinks"], d["checkpoint"] + "/status-spool",
                           res["expected"])
        file_batch = gen.read_source_log(
            os.path.join(d["checkpoint"], "dataflow", "sources", "0"))
        # the whole backlog is due when the drain starts
        due = {f["name"]: d["start"] for f in truth["files"]}
        done = {int(k): v for k, v in d["batch_done"].items()}
        lat, missing = gen.file_latencies(due, file_batch, done)
        p50s.append(gen.percentile(lat, 50))
        rates.append(res["obs_total"] / ((d["end"] - d["start"]) / 1000.0))
        cpus.append(d["cpu_ms"] / res["obs_total"])
        attempted += len(due)
        failed += len(check_stream(truth, check, set(due) - set(missing)))
    # per drain, then the median over drains: a backlog of two batches puts
    # each drain's median file on the first batch's commit, and pooling the
    # files of several drains would put it on the slowest first batch
    m = {"latency_ms": statistics.median(p50s),
         "cpu_ms_per_op": statistics.median(cpus),
         "throughput_per_s": statistics.median(rates)}
    return res, m, attempted, failed


def batch_suite(args, classes, run_dir):
    names = sorted(BATCH_QUERIES)
    rot = args.seed % len(names)
    names = names[rot:] + names[:rot]
    data = os.path.join(HERE, "data")
    # a fixed heap: every timed query starts after a System.gc(), and a
    # growable heap would shrink there and regrow inside the query (the
    # streams measured steadier on the default growable heap)
    res = run_jvm(classes, dict(base_cfg(args, run_dir), data_dir=data,
                                queries=names), run_dir,
                  heap=("-Xms3g", "-Xmx3g"))
    with open(ORACLE_BUILT) as fh:
        bad = check_batch(res, run_dir, json.load(fh), names)
    samples = res["samples"]
    ms = [s["ms"] for s in samples]
    wall_s = (res["run_end_ms"] - res["timed_start_ms"]) / 1000.0
    failed = sum(1 for s in samples if not s["ok"] or s["query"] in bad)
    # the geometric mean: every query moves it by its own relative change,
    # where a median would follow only the middle-ranked query; the CPU
    # time per query and throughput_per_s follow the suite's total cost
    m = {"latency_ms": statistics.geometric_mean(ms),
         "cpu_ms_per_op": sum(s["cpu_ms"] for s in samples) / len(samples),
         "throughput_per_s": len(samples) / wall_s}
    return res, m, len(samples), failed


def check_batch(res, run_dir, oracle, names):
    """Queries whose written result does not hash-match the DuckDB oracle
    (canonical rows of tools/verify_local.py), or that failed to run. A
    query without an oracle entry only has to run."""
    import duckdb
    from verify_local import canon
    bad = set(res["warm_errors"])
    con = duckdb.connect()
    for n in names:
        if n in bad or n not in oracle:
            continue
        got = con.sql("SELECT * FROM '%s/results/%s/*.parquet'"
                      % (run_dir, n))
        cols = [c.lower() for c in got.columns]
        if oracle[n]["rows"] == digest([]):
            # an empty answer cannot tell a correct result from one that
            # dropped every row
            log("empty oracle answer: " + n)
            bad.add(n)
        elif sorted(cols) != oracle[n]["cols"] or \
                digest(canon(got.fetchall(), cols)) != oracle[n]["rows"]:
            log("oracle mismatch: " + n)
            bad.add(n)
    con.close()
    for n, e in res["warm_errors"].items():
        log("query failed: %s: %s" % (n, e[:300]))
    return bad


def base_cfg(args, run_dir):
    return {"workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace, "cores": CORES,
            "run_dir": run_dir}


WORKLOADS = {"stream_drain": stream_drain, "batch_suite": batch_suite}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    classes = build()
    run_dir = os.path.join(OUT, "%s-%d-%d" % (args.workload, args.seed,
                                              args.trace))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    t_setup = time.time() * 1000.0
    res, m, attempted, failed = WORKLOADS[args.workload](
        args, classes, run_dir)
    m["setup_s"] = (res["setup_end_ms"] - t_setup) / 1000.0
    if args.trace:
        metrics = layers.per_layer(args.workload, res, m, BATCH_QUERIES,
                                   MINING_PREFIXES, OUT)
    else:
        metrics = {k: {"value": m[k], "unit": u} for k, u in layers.E2E.items()}
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
