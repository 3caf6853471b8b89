"""Per-layer metrics of a traced run.

The JVM side keeps spans (workload run -> drain, pass -> micro-batch or query
-> sink call, catalog load or pipeline prefix) and the raw events of a
SparkListener, a QueryExecutionListener and a StreamingQueryListener. This
module builds the micro-batch spans from the streaming progress events, works
out every span's self time (its duration minus the part its children cover),
and reduces everything to the per-layer metrics listed in BENCHMARK.json.
Every traced run reports every metric; a layer the workload does not
exercise reads 0. Counts that the generated input fixes (pairs, misfits,
malformed lines, alerts) are not metrics: the output check verifies them.
"""
import json
import os
import statistics

MODULES = ["TextOps", "SimilarityOps", "Multimodal", "EventOps", "StarOps",
           "ExtraOps"]
NAMED_QUERIES = ["text_cosine_pairs", "dedup_report", "dedup_containment",
                 "text_token_budget", "dedup_ngram_jaccard",
                 "dedup_clusters_report", "sim_knn_pq", "q21_waiting"]
PREFIXES = ["normalize", "explode", "enrich", "coerce", "classify",
            "feature_obs", "misfits", "event_json"]
# stacked prefixes: each stage's self time is its prefix minus this one
PREFIX_BASE = {"explode": "normalize", "enrich": "explode",
               "coerce": "enrich", "classify": "coerce",
               "feature_obs": "classify", "misfits": "classify",
               "event_json": "feature_obs"}
# span name -> layer whose self time it is
SELF_LAYERS = {"run": "unattributed", "drain": "StreamPipeline",
               "dataflow.batch": "StreamPipeline", "alerts.batch": "Alerts",
               "catalog.load": "catalog", "pass": "hygiene"}
E2E = {"cpu_ms_per_op": "ms", "setup_s": "s"}
# reported by traced runs next to the end-to-end metrics: the wall-clock
# figures move with the host's CPU steal too much to carry a bound
TRACED = dict(E2E, latency_ms="ms", throughput_per_s="1/s")


def metric_units():
    """Every per-layer metric name with its unit, in report order."""
    u = [("sources.parse_s", "s")]
    u += [("pipeline.%s_s" % p, "s") for p in PREFIXES]
    u += [("catalog.load_ms_p50", "ms")]
    u += [("stream.trigger_ms_p50", "ms"),
          ("stream.add_batch_ms_p50", "ms"), ("stream.overhead_ms_p50", "ms"),
          ("stream.query_planning_ms_p50", "ms"),
          ("stream.wal_commit_ms_p50", "ms"), ("stream.jobs_per_batch", "count")]
    u += [("sinks.%s_ms_p50" % s, "ms")
          for s in ("wide", "dead_letter", "events", "alerts")]
    u += [("sinks.bytes_per_obs", "bytes"), ("alerts.state_mb", "MB"),
          ("alerts.trigger_ms_p50", "ms")]
    for m in MODULES:
        u += [("operators.%s.s" % m, "s"), ("operators.%s.jobs" % m, "count"),
              ("operators.%s.shuffle_mb" % m, "MB"),
              ("operators.%s.codegen_s" % m, "s"),
              ("operators.%s.driver_gap_s" % m, "s"),
              ("operators.%s.persisted_mb" % m, "MB")]
    u += [("query.%s.s" % q, "s") for q in NAMED_QUERIES]
    u += [("batch.suite_s", "s"), ("batch.mining_s", "s"),
          ("batch.relational_s", "s")]
    u += [("spark.jobs", "count"), ("spark.tasks", "count"),
          ("spark.executor_cpu_s", "s"), ("spark.gc_s", "s"),
          ("spark.shuffle_write_mb", "MB"), ("spark.spill_mb", "MB"),
          ("spark.driver_gap_s", "s"), ("codegen.compile_s", "s"),
          ("codegen.classes", "count"), ("planning.s", "s"),
          ("jvm.peak_heap_mb", "MB"), ("jvm.peak_rss_mb", "MB"),
          ("scaling.drain_obs_per_s_1c", "obs/s")]
    u += [("self.%s_s" % l, "s") for l in
          ("StreamPipeline", "Alerts", "sinks", "catalog", "operators",
           "hygiene", "unattributed")]
    u += [("trace.accounted_pct", "%")]
    u += [("traced." + k, unit) for k, unit in TRACED.items()]
    return u


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def union_ms(intervals):
    """Total length of the union of [start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """span id -> self time: duration minus the union of its children,
    each clipped to the parent's interval."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        cover = [(max(c["start"], s["start"]), min(c["end"], s["end"]))
                 for c in kids.get(s["id"], [])]
        cover = [(a, b) for a, b in cover if b > a]
        out[s["id"]] = (s["end"] - s["start"]) - union_ms(cover)
    return out


def batch_spans(trace, drains):
    """Micro-batch spans from the streaming progress events."""
    owner = {}
    for d in drains:
        for qid, name in d["queries"].items():
            owner[qid] = (d["prefix"], name)
    spans = []
    for p in trace["progress"]:
        if p["query"] not in owner:
            continue
        prefix, name = owner[p["query"]]
        kind = "a" if name == "graft-alerts" else "b"
        start = p["start"]
        spans.append({"id": "%s/%s%d" % (prefix, kind, p["batch"]),
                      "name": "alerts.batch" if kind == "a" else
                      "dataflow.batch",
                      "parent": "run" if prefix == "run" else prefix,
                      "start": start,
                      "end": start + p["durations"].get("triggerExecution", 0),
                      "attrs": {}, "progress": p})
    return spans


def engine_window(trace, start, end):
    """Spark engine totals over [start, end]."""
    jobs = {}
    for j in trace["jobs"]:
        jobs.setdefault(j["id"], {}).update(j)
    jobs = [j for j in jobs.values()
            if "start" in j and start <= j["start"] <= end]
    stages = {s for j in jobs for s in j["stages"]}
    tasks = [t for t in trace["tasks"] if t["stage"] in stages]
    intervals = [(j["start"], j.get("end", end)) for j in jobs]
    return {
        "jobs": len(jobs), "tasks": len(tasks),
        "cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
        "gc_s": sum(t["gc_ms"] for t in tasks) / 1e3,
        "shuffle_mb": sum(t["shuffle_w"] for t in tasks) / 1048576.0,
        "spill_mb": sum(t["spill"] for t in tasks) / 1048576.0,
        "driver_gap_s": ((end - start) - union_ms(
            [(max(a, start), min(b, end)) for a, b in intervals])) / 1e3,
        "planning_s": sum(p["ms"] for p in trace["planning"]
                          if start <= p["start"] <= end) / 1e3,
    }


def per_layer(workload, res, e2e, batch_queries, mining_prefixes, out_dir):
    trace = res["trace"]
    drains = res.get("drains", [])
    spans = trace["spans"] + batch_spans(trace, drains)
    by_id = {s["id"]: s for s in spans}
    selfs = self_times(spans)
    v = {k: 0.0 for k, _ in metric_units()}

    # self time by layer; `run` is the workload's root span
    root = by_id["run"]
    wall = root["end"] - root["start"]
    in_run = [s for s in spans if s["start"] >= root["start"]
              and s["end"] <= root["end"] + 1]
    for s in in_run:
        name = s["name"]
        if name.startswith("sinks."):
            layer = "sinks"
        elif name.startswith("query."):
            layer = "operators"
        else:
            layer = SELF_LAYERS.get(name)
        if layer:
            v["self.%s_s" % layer] += selfs[s["id"]] / 1e3
    v["trace.accounted_pct"] = 100.0 * (1 - selfs["run"] / wall)

    eng = engine_window(trace, root["start"], root["end"])
    v.update({"spark.jobs": eng["jobs"], "spark.tasks": eng["tasks"],
              "spark.executor_cpu_s": eng["cpu_s"], "spark.gc_s": eng["gc_s"],
              "spark.shuffle_write_mb": eng["shuffle_mb"],
              "spark.spill_mb": eng["spill_mb"],
              "spark.driver_gap_s": eng["driver_gap_s"],
              "planning.s": eng["planning_s"],
              "codegen.compile_s": root["attrs"].get("codegen_ns", 0) / 1e9,
              "codegen.classes": root["attrs"].get("codegen_classes", 0)})
    v.update(res["jvm"])

    if drains:
        _stream_layers(v, res, trace, spans, drains)
    if workload == "batch_suite":
        _batch_layers(v, trace, spans, batch_queries, mining_prefixes)
    for k in TRACED:
        v["traced." + k] = e2e[k]

    os.makedirs(out_dir, exist_ok=True)
    base = os.path.join(out_dir, "trace-%s" % trace["run"])
    with open(base + ".json", "w") as fh:
        json.dump({"spans": [dict(s, self_ms=selfs[s["id"]])
                             for s in spans if "progress" not in s]
                   + [{k: s[k] for k in ("id", "name", "parent", "start",
                                         "end")} for s in spans
                      if "progress" in s],
                   "run": trace["run"]}, fh)
    units = dict(metric_units())
    with open(base + ".txt", "w") as fh:
        for k, _ in metric_units():
            fh.write("%-40s %14.3f %s\n" % (k, v[k], units[k]))
    return {k: {"value": v[k], "unit": units[k]} for k, _ in metric_units()}


def _stream_layers(v, res, trace, spans, drains):
    df = [s for s in spans if s["name"] == "dataflow.batch"]
    al = [s for s in spans if s["name"] == "alerts.batch"]
    dur = lambda s, k: s["progress"]["durations"].get(k, 0)
    data = [s for s in df if s["progress"]["rows"] > 0]
    v["stream.trigger_ms_p50"] = _median([dur(s, "triggerExecution")
                                          for s in data])
    v["stream.add_batch_ms_p50"] = _median([dur(s, "addBatch") for s in data])
    v["stream.overhead_ms_p50"] = _median(
        [dur(s, "triggerExecution") - dur(s, "addBatch") for s in data])
    v["stream.query_planning_ms_p50"] = _median(
        [dur(s, "queryPlanning") for s in data])
    v["stream.wal_commit_ms_p50"] = _median([dur(s, "walCommit")
                                             for s in data])
    dataflow_ids = {q for d in drains for q, n in d["queries"].items()
                    if n == "graft-dataflow"}
    jobs = {j["id"] for j in trace["jobs"] if j.get("query") in dataflow_ids}
    v["stream.jobs_per_batch"] = len(jobs) / max(1, len(data))
    v["alerts.trigger_ms_p50"] = _median(
        [dur(s, "triggerExecution") for s in al if s["progress"]["rows"] > 0])
    v["alerts.state_mb"] = max([s["progress"]["state_bytes"] for s in al],
                               default=0) / 1048576.0
    v["catalog.load_ms_p50"] = _median([x for d in drains
                                        for x in d["catalog_ms"]])
    for sink in ("wide", "dead_letter", "events", "alerts"):
        v["sinks.%s_ms_p50" % sink] = _median(
            [x for d in drains for x in d["sink_ms"].get(sink, [])])
    obs = res["obs_total"] * len(drains)
    v["sinks.bytes_per_obs"] = sum(d["sink_bytes"] for d in drains) / obs
    prof = {s["name"][len("prefix."):]: s["end"] - s["start"]
            for s in spans if s["name"].startswith("prefix.")}
    if prof:
        v["sources.parse_s"] = prof["parse"] / 1e3
        for p in PREFIXES:
            base = prof.get(PREFIX_BASE.get(p), 0.0)
            v["pipeline.%s_s" % p] = max(0.0, prof[p] - base) / 1e3
    if "baseline_1c" in res:
        v["scaling.drain_obs_per_s_1c"] = res["obs_total"] / (
            res["baseline_1c"]["ms"] / 1e3)


def _batch_layers(v, trace, spans, batch_queries, mining_prefixes):
    queries = [s for s in spans if s["name"].startswith("query.")]
    passes = max(1, len({s["parent"] for s in queries}))
    per_query = {}
    for s in queries:
        per_query.setdefault(s["name"][len("query."):], []).append(s)
    for q, ss in per_query.items():
        med = _median([s["end"] - s["start"] for s in ss]) / 1e3
        mod = batch_queries[q]
        v["operators.%s.s" % mod] += med
        v["batch.suite_s"] += med
        if q.startswith(tuple(mining_prefixes)):
            v["batch.mining_s"] += med
        else:
            v["batch.relational_s"] += med
        if q in NAMED_QUERIES:
            v["query.%s.s" % q] = med
        for s in ss:
            eng = engine_window(trace, s["start"], s["end"])
            p = "operators.%s." % mod
            v[p + "jobs"] += eng["jobs"] / passes
            v[p + "shuffle_mb"] += eng["shuffle_mb"] / passes
            v[p + "driver_gap_s"] += eng["driver_gap_s"] / passes
            v[p + "codegen_s"] += s["attrs"].get("codegen_ns", 0) / 1e9 / passes
            v[p + "persisted_mb"] += s["attrs"].get("persisted_bytes", 0) \
                / 1048576.0 / passes
