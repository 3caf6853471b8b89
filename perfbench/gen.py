"""Seeded input generator, oracle and latency arithmetic for the benchmark.

Everything here is pure Python and deterministic: the same seed gives
byte-identical files. The generator knows, by construction, what the
pipeline must produce for every observation it writes (valid pairs, misfit
pairs by reason, dead-letter rows, feature rows, the alert status), so the
sink contents can be checked against counts that do not come from Spark.
"""
import json
import math
import os
import random
import re

NETWORKS = ["array_of_things_chicago", "internet_of_stuff_seattle"]

# About a dozen features, shaped like the reference's feature_metadata
# (FIXTURES.md section 1) and scaled up.
FEATURES = [
    ("temperature", [("temperature", "float")]),
    ("relative_humidity", [("humidity", "float")]),
    ("magnetic_field", [("x", "float"), ("y", "float"), ("z", "float")]),
    ("computer_vision", [("standing_water", "bool"), ("cloud_type", "varchar"),
                         ("num_pedestrians", "integer"),
                         ("traffic_density", "float")]),
    ("barometric_pressure", [("pressure", "float")]),
    ("light_intensity", [("lux", "float"), ("uv_index", "integer")]),
    ("sound_level", [("db", "float"), ("peak", "float")]),
    ("air_quality", [("co", "float"), ("no2", "float"), ("o3", "float"),
                     ("pm25", "float")]),
    ("gas_concentration", [("h2s", "float"), ("so2", "float")]),
    ("acceleration", [("ax", "float"), ("ay", "float"), ("az", "float")]),
    ("device_status", [("online", "bool"), ("firmware", "varchar"),
                       ("uptime", "integer")]),
    ("precipitation", [("rain_mm", "float"), ("is_snow", "bool")]),
]
PTYPE = {(f, p): t for f, props in FEATURES for p, t in props}

# Misfit reasons, as the oracle counts them.
UNKNOWN_SENSOR, UNKNOWN_KEY, COERCION = "unknown_sensor", "unknown_key", "coercion"

# The dirty input mix: share of misfit pairs, share of observations from
# sensors the catalog does not know, share of malformed lines.
MIX = {"misfit": 0.30, "unknown_sensor": 0.05, "malformed": 0.005}

ROWS_PER_FILE_ID = 100000  # meta_id = file index * ROWS_PER_FILE_ID + row
CATALOG_SEED = 20170101


def build_catalog(rng, n_sensors=40):
    """Sensor catalog: each sensor maps 2-6 raw keys onto feature.property
    targets of 1-3 features; some targets get an alias key (the fixture's
    `temp` / `temperature` pair)."""
    sensors = {}
    for i in range(n_sensors):
        name = "%s%02d" % (rng.choice(["htu", "hmc", "bmp", "tsl", "mic",
                                       "spv", "cam", "chm"]), i)
        feats = rng.sample(FEATURES, rng.randint(1, 3))
        mapping = {}
        for f, props in feats:
            for p, _ in props:
                mapping[p] = "%s.%s" % (f, p)
                if rng.random() < 0.2:
                    mapping[p[:3] + "_alias"] = "%s.%s" % (f, p)
        while len(mapping) > 6:
            mapping.pop(sorted(mapping)[rng.randrange(len(mapping))])
        sensors[name] = mapping
    features = [{"name": f, "props": [[p, t] for p, t in props]}
                for f, props in FEATURES]
    return {"sensors": sensors, "features": features}


def _mixed_case(rng, s):
    r = rng.random()
    if r < 0.4:
        return s
    if r < 0.6:
        return s.upper()
    return "".join(c.upper() if rng.random() < 0.5 else c for c in s)


def _valid_value(rng, ptype):
    """A value that coerces cleanly, drawn over all four JSON types."""
    r = rng.random()
    if ptype == "float":
        if r < 0.7:
            return round(rng.uniform(-50, 150), 2)
        if r < 0.85:
            return "%.2f" % rng.uniform(0, 100)
        if r < 0.95:
            return rng.random() < 0.5
        return None
    if ptype == "integer":
        if r < 0.8:
            return rng.randint(0, 5000)
        return str(rng.randint(0, 500))
    if ptype == "bool":
        if r < 0.6:
            return rng.random() < 0.5
        if r < 0.8:
            return rng.choice([0, 1])
        return rng.choice(["true", "FALSE", "1", "0"])
    # varchar takes anything
    if r < 0.8:
        return rng.choice(["cumulonimbus", "stratus", "cirrus", "v2.1.%d"
                           % rng.randint(0, 9), "ok"])
    if r < 0.9:
        return rng.randint(0, 99)
    if r < 0.95:
        return rng.random() < 0.5
    return None


def _bad_value(rng, ptype):
    """A value that fails coercion for its declared type."""
    if ptype == "float":
        return rng.choice(["high", "n/a", "NaN", "--"])
    if ptype == "integer":
        return rng.choice(["abc", True, None, "x42"])
    if ptype == "bool":
        return rng.choice([10, "yes", None, 2.5])
    raise ValueError("varchar never fails coercion")


def _odd_string(rng):
    """Strings the dead-letter renderer must escape."""
    return rng.choice(['say "hi"', "back\\slash", "line\nbreak", "tab\tstop",
                       "bell\u0007", "café ☃", "cr\rlf", "ctl\u001f"])


def _datetime(rng, base_s):
    s = base_s + rng.randint(0, 59)
    hh, mm, ss = (s // 3600) % 24, (s // 60) % 60, s % 60
    day = 1 + (s // 86400) % 28
    sep = "T" if rng.random() < 0.7 else " "
    frac = rng.choice(["", ".5", ".123", ".123456"])
    return "2017-01-%02d%s%02d:%02d:%02d%s" % (day, sep, hh, mm, ss, frac)


def make_observation(rng, catalog, mix, meta_id, nodes, base_s):
    """One observation dict plus the oracle's view of it."""
    sensors = catalog["sensors"]
    net = NETWORKS[0] if rng.random() < 0.75 else NETWORKS[1]
    node = rng.choice(nodes)
    obs = {"network": net, "node_id": node, "meta_id": meta_id,
           "datetime": _datetime(rng, base_s)}
    data = {}
    truth = {"valid": 0, UNKNOWN_SENSOR: 0, UNKNOWN_KEY: 0, COERCION: 0,
             "features": [], "network": net}
    if rng.random() < mix["unknown_sensor"]:
        sensor = "ghost%02d" % rng.randint(0, 20)
        obs["sensor"] = _mixed_case(rng, sensor)
        for k in rng.sample(["intensity", "level", "Temp", "x"], 2):
            data[k] = rng.choice([rng.randint(0, 99), _odd_string(rng), None])
        truth[UNKNOWN_SENSOR] = len(data)
        truth["status"] = "does_not_exist"
        truth["sensor"] = sensor
        obs["data"] = data
        return obs, truth
    sensor = rng.choice(sorted(sensors))
    obs["sensor"] = _mixed_case(rng, sensor)
    mapping = sensors[sensor]
    # at most one raw key per target property, so every valid pair lands
    # as its own entry of the feature row's results map
    by_target = {}
    for k in sorted(mapping):
        by_target.setdefault(mapping[k], []).append(k)
    targets = sorted(by_target)
    chosen = rng.sample(targets, rng.randint(1, len(targets)))
    features = []
    for t in chosen:
        key = rng.choice(by_target[t])
        f, p = t.split(".", 1)
        ptype = PTYPE[(f, p)]
        if ptype != "varchar" and rng.random() < mix["misfit"] * 0.5:
            data[_mixed_case(rng, key)] = _bad_value(rng, ptype)
            truth[COERCION] += 1
        else:
            data[_mixed_case(rng, key)] = _valid_value(rng, ptype)
            truth["valid"] += 1
            if f not in features:
                features.append(f)
    # unknown keys bring the misfit share up to the mix's target
    p_junk = min(1.0, mix["misfit"] * 0.5 * len(data) / 2)
    n_junk = sum(rng.random() < p_junk for _ in range(2))
    for n in rng.sample(range(1000), n_junk):
        data[_mixed_case(rng, "junk_%d" % n)] = rng.choice(
            [_odd_string(rng), rng.randint(0, 9), True, None, 3.25])
        truth[UNKNOWN_KEY] += 1
    obs["data"] = data
    truth["features"] = features
    truth["sensor"] = sensor
    truth["status"] = "invalid_key" if truth[UNKNOWN_KEY] + truth[COERCION] \
        else None
    return obs, truth


MALFORMED = ['{"network": "array_of_things_chicago", "node_id": "0a1"',
             "not json at all", '["an", "array"]', "{", '"just a string"']


def write_files(out_dir, seed, n_files, obs_per_file):
    """Write n_files JSON-lines files into out_dir; return (catalog, truth).

    truth["files"][i] holds the oracle's per-file counts; truth["sensors"]
    maps every sensor that produced an error status to its error count.
    """
    rng = random.Random(seed)
    # one catalog for every seed: its shape sets the pairs and feature rows
    # per observation, so a seeded catalog would change the work per
    # observation from seed to seed
    catalog = build_catalog(random.Random(CATALOG_SEED))
    nodes = ["%03X" % rng.randint(0, 0xFFF) for _ in range(300)]
    os.makedirs(out_dir, exist_ok=True)
    files, error_sensors, statuses = [], {}, {}
    for i in range(n_files):
        counts = {"obs": 0, "malformed": 0, "valid": 0, UNKNOWN_SENSOR: 0,
                  UNKNOWN_KEY: 0, COERCION: 0, "feature_rows": 0,
                  "dead_letter": 0, "wide": {}}
        lines = []
        for r in range(obs_per_file):
            if rng.random() < MIX["malformed"]:
                lines.append(rng.choice(MALFORMED))
                counts["malformed"] += 1
                continue
            obs, t = make_observation(rng, catalog, MIX,
                                      i * ROWS_PER_FILE_ID + r, nodes, i * 7)
            lines.append(json.dumps(obs))
            counts["obs"] += 1
            for k in ("valid", UNKNOWN_SENSOR, UNKNOWN_KEY, COERCION):
                counts[k] += t[k]
            counts["feature_rows"] += len(t["features"])
            if t[UNKNOWN_SENSOR] + t[UNKNOWN_KEY] + t[COERCION]:
                counts["dead_letter"] += 1
            for f in t["features"]:
                key = t["network"] + "/" + f
                counts["wide"][key] = counts["wide"].get(key, 0) + 1
            st = t["status"] or "clean"
            statuses[st] = statuses.get(st, 0) + 1
            if t["status"]:
                error_sensors[t["sensor"]] = error_sensors.get(t["sensor"], 0) + 1
        name = "part-%05d.json" % i
        with open(os.path.join(out_dir, name), "w", encoding="utf-8",
                  newline="\n") as fh:
            fh.write("\n".join(lines) + "\n")
        counts["name"] = name
        files.append(counts)
    return catalog, {"files": files, "statuses": statuses,
                     "error_sensors": sorted(error_sensors)}


# ---------------------------------------------------------------------------
# Oracle over arbitrary observations (used on the reference fixtures)
# ---------------------------------------------------------------------------

_FLOAT_RE = re.compile(r"^[+-]?([0-9]+(\.[0-9]*)?|\.[0-9]+)([eE][+-]?[0-9]+)?$")
_INT_RE = re.compile(r"^[+-]?(0[xX][0-9a-fA-F]|[0-9])")


def _lex(v):
    """JS String(v) of a parsed JSON scalar, with its JSON type."""
    if v is None:
        return "null", "null"
    if isinstance(v, bool):
        return ("true" if v else "false"), "boolean"
    if isinstance(v, (int, float)):
        f = float(v)
        return (str(int(f)) if f == int(f) else repr(f)), "number"
    return v, "string"


def _js_number(s):
    t = s.strip(" \t\n\r\x0b\x0c\x00")
    if t == "":
        return 0.0
    if t in ("Infinity", "+Infinity", "-Infinity"):
        return math.inf
    if re.match(r"^0[xX][0-9a-fA-F]+$", t):
        return float(int(t[2:], 16))
    if _FLOAT_RE.match(t):
        return float(t)
    return None


def coerces(v, ptype):
    """Whether the reference's coercion accepts v for the declared type."""
    lex, js = _lex(v)
    if ptype in ("varchar", "string"):
        return True
    if ptype in ("integer", "int"):
        return bool(_INT_RE.match(lex.strip()))
    if ptype in ("float", "double"):
        return js != "string" or _js_number(lex) is not None
    if ptype in ("bool", "boolean"):
        if js == "boolean":
            return True
        if js == "number":
            return float(lex) in (0.0, 1.0)
        return lex in ("1", "0") or lex.upper() in ("TRUE", "FALSE") \
            or _js_number(lex) in (0.0, 1.0)
    return False


def classify(obs, catalog):
    """Oracle view of one parsed observation against a catalog."""
    sensor = (obs.get("sensor") or "").lower()
    data = {}
    for k, v in obs.get("data", {}).items():
        data[k.lower()] = v  # last-wins after case folding, like JS
    out = {"sensor": sensor, "valid": 0, UNKNOWN_SENSOR: 0, UNKNOWN_KEY: 0,
           COERCION: 0, "features": [], "messages": 0,
           "network": obs.get("network")}
    mapping = catalog["sensors"].get(sensor)
    if mapping is None:
        out[UNKNOWN_SENSOR] = len(data)
        out["status"], out["messages"] = "does_not_exist", 1
        return out
    types = {(f["name"], p): t for f in catalog["features"]
             for p, t in f["props"]}
    mapping = {k.lower(): v.lower() for k, v in mapping.items()}
    for k, v in data.items():
        if k not in mapping:
            out[UNKNOWN_KEY] += 1
            continue
        f, p = mapping[k].split(".", 1)
        if coerces(v, types.get((f, p))):
            out["valid"] += 1
            if f not in out["features"]:
                out["features"].append(f)
        else:
            out[COERCION] += 1
    out["messages"] = (1 if out[UNKNOWN_KEY] else 0) + out[COERCION]
    out["status"] = "invalid_key" if out["messages"] else None
    return out


def blacklist_replay(statuses_per_batch):
    """Reference alert semantics, batch-granular: per sensor, an alert when
    an error arrives while not blacklisted, a resolve when a batch holds only
    clean statuses while blacklisted. Returns [(sensor, kind, n_messages)]."""
    black, events = set(), []
    for batch in statuses_per_batch:
        by_sensor = {}
        for s in batch:
            by_sensor.setdefault(s["sensor"], []).append(s)
        for sensor in sorted(by_sensor):
            errs = [s for s in by_sensor[sensor] if s["status"]]
            if errs and sensor not in black:
                events.append((sensor, "alert", errs[0]["messages"]))
                black.add(sensor)
            elif not errs and sensor in black:
                events.append((sensor, "resolve", 0))
                black.discard(sensor)
    return events


# ---------------------------------------------------------------------------
# Latency arithmetic
# ---------------------------------------------------------------------------

def read_source_log(log_dir):
    """File name -> micro-batch id, from a file stream source's metadata log
    (`<checkpoint>/sources/0`). Each log file is a version line followed by
    one JSON entry per file; compacted logs repeat earlier entries."""
    out = {}
    if not os.path.isdir(log_dir):
        return out
    for fn in os.listdir(log_dir):
        if fn.startswith(".") or fn.endswith(".tmp"):
            continue
        with open(os.path.join(log_dir, fn), encoding="utf-8") as fh:
            for line in fh.read().splitlines()[1:]:
                if line.strip():
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def file_latencies(due_ms, file_batch, batch_done_ms):
    """Per-file latency: from the file's due time to the end of the last sink
    write of the micro-batch that consumed it. Files never consumed are
    returned separately (they miss any latency limit)."""
    lat, missing = [], []
    for name in sorted(due_ms):
        b = file_batch.get(name)
        if b is None or b not in batch_done_ms:
            missing.append(name)
        else:
            lat.append(batch_done_ms[b] - due_ms[name])
    return lat, missing


def percentile(values, q):
    """Nearest-rank percentile (q in 0..100) of a non-empty list."""
    s = sorted(values)
    k = max(0, min(len(s) - 1, int(math.ceil(q / 100.0 * len(s))) - 1))
    return s[k]
