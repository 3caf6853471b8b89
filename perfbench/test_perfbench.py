"""Tests of the benchmark's own logic (no JVM needed).

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import shutil
import tempfile
import unittest

import gen
import layers

HERE = os.path.dirname(os.path.abspath(__file__))
RUN_OUT = os.path.join(os.path.dirname(HERE), ".bench_out")

# The reference's fixture catalog and its 8 canonical observations
# (FIXTURES.md sections 1 and 2).
FIXTURE_CATALOG = {
    "sensors": {
        "htu21d": {"temperature": "temperature.temperature",
                   "temp": "temperature.temperature",
                   "humidity": "relative_humidity.humidity"},
        "hmc5883l": {"x": "magnetic_field.x", "y": "magnetic_field.y",
                     "z": "magnetic_field.z"},
        "camera": {"standing_water": "computer_vision.standing_water",
                   "cloud_type": "computer_vision.cloud_type",
                   "num_pedestrians": "computer_vision.num_pedestrians",
                   "traffic_density": "computer_vision.traffic_density"}},
    "features": [
        {"name": "temperature", "props": [["temperature", "float"]]},
        {"name": "relative_humidity", "props": [["humidity", "float"]]},
        {"name": "magnetic_field", "props": [["x", "float"], ["y", "float"],
                                             ["z", "float"]]},
        {"name": "computer_vision", "props": [
            ["standing_water", "bool"], ["cloud_type", "varchar"],
            ["num_pedestrians", "integer"], ["traffic_density", "float"]]}]}

AOT = "array_of_things_chicago"
FIXTURE_OBS = [
    (AOT, "HTU21D", {"Temp": 37.91, "Humidity": 27.48}),
    (AOT, "HMC5883L", {"Y": 32.11, "Z": 90.92}),
    (AOT, "HMC5883L", {"x1": 56.77, "y1": 32.11, "Z": 90.92}),
    (AOT, "camera", {"standing_water": 10, "cloud_type": "cumulonimbus",
                     "num_pedestrians": 9, "traffic_density": 0.38}),
    (AOT, "HTU21D", {"Temp": "high", "Humdrum": 27.48}),
    (AOT, "wubdb89", {"intensity": 90}),
    (AOT, "camera", {"standing_water": True, "cloud_type": "cumulonimbus",
                     "num_pedestrians": 11, "traffic_density": 0.22}),
    ("internet_of_stuff_seattle", "HTU21D", {"Temperature": 40.01}),
]


class GeneratorTest(unittest.TestCase):

    def setUp(self):
        os.makedirs(RUN_OUT, exist_ok=True)
        self.tmp = tempfile.mkdtemp(dir=RUN_OUT, prefix="test-")

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def _files(self, d):
        out = {}
        for n in sorted(os.listdir(d)):
            with open(os.path.join(d, n), "rb") as fh:
                out[n] = fh.read()
        return out

    def test_same_seed_gives_byte_identical_files(self):
        a, b, c = (os.path.join(self.tmp, x) for x in "abc")
        cat_a, truth_a = gen.write_files(a, 7, 5, 300)
        cat_b, truth_b = gen.write_files(b, 7, 5, 300)
        gen.write_files(c, 8, 5, 300)
        self.assertEqual(self._files(a), self._files(b))
        self.assertEqual((cat_a, truth_a), (cat_b, truth_b))
        self.assertNotEqual(self._files(a), self._files(c))

    def test_mix_shares(self):
        _, truth = gen.write_files(self.tmp, 3, 4, 2500)
        t = {k: sum(f[k] for f in truth["files"])
             for k in ("valid", "unknown_sensor", "unknown_key", "coercion",
                       "obs", "malformed")}
        pairs = t["valid"] + t["unknown_sensor"] + t["unknown_key"] \
            + t["coercion"]
        misfit = (pairs - t["valid"]) / pairs
        self.assertTrue(0.2 < misfit < 0.4, misfit)
        self.assertTrue(0.002 < t["malformed"] / 10000 < 0.01)
        self.assertTrue(0.03 < truth["statuses"]["does_not_exist"]
                        / t["obs"] < 0.07)

    def test_oracle_agrees_with_generator_truth(self):
        """classify() re-derives what the generator recorded by
        construction, observation by observation."""
        d = os.path.join(self.tmp, "g")
        catalog, truth = gen.write_files(d, 5, 2, 500)
        for i, name in enumerate(sorted(os.listdir(d))):
            got = {"valid": 0, "unknown_sensor": 0, "unknown_key": 0,
                   "coercion": 0, "feature_rows": 0, "dead_letter": 0}
            with open(os.path.join(d, name)) as fh:
                for line in fh:
                    try:
                        obs = json.loads(line)
                    except ValueError:
                        continue
                    if not isinstance(obs, dict):
                        continue
                    c = gen.classify(obs, catalog)
                    for k in ("valid", "unknown_sensor", "unknown_key",
                              "coercion"):
                        got[k] += c[k]
                    got["feature_rows"] += len(c["features"])
                    got["dead_letter"] += int(c["valid"] < sum(
                        1 for _ in obs["data"]))
            want = {k: truth["files"][i][k] for k in got}
            self.assertEqual(got, want)


class FixtureOracleTest(unittest.TestCase):
    """The oracle reproduces the counts StreamingSpec asserts for the 8
    reference observations streamed one per micro-batch."""

    def test_streaming_spec_counts(self):
        results = []
        for net, sensor, data in FIXTURE_OBS:
            results.append(gen.classify(
                {"network": net, "sensor": sensor, "data": data},
                FIXTURE_CATALOG))
        self.assertEqual(sum(len(r["features"]) for r in results), 7)
        dead = [r for r in results
                if r["unknown_sensor"] + r["unknown_key"] + r["coercion"]]
        self.assertEqual(len(dead), 4)
        wide = {}
        for r in results:
            for f in r["features"]:
                wide[(r["network"], f)] = wide.get((r["network"], f), 0) + 1
        self.assertEqual(wide[(AOT, "magnetic_field")], 2)
        self.assertEqual(wide[(AOT, "computer_vision")], 2)
        self.assertEqual(wide[("internet_of_stuff_seattle", "temperature")], 1)
        events = gen.blacklist_replay([[r] for r in results])
        alerts = [e for e in events if e[1] == "alert"]
        self.assertEqual({e[0] for e in alerts},
                         {"hmc5883l", "camera", "htu21d", "wubdb89"})
        self.assertEqual({e[0] for e in events if e[1] == "resolve"},
                         {"camera", "htu21d"})
        self.assertEqual(sum(e[2] for e in alerts), 5)


class LatencyTest(unittest.TestCase):

    def test_latency_from_source_log(self):
        d = tempfile.mkdtemp(dir=RUN_OUT if os.path.isdir(RUN_OUT) else None)
        try:
            entries = {0: ["part-00000.json", "part-00001.json"],
                       1: ["part-00002.json"],
                       2: ["part-00003.json", "part-00004.json"]}
            # batch 0 and 1 are folded into a compacted log, as the file
            # source does every few batches
            with open(os.path.join(d, "1.compact"), "w") as fh:
                fh.write("v1\n")
                for b in (0, 1):
                    for n in entries[b]:
                        fh.write(json.dumps({"path": "file:///in/" + n,
                                             "timestamp": 1,
                                             "batchId": b}) + "\n")
            with open(os.path.join(d, "2"), "w") as fh:
                fh.write("v1\n")
                for n in entries[2]:
                    fh.write(json.dumps({"path": "file:///in/" + n,
                                         "timestamp": 1, "batchId": 2}) + "\n")
            file_batch = gen.read_source_log(d)
        finally:
            shutil.rmtree(d)
        self.assertEqual(file_batch["part-00003.json"], 2)
        due = {"part-%05d.json" % i: 1000.0 + 50 * i for i in range(6)}
        done = {0: 1400.0, 1: 1900.0, 2: 2500.0}
        lat, missing = gen.file_latencies(due, file_batch, done)
        self.assertEqual(lat, [400.0, 350.0, 800.0, 1350.0, 1300.0])
        self.assertEqual(missing, ["part-00005.json"])
        self.assertEqual(gen.percentile(lat, 50), 800.0)
        self.assertEqual(gen.percentile(lat, 95), 1350.0)


class SelfTimeTest(unittest.TestCase):

    def test_self_time_subtracts_union_of_children(self):
        spans = [
            {"id": "run", "parent": "", "start": 0, "end": 100},
            {"id": "a", "parent": "run", "start": 10, "end": 50},
            {"id": "b", "parent": "run", "start": 40, "end": 70},  # overlaps a
            {"id": "a/x", "parent": "a", "start": 20, "end": 30},
        ]
        st = layers.self_times(spans)
        self.assertEqual(st["run"], 40)
        self.assertEqual(st["a"], 30)
        self.assertEqual(st["b"], 30)
        self.assertEqual(st["a/x"], 10)


if __name__ == "__main__":
    unittest.main()
