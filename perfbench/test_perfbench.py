"""Tests of the benchmark's own generator and checker.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

No JVM runs here: the checker is fed outputs written by the test itself,
first correct ones, then perturbed or missing ones.
"""
import copy
import json
import os
import random
import shutil
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402
import workloads  # noqa: E402


def fixture_profile(uid, name):
    return {"user_id": uid, "name": name, "gender": "male",
            "address": "11 Crane Street,London,AB1 2CD", "date_of_birth": -336700800000,
            "email_address": "w@example.com", "height_cm": 183, "weight_kg": 82,
            "account_create_date": 1641052800000, "bike_serial": "SN0000",
            "original_source": "offline"}


def fixture_ride(n, profile):
    """Ride n of the FIXTURES.md section 1 fixture, as DelotonPipelineSpec builds it."""
    start = int((gen.dt.datetime(2024, 1, n, 12) - gen.EPOCH).total_seconds()) * 1000
    events = [(500, "ride", (float(n), 30)), (500, "tel", (84, 27, 5.25)),
              (500, "ride", (n + 0.5, 50)), (500, "tel", (86, 29, 7.75)),
              (500, "tel", (88, 31, 9.5))]
    return start, profile, events


class Quantiles(unittest.TestCase):
    """The Harrell-Davis quantile behind op_p50_ms and op_tail_ms."""

    def test_symmetric_sample_median(self):
        self.assertAlmostEqual(metrics.hd_quantile(list(range(17)), 0.5), 8.0, places=6)

    def test_constant_sample(self):
        self.assertAlmostEqual(metrics.hd_quantile([5.0] * 64, 0.84), 5.0, places=9)

    def test_tail_lies_between_neighbouring_ranks(self):
        xs = [float(i * i) for i in range(64)]
        t = metrics.tail_latency(xs)
        self.assertTrue(xs[50] < t < xs[57], t)
        self.assertTrue(xs[13] < metrics.tail_latency(xs[:17]) < xs[16])


class GeneratorMatchesGoldenRows(unittest.TestCase):
    """The generator's expectations on the four-ride fixture equal the golden
    rows DelotonPipelineSpec asserts for the engine."""

    def setUp(self):
        self.tmp = tempfile.mkdtemp()
        self.profiles = {815: fixture_profile(815, "Mr Wayne Fitzgerald"),
                         816: fixture_profile(816, "Dr Jane Doe"),
                         817: fixture_profile(817, "Alex Smith")}
        rides = [fixture_ride(1, self.profiles[815]), fixture_ride(2, self.profiles[816]),
                 fixture_ride(3, self.profiles[815]), fixture_ride(4, self.profiles[817])]
        self.user_lines, self.rides, self.n_lines = gen.write_stream(
            os.path.join(self.tmp, "bike-1.jsonl"), "bike-1", rides)

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def test_users(self):
        users = sorted(gen.expected_users(self.user_lines, self.profiles),
                       key=lambda u: u["user_id"])
        self.assertEqual([u["user_id"] for u in users], [815, 816, 817])
        wayne = users[0]
        self.assertEqual(wayne["name"], "Wayne Fitzgerald")
        self.assertEqual(wayne["gender"], "male")
        self.assertEqual(wayne["age"], 65)
        self.assertEqual((wayne["height"], wayne["weight"]), (183, 82))
        self.assertTrue(checks.ms_text(wayne["account_created"]).startswith("2022-01-01"))
        self.assertEqual(wayne["postcode"], "AB1 2CD")
        self.assertEqual(users[2]["name"], "Alex Smith")

    def test_rides(self):
        self.assertEqual([r["ride_id"] for r in self.rides], [2, 3])
        ride2 = self.rides[0]
        self.assertTrue(checks.ms_text(ride2["start_ms"]).startswith("2024-01-02 12:00:01"))
        self.assertEqual(ride2["duration"], 2.5)
        self.assertEqual(ride2["avg_resistance"], 40.0)
        self.assertEqual(ride2["avg_rpm"], 29.0)
        self.assertEqual(ride2["avg_power"], 7.5)
        self.assertEqual(ride2["avg_hrt"], 86.0)
        self.assertEqual(ride2["user_id"], 816)

    def test_line_shapes(self):
        with open(os.path.join(self.tmp, "bike-1.jsonl")) as f:
            lines = [json.loads(x)["log"] for x in f]
        self.assertEqual(len(lines), self.n_lines)
        self.assertEqual(lines[0], "2024-01-01 12:00:00.000 [INFO]: --------- beginning of a new ride")
        self.assertTrue(lines[2].startswith("2024-01-01 12:00:01.500 [INFO]: data = {'user_id': 815, "
                                            "'name': 'Mr Wayne Fitzgerald'"))
        self.assertEqual(lines[3], "2024-01-01 12:00:02.000 [INFO]: Ride - duration = 1.0; "
                                   "resistance = 30")


def write_rows(path, columns, rows):
    with open(path, "w") as f:
        f.write(json.dumps({"columns": columns}) + "\n")
        for r in rows:
            f.write(json.dumps(r) + "\n")


class QueryChecker(unittest.TestCase):
    """The query checker against DuckDB: exact output passes; a changed value,
    a dropped row or a missing output fails."""

    SQL = "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey"

    def setUp(self):
        self.tmp = tempfile.mkdtemp()
        self.data = os.path.join(self.tmp, "data")
        gen.write_tables(self.data, 5, sizes=dict(gen.SIZES, lineitem=100, orders=50,
                                                  events=100, documents=20, embeddings=20))
        os.makedirs(os.path.join(self.tmp, "rows"))
        self.rows = [[i, f"NATION_{i}", i % 5] for i in range(25)]
        self.plan = {"data": self.data, "keys": ["q_nation"]}
        self.result = {"oracle_sql": {"q_nation": self.SQL},
                       "ops": [{"kind": "query", "key": "q_nation", "round": 0, "digest": 1}]}

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def verdict(self, rows=None):
        if rows is not None:
            write_rows(os.path.join(self.tmp, "rows", "q_nation.jsonl"),
                       ["n_nationkey", "n_name", "n_regionkey"], rows)
        return checks.check("corpus-cold", self.plan, {}, self.result, self.tmp, self.tmp, 4)

    def test_exact_output_passes(self):
        v = self.verdict(self.rows)
        self.assertTrue(v.correct, v.problems)
        self.assertEqual((v.attempted, v.failed), (1, 0))

    def test_changed_value_fails(self):
        rows = copy.deepcopy(self.rows)
        rows[7][1] = "NATION_X"
        self.assertFalse(self.verdict(rows).correct)

    def test_dropped_row_fails(self):
        self.assertFalse(self.verdict(self.rows[:-1]).correct)

    def test_missing_output_fails(self):
        self.assertFalse(self.verdict().correct)

    def test_unstable_repetition_fails(self):
        self.result["ops"].append({"kind": "query", "key": "q_nation", "round": 1, "digest": 2})
        self.assertFalse(self.verdict(self.rows).correct)


class DelotonChecker(unittest.TestCase):
    """The Deloton checker: the generator's own tables and responses pass;
    a changed value, a dropped row and a missing output fail."""

    def setUp(self):
        self.tmp = tempfile.mkdtemp()
        self.expect = gen.make_logs(os.path.join(self.tmp, "logs"), 11, bikes=4)
        users = [u["user_id"] for u in self.expect["users1"]]
        self.plan = {"requests": workloads.request_mix(random.Random(11), users, 24)}
        os.makedirs(os.path.join(self.tmp, "rows"))
        e = self.expect
        self.users = [checks.user_row(u) for u in e["users1"] + e["users_new2"]]
        self.rides = [checks.ride_row(r) for r in e["rides1"] + e["rides2"]]
        self.bodies = {}
        for phase, (u, r) in {"serve1": (e["users1"], e["rides1"]),
                              "serve2": (e["users1"] + e["users_new2"],
                                         e["rides1"] + e["rides2"])}.items():
            self.bodies[phase] = [[self.spark_json(rec) for rec in
                                   checks.expected_response(req, u, r)]
                                  for req in self.plan["requests"]]
        ops = [{"kind": "request", "fn": q["fn"], "phase": p, "index": i}
               for p in ("serve1", "serve2") for i, q in enumerate(self.plan["requests"])]
        self.result = {"ops": ops, "steps": {"pipeline.users|b1": 1.0},
                       "logsource_scans": [{"batch": "b1", "rows": e["lines1"]},
                                           {"batch": "b2", "rows": e["lines2"]}]}

    def tearDown(self):
        shutil.rmtree(self.tmp)

    @staticmethod
    def spark_json(rec):
        """A record as Spark's toJSON writes it: ISO timestamps with a zone."""
        out = dict(rec)
        for c in ("start_time", "account_created"):
            if c in out:
                out[c] = out[c].replace(" ", "T")[:23] + "Z"
        return json.dumps(out)

    def verdict(self, users=None, rides=None, bodies=None):
        write_rows(os.path.join(self.tmp, "rows", "users.jsonl"), checks.USER_COLS,
                   self.users if users is None else users)
        write_rows(os.path.join(self.tmp, "rows", "rides.jsonl"), checks.RIDE_COLS,
                   self.rides if rides is None else rides)
        for phase, b in (bodies or self.bodies).items():
            with open(os.path.join(self.tmp, f"{phase}.jsonl"), "w") as f:
                for body in b:
                    f.write(json.dumps(body) + "\n")
        return checks.check("deloton-ingest-serve", self.plan, self.expect, self.result,
                            self.tmp, self.tmp, 4)

    def test_generated_outputs_pass_except_known_fault(self):
        v = self.verdict()
        self.assertTrue(v.correct, v.problems)
        # rides 2 and 3 exist in every stream, so ride_by_id(2) and (3) fail
        n_fault = sum(1 for q in self.plan["requests"]
                      if q["fn"] == "ride_by_id" and q["id"] in (2, 3))
        self.assertEqual(v.failed, 2 * n_fault)

    def test_changed_user_fails(self):
        users = copy.deepcopy(self.users)
        users[3][3] += 1
        self.assertFalse(self.verdict(users=users).correct)

    def test_dropped_ride_fails(self):
        self.assertFalse(self.verdict(rides=self.rides[1:]).correct)

    def test_repeated_user_fails(self):
        self.assertFalse(self.verdict(users=self.users + [self.users[0]]).correct)

    def test_changed_response_fails(self):
        bodies = copy.deepcopy(self.bodies)
        i = next(i for i, q in enumerate(self.plan["requests"]) if q["fn"] == "riders")
        bodies["serve2"][i] = bodies["serve2"][i][1:]
        self.assertFalse(self.verdict(bodies=bodies).correct)

    def test_missing_output_fails(self):
        self.verdict()
        os.remove(os.path.join(self.tmp, "rows", "rides.jsonl"))
        v = checks.check("deloton-ingest-serve", self.plan, self.expect, self.result,
                         self.tmp, self.tmp, 4)
        self.assertFalse(v.correct)

    def test_log_line_count_mismatch_fails(self):
        self.result["logsource_scans"][0]["rows"] -= 1
        self.assertFalse(self.verdict().correct)


if __name__ == "__main__":
    unittest.main()
