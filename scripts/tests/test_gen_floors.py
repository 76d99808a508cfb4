"""Unit tests of scripts/gen_floors.py on synthetic Bench captures.

    python3 -m unittest discover -s scripts/tests

No sbt: every capture is a small file written here.
"""
import contextlib
from io import StringIO
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import gen_floors  # noqa: E402

SF = "/data/sf0.1"


def full(queries, cpu=0.3, io=0.2, sf=SF):
    """Bench's full JSON line for a capture."""
    return json.dumps({"metric": "total", "value": sum(queries.values()), "unit": "sec",
                       "sentinel_final_cpu_s": cpu, "sentinel_final_io_s": io,
                       "contended": False, "queries": queries,
                       "queries_median": queries, "sf": sf})


def totals(value=9.0, sf=SF):
    """Bench's last line: totals only, no "queries"."""
    return json.dumps({"metric": "total", "value": value, "unit": "sec",
                       "sentinel_final_cpu_s": 0.01, "sentinel_final_io_s": 0.01,
                       "n_queries": 2, "sf": sf})


class GenFloorsTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.addCleanup(self.tmp.cleanup)

    def capture(self, name, *lines):
        path = os.path.join(self.tmp.name, name)
        with open(path, "w") as f:
            f.write("\n".join(lines) + "\n")
        return path

    def test_per_key_min_across_captures(self):
        a = self.capture("a.json", full({"k1": 2.0, "k2": 1.0}))
        b = self.capture("b.json", full({"k1": 1.5, "k2": 3.0, "k3": 0.5}))
        doc = gen_floors.build(gen_floors.read_captures([a, b]))
        self.assertEqual(doc["keys"], {"k1": 1.5, "k2": 1.0, "k3": 0.5})
        self.assertEqual(doc["sf"], SF)

    def test_mixed_sf_is_refused(self):
        a = self.capture("a.json", full({"k1": 2.0}))
        b = self.capture("b.json", full({"k1": 1.0}, sf="/data/sf1"))
        with self.assertRaises(SystemExit):
            gen_floors.build(gen_floors.read_captures([a, b]))

    def test_sbt_prefix_and_totals_line_are_handled(self):
        log = self.capture("sweep.log",
                           "[info] welcome to sbt",
                           "[bench] filtered run noise {not json}",
                           "[info] " + full({"k1": 2.0}, cpu=0.4, io=0.3),
                           totals(),
                           "[info] " + totals())
        caps = gen_floors.read_captures([log])
        self.assertEqual(len(caps), 1)
        doc = gen_floors.build(caps)
        self.assertEqual(doc["keys"], {"k1": 2.0})
        # the totals line's sentinel readings are not a capture's
        self.assertEqual((doc["sentinel_cpu"], doc["sentinel_io"]), (0.4, 0.3))

    def test_no_capture_is_refused(self):
        log = self.capture("empty.log", "[info] nothing here", totals())
        with self.assertRaises(SystemExit):
            gen_floors.build(gen_floors.read_captures([log]))

    def test_sentinel_floors_are_min_of_final_legs(self):
        caps = gen_floors.read_captures([
            self.capture("a.json", full({"k": 1.0}, cpu=0.30, io=0.50)),
            self.capture("b.json", full({"k": 1.0}, cpu=0.25, io=0.90)),
            self.capture("c.json", full({"k": 1.0}, cpu=0.40, io=0.20))])
        doc = gen_floors.build(caps)
        self.assertEqual((doc["sentinel_cpu"], doc["sentinel_io"]), (0.25, 0.20))

    def test_report_lists_old_to_new_and_the_keys_that_rose(self):
        old = {"sentinel_cpu": 0.23, "sentinel_io": 0.12,
               "keys": {"flat": 1.0, "rose": 1.0, "edge": 2.0, "gone": 4.0}}
        new = {"sentinel_cpu": 0.3, "sentinel_io": 0.2, "sf": SF,
               "keys": {"flat": 1.1, "rose": 1.6, "edge": 3.0, "fresh": 9.0}}
        lines = gen_floors.report(old, new)
        self.assertIn("flat: 1.0 -> 1.1", lines)
        self.assertIn("rose: 1.0 -> 1.6", lines)
        self.assertIn("gone: 4.0 -> -", lines)
        self.assertIn("fresh: - -> 9.0", lines)
        self.assertIn("sentinel_cpu: 0.23 -> 0.3", lines)
        self.assertIn("sentinel_io: 0.12 -> 0.2", lines)
        # exactly 1.5x is not above it; a key with no old floor never rose
        self.assertEqual(lines[-1], "above 1.5x the floor they replace: rose")

    def test_main_writes_the_floors_file(self):
        cap = self.capture("a.json", full({"k1": 2.0}))
        out = os.path.join(self.tmp.name, "BENCH_FLOORS.json")
        with open(out, "w") as f:
            json.dump({"keys": {"k1": 1.0}}, f)
        orig = gen_floors.FLOORS
        gen_floors.FLOORS = out
        self.addCleanup(setattr, gen_floors, "FLOORS", orig)
        with contextlib.redirect_stdout(StringIO()):
            gen_floors.main([cap])
        with open(out) as f:
            self.assertEqual(json.load(f), {"keys": {"k1": 2.0}, "sf": SF,
                                            "sentinel_cpu": 0.3, "sentinel_io": 0.2})


if __name__ == "__main__":
    unittest.main()
