#!/usr/bin/env python3
"""Tests of the benchmark's result line.

    python3 perfbench/test_run.py            # validation rules
    PERFBENCH_E2E=1 python3 perfbench/test_run.py   # also one real run per trace mode

A real run prints its line through Jackson; run.py rejects a line that does
not parse or lacks a metric of BENCHMARK.json with its unit.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import run  # noqa: E402

with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def line(trace, drop=None, unit=None, extra=None):
    metrics = {m["name"]: {"value": 1.5, "unit": m["unit"]}
               for m in SPEC["per_layer" if trace else "end_to_end"]}
    if drop:
        del metrics[drop]
    if unit:
        metrics[unit]["unit"] = "furlongs"
    if extra:
        metrics[extra] = {"value": 1.0, "unit": "s"}
    return json.dumps({"correct": True, "attempted": 3, "failed": 0, "metrics": metrics})


class ValidateTest(unittest.TestCase):
    def test_every_metric_with_its_unit_passes(self):
        for trace in (False, True):
            out = run.validate(line(trace), trace)
            self.assertEqual(len(out["metrics"]),
                             len(SPEC["per_layer" if trace else "end_to_end"]))

    def test_missing_metric_fails(self):
        with self.assertRaises(ValueError):
            run.validate(line(False, drop="setup_s"), False)

    def test_wrong_unit_fails(self):
        with self.assertRaises(ValueError):
            run.validate(line(True, unit="trace.overhead"), True)

    def test_unknown_metric_fails(self):
        with self.assertRaises(ValueError):
            run.validate(line(False, extra="made_up_s"), False)

    def test_attempted_must_be_positive(self):
        d = json.loads(line(False))
        d["attempted"] = 0
        with self.assertRaises(ValueError):
            run.validate(json.dumps(d), False)

    def test_not_json_fails(self):
        with self.assertRaises(ValueError):
            run.validate("{broken", False)


@unittest.skipUnless(os.environ.get("PERFBENCH_E2E") == "1", "set PERFBENCH_E2E=1")
class EndToEndTest(unittest.TestCase):
    def test_real_line_parses_with_every_metric(self):
        for trace in ("0", "1"):
            out = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", "registry_iter",
                 "--seed", "1", "--seconds", "1", "--trace", trace],
                stdout=subprocess.PIPE, text=True, check=True).stdout
            last = out.rstrip("\n").split("\n")[-1]
            res = run.validate(last, trace == "1")
            self.assertTrue(res["correct"])
            self.assertEqual(res["failed"], 0)


if __name__ == "__main__":
    unittest.main()
