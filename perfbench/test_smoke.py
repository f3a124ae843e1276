"""Tiny-size smoke run of the benchmark: every workload, tiny inputs, one
set-up, a two-second run, untraced and traced, through run.main; plus
checks that BENCHMARK.json names exactly the metrics run.py prints and
that the generators are deterministic. Takes a few minutes:

    python3 perfbench/test_smoke.py
"""
import contextlib
import io
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import run  # noqa: E402

TINY = {
    "submit_tree": {"users": 12, "rows": 1_200},
    "submit_rnn": {"users": 4, "rows": 400},
    "registry_heavy": {"sf": 0.001},
}


def bench(workload, trace):
    argv = ["run.py", "--workload", workload, "--seed", "7", "--seconds",
            "2", "--trace", str(trace)]
    out = io.StringIO()
    saved = sys.argv, run.WORKLOADS, run.SETUPS
    sys.argv, run.WORKLOADS, run.SETUPS = argv, TINY, 1
    try:
        with contextlib.redirect_stdout(out):
            run.main()
    finally:
        sys.argv, run.WORKLOADS, run.SETUPS = saved
    return json.loads(out.getvalue().strip().splitlines()[-1])


class Smoke(unittest.TestCase):
    def test_benchmark_json_matches_run(self):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        self.assertEqual([m["name"] for m in spec["end_to_end"]],
                         list(run.END_TO_END))
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]},
                         run.per_layer_units())
        self.assertTrue({w["name"] for w in spec["workloads"]} <=
                        set(run.WORKLOADS))

    def test_generators_are_seeded(self):
        with tempfile.TemporaryDirectory() as d:
            codes = gen.model_codes(run.TREE_MODEL)
            paths = [os.path.join(d, f"{i}.csv") for i in range(3)]
            for path, seed in zip(paths, (5, 5, 6)):
                self.assertEqual(gen.transactions(seed, 10, 900, codes, path),
                                 900)
            data = [run.read(p) for p in paths]
            self.assertEqual(data[0], data[1])
            self.assertNotEqual(data[0], data[2])

    def test_tiny_runs(self):
        for workload in TINY:
            for trace in (0, 1):
                with self.subTest(workload=workload, trace=trace):
                    res = bench(workload, trace)
                    self.assertTrue(res["correct"], res)
                    self.assertEqual(res["failed"], 0)
                    names = (run.END_TO_END if trace == 0
                             else run.per_layer_units())
                    self.assertEqual(set(res["metrics"]), set(names))


if __name__ == "__main__":
    unittest.main()
