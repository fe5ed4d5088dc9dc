"""Self-tests of the benchmark.

  python3 perfbench/test_perfbench.py            # all, ~4 min (three short runs)
  python3 perfbench/test_perfbench.py Offline    # generator/metric tests only, seconds

Run from the repository root.
"""
import filecmp
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402


def _files(d):
    return sorted(os.path.relpath(os.path.join(p, f), d) for p, _, fs in os.walk(d) for f in fs)


def _span(i, parent, name, a, b, op=0):
    return {"id": i, "parent": parent, "op": op, "name": name, "start": a, "end": b}


class Offline(unittest.TestCase):

    def test_same_seed_gives_byte_identical_inputs(self):
        for workload in ("dashboard-read", "ingest-ticks"):
            with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b, \
                    tempfile.TemporaryDirectory() as c:
                gen.generate(7, workload, a, 2)
                gen.generate(7, workload, b, 2)
                gen.generate(8, workload, c, 2)
                names = _files(a)
                self.assertEqual(names, _files(b))
                _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
                self.assertEqual((mismatch, errors), ([], []), workload)
                _, differ, _ = filecmp.cmpfiles(a, c, names, shallow=False)
                self.assertIn("setup0/orders.parquet", differ)

    def test_self_times_reconcile_with_op_wall(self):
        doc = {"spans": [_span(0, -1, "read", 0, 100), _span(1, 0, "define.x", 5, 20),
                         _span(2, 1, "stage.build", 10, 18), _span(3, 0, "execute.y", 20, 95)],
               "plans": [[["optimization", 21, 30], ["planning", 30, 34]]]}
        root = metrics.span_tree(doc)[0]
        self.assertAlmostEqual(metrics.reconcile_error(root), 0.0)
        selfs = dict(metrics.self_times(root, []))
        self.assertAlmostEqual(selfs["read"], 10)     # 0-5 and 95-100
        self.assertAlmostEqual(selfs["define.x"], 7)  # 15 minus the 8 ms build
        self.assertAlmostEqual(selfs["execute.y"], 62)
        self.assertAlmostEqual(selfs["catalyst.planning"], 4)

    def test_reconcile_flags_a_child_outside_its_parent(self):
        doc = {"spans": [_span(0, -1, "read", 0, 100), _span(1, 0, "execute.y", 50, 150)],
               "plans": []}
        self.assertAlmostEqual(metrics.reconcile_error(metrics.span_tree(doc)[0]), 0.5)

    def test_metrics_match_benchmark_json(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]}, metrics.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]}, metrics.PER_LAYER)
        self.assertEqual({w["name"] for w in spec["workloads"]}, set(metrics.PRIMARY))

    def test_a_wrong_read_is_a_failed_op(self):
        with tempfile.TemporaryDirectory() as d:
            gen.generate(3, "dashboard-read", d, 1)
            q52 = ("SELECT 'P' || o_custkey AS puuid, o_orderpriority AS champion, "
                   "count(*) AS games, 0 AS wins, 0.0 AS avg_kda, 0.0 AS winrate "
                   "FROM orders GROUP BY 1, 2 ORDER BY 1, 2")
            ok = {"op": 1, "puuid": "P5", "stats": [], "recent": []}
            doc = {"oracle": {"q52": q52}, "results": {"reads": [ok]}}
            setup = os.path.join(d, "setup0")
            # an empty answer for a player with matches is wrong
            self.assertEqual(check.dashboard(doc, setup), [1])


class Runs(unittest.TestCase):
    """Short real runs: every named metric is printed with its unit, and
    a traced run's span self-times reconcile with op wall within 5%."""

    def run_bench(self, workload, trace):
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
             "--seed", "5", "--seconds", "3", "--trace", str(trace)],
            cwd=ROOT, capture_output=True, text=True, timeout=900)
        self.assertEqual(out.returncode, 0, out.stderr[-3000:])
        return json.loads(out.stdout.strip().splitlines()[-1])

    def test_untraced_run_prints_every_end_to_end_metric(self):
        res = self.run_bench("dashboard-read", 0)
        self.assertTrue(res["correct"])
        self.assertEqual({k: v["unit"] for k, v in res["metrics"].items()}, metrics.END_TO_END)
        self.assertTrue(all(v["value"] > 0 for v in res["metrics"].values()))

    def test_traced_runs_print_every_layer_metric_and_reconcile(self):
        # each layer shows its work on the workload that exercises it
        busy = {"dashboard-read": "staged.build_s", "ingest-ticks": "incremental.batches"}
        for workload, metric in busy.items():
            res = self.run_bench(workload, 1)
            self.assertTrue(res["correct"])
            self.assertEqual({k: v["unit"] for k, v in res["metrics"].items()},
                             metrics.PER_LAYER)
            self.assertLessEqual(res["metrics"]["trace.reconcile_err"]["value"], 0.05)
            self.assertGreater(res["metrics"][metric]["value"], 0)


if __name__ == "__main__":
    unittest.main()
