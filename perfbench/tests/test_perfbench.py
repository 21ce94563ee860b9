"""Tests of the benchmark's own logic.

  python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyarrow.parquet as pq  # noqa: E402

import analyze  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402


class GeneratorTest(unittest.TestCase):
    def test_engine_inputs_are_a_function_of_the_seed(self):
        a, b, c = gen.EngineInputs(11), gen.EngineInputs(11), gen.EngineInputs(12)
        self.assertEqual(a.trees, b.trees)
        self.assertEqual(a.script, b.script)
        self.assertEqual(a.warm, b.warm)
        self.assertNotEqual(a.script, c.script)

    def test_engine_files_are_identical_per_seed(self):
        with tempfile.TemporaryDirectory() as d1, tempfile.TemporaryDirectory() as d2:
            gen.EngineInputs(3).write(d1)
            gen.EngineInputs(3).write(d2)
            files = sorted(os.listdir(d1))
            self.assertEqual(files, sorted(os.listdir(d2)))
            self.assertIn("block_000.tsv", files)
            for f in files:
                with open(f"{d1}/{f}") as x, open(f"{d2}/{f}") as y:
                    self.assertEqual(x.read(), y.read(), f)

    def test_script_mix_and_trees(self):
        inp = gen.EngineInputs(5)
        for n, edges in inp.trees.values():
            self.assertTrue(gen.MIN_N <= n <= gen.MAX_N)
            self.assertEqual(len(edges), n - 1)
            self.assertEqual(len(analyze.bfs_levels(n, edges, 1)), n)  # connected
        ops = [r[1] for r in inp.script[:len(gen.BLOCK)]]
        self.assertEqual(ops.count(4), 8)   # BFS
        self.assertEqual(ops.count(3), 8)   # DFS
        self.assertEqual(ops.count(2), 3)   # modify
        self.assertEqual(ops.count(1), 1)   # add
        # every block sends the same op sequence
        self.assertEqual(ops, [r[1] for r in inp.script[len(ops):2 * len(ops)]])
        # each block's reads start at the fixed BFS depths, measured
        # on the tree the graph holds at that point of the script
        current = dict(inp.trees)
        for b in range(3):
            depths = []
            for seq, op, name, payload, n, edges in inp.script[b * 20:(b + 1) * 20]:
                if op == 2:
                    current[name] = (n, edges)
                elif op in (3, 4):
                    self.assertTrue(1 <= int(payload) <= n)
                    levels = analyze.bfs_levels(*current[name], int(payload))
                    depths.append(max(levels.values()))
            self.assertEqual(depths, gen.READ_DEPTHS)

    def test_matrix_text_is_symmetric_reference_format(self):
        text = gen.matrix_text(3, [(1, 2), (2, 3)])
        self.assertEqual(text, "3\n0 1 0\n1 0 1\n0 1 0")

    def test_tables_are_a_function_of_the_seed(self):
        with tempfile.TemporaryDirectory() as d1, tempfile.TemporaryDirectory() as d2:
            gen.tables(9, d1, 0.001)
            gen.tables(9, d2, 0.001)
            for t in gen.TABLES:
                self.assertTrue(pq.read_table(f"{d1}/{t}.parquet")
                                .equals(pq.read_table(f"{d2}/{t}.parquet")), t)


class PercentileTest(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond_it(self):
        self.assertIsNone(analyze.tail_quantile(list(range(99)), 0.9))
        self.assertEqual(analyze.tail_quantile(list(range(1, 101)), 0.9), 90)

    def test_median(self):
        self.assertEqual(analyze.median([3, 1, 2]), 2)
        self.assertIsNone(analyze.median([]))


class EngineCheckTest(unittest.TestCase):
    # docx G1 (FIXTURES.md §3): edges 1-2, 2-3, 2-4, 4-5
    G1 = [(1, 2), (2, 3), (2, 4), (4, 5)]

    def test_reference_golden_cases(self):
        self.assertEqual(analyze.dfs_leaves(5, self.G1, 1), {3, 5})
        self.assertEqual(analyze.dfs_leaves(5, self.G1, 2), {1, 3, 5})
        self.assertEqual(analyze.bfs_levels(5, self.G1, 2),
                         {2: 0, 1: 1, 3: 1, 4: 1, 5: 2})

    def _read(self, result, op="bfs", start=1.0, end=2.0):
        return {"op": op, "name": "G1", "start": start, "end": end, "err": "",
                "result": result, "req": (1001, 4 if op == "bfs" else 3, "G1", "2", 5, None)}

    def test_checker_accepts_correct_and_rejects_corrupted_results(self):
        good = self._read("2:0,1:1,3:1,4:1,5:2")
        bad = self._read("2:0,1:1,3:1,4:1,5:3")
        missing = self._read("1,3", op="dfs")
        wrong, errors, _ = analyze.check_engine([good, bad, missing],
                                                {"G1": self.G1}, {"G1": 5})
        self.assertTrue(good["ok"])
        self.assertFalse(bad["ok"])
        self.assertFalse(missing["ok"])
        self.assertEqual((wrong, errors), (2, 0))

    def test_overlapping_modify_allows_either_version(self):
        path = [(1, 2), (2, 3), (3, 4), (4, 5)]
        modify = {"op": "modify", "name": "G1", "start": 1.5, "end": 2.5, "err": "",
                  "result": "", "req": (1002, 2, "G1", "", 5, path)}
        old = self._read("2:0,1:1,3:1,4:1,5:2")
        new = self._read("2:0,1:1,3:1,4:2,5:3")
        later_old = self._read("2:0,1:1,3:1,4:1,5:2", start=3.0, end=4.0)
        analyze.check_engine([modify, old, new, later_old], {"G1": self.G1}, {"G1": 5})
        self.assertTrue(old["ok"])
        self.assertTrue(new["ok"])
        self.assertFalse(later_old["ok"])   # the modify finished before it began

    def test_write_conflict_is_a_failure(self):
        clash = {"op": "modify", "name": "G1", "start": 1.0, "end": 2.0,
                 "err": "AnalysisException: [PATH_ALREADY_EXISTS] Path file:/x/v000002 "
                        "already exists.", "result": "", "req": (1003, 2, "G1", "", 5, self.G1)}
        wrong, errors, conflicts = analyze.check_engine([clash], {"G1": self.G1}, {"G1": 5})
        self.assertFalse(clash["ok"])
        self.assertEqual((wrong, errors, conflicts), (0, 1, 1))


class OracleCompareTest(unittest.TestCase):
    def test_rows_compare_in_order_with_columns_by_name(self):
        ok, _ = analyze.same_rows(["a", "b"], [(1, 2.5), (2, 3.0)],
                                  ["b", "a"], [(2.5, 1), (3.0, 2)])
        self.assertTrue(ok)

    def test_corrupted_value_or_order_is_rejected(self):
        self.assertFalse(analyze.same_rows(["a"], [(1,), (2,)], ["a"], [(1,), (3,)])[0])
        self.assertFalse(analyze.same_rows(["a"], [(1,), (2,)], ["a"], [(2,), (1,)])[0])
        self.assertFalse(analyze.same_rows(["a"], [(1,)], ["a"], [(1,), (1,)])[0])
        self.assertFalse(analyze.same_rows(["a"], [(1,)], ["b"], [(1,)])[0])


class SpanTest(unittest.TestCase):
    def test_self_time_subtracts_overlapping_children_once(self):
        spans = [
            {"id": 1, "parent": 0, "start": 0.0, "end": 10.0},
            {"id": 2, "parent": 1, "start": 1.0, "end": 4.0},
            {"id": 3, "parent": 1, "start": 3.0, "end": 6.0},    # overlaps span 2
            {"id": 4, "parent": 1, "start": 8.0, "end": 12.0},   # runs past its parent
            {"id": 5, "parent": 3, "start": 3.5, "end": 4.5},
        ]
        st = analyze.self_times(spans)
        self.assertAlmostEqual(st[1], 10.0 - (5.0 + 2.0))
        self.assertAlmostEqual(st[2], 3.0)
        self.assertAlmostEqual(st[3], 2.0)
        self.assertAlmostEqual(st[5], 1.0)
        self.assertEqual(analyze.root_of(spans)[5], 1)

    def test_union_and_busy_stats(self):
        self.assertAlmostEqual(analyze.union_length([(0, 2), (1, 3), (5, 6)]), 4.0)
        overlap, busy = analyze.busy_stats([(0, 4), (2, 6)], 0, 10)
        self.assertAlmostEqual(busy, 6.0)
        self.assertAlmostEqual(overlap, 8.0 / 6.0)

    def test_steal_share_of_the_window(self):
        samples = [(0, [0] * 10), (1000, [10, 0, 0, 80, 0, 0, 0, 10, 0, 0]),
                   (2000, [30, 0, 0, 150, 0, 0, 0, 20, 0, 0]), (3000, [99] * 10)]
        self.assertAlmostEqual(analyze.steal_pct(samples, 1000, 2000), 100.0 * 10 / 100)
        self.assertIsNone(analyze.steal_pct(samples, 1500, 2500))

    def test_differing_counters_lists_only_changes(self):
        diff = analyze.differing_counters({
            "t": [{"jobs": 77, "tasks": 9}, {"jobs": 76, "tasks": 9}],
            "u": [{"jobs": 5}, {"jobs": 5}],
            "v": [{"jobs": 1}]})
        self.assertEqual(diff, [("t", "jobs", [77, 76])])


class ContractTest(unittest.TestCase):
    def test_metric_lists_match_benchmark_json(self):
        here = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
        with open(os.path.join(here, "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]}, run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]}, run.PER_LAYER)
        self.assertEqual([w["name"] for w in spec["workloads"]], list(run.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
