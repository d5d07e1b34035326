"""Tests of the benchmark itself.

    python3 -m unittest discover -s perfbench/tests -v

The last test class builds the harness (sbt, offline) if needed and runs
each workload once on tiny inputs, untraced and traced.
"""
import filecmp
import json
import os
import re
import subprocess
import sys
import tempfile
import unittest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import layers  # noqa: E402



def load(path):
    with open(path) as f:
        return json.load(f)


CONTRACT = load(os.path.join(ROOT, "BENCHMARK.json"))
SPEC = load(os.path.join(BENCH, "spec.json"))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def same_tree(a, b):
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


class GeneratorTest(unittest.TestCase):
    def gen_both(self, seed, root):
        fan = gen.gen_fan(seed, 5000, os.path.join(root, "fan"))
        rows = gen.gen_tables(seed, 0.001, os.path.join(root, "tables"))
        return fan["expected"], rows

    def test_same_seed_same_bytes_and_counts(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b, \
                tempfile.TemporaryDirectory() as c:
            self.assertEqual(self.gen_both(7, a), self.gen_both(7, b))
            self.assertTrue(same_tree(a, b))
            self.gen_both(8, c)
            self.assertFalse(same_tree(a, c))

    def test_fan_inputs_have_the_reference_shapes(self):
        with tempfile.TemporaryDirectory() as d:
            exp = gen.gen_fan(3, 20000, d)["expected"]
            with open(os.path.join(d, "input_side", "country_data_v2.csv"), "rb") as f:
                csv = f.read()
        self.assertTrue(csv.startswith(b"\xef\xbb\xbf"))
        self.assertIn(b"Population ,", csv)
        self.assertIn(b'"Hindi, English"', csv)
        self.assertAlmostEqual(exp["other"] / exp["lines"], 0.21, delta=0.02)
        self.assertGreater(exp["malformed"], 0)
        self.assertGreater(exp["fallback"], 0)
        self.assertEqual(exp["kept"] + exp["other"] + exp["malformed"], exp["lines"])
        self.assertEqual(sum(exp["race_ids"].values()), exp["kept"])
        for rid in ("cup25", "league04", "race11", "finals", "2025"):
            self.assertIn(rid, exp["race_ids"])
        self.assertEqual(len(exp["locations"]), 15)
        self.assertEqual(sum(exp["locations"].values()), exp["kept"])

    def test_shard_check_catches_a_wrong_output(self):
        peru, uk = gen.expected_location("Peru"), gen.expected_location("UK")
        exp = {"kept": 2, "fallback": 1, "race_ids": {"cup25": 1, "finals": 1},
               "locations": {gen.location_key(peru): 1, gen.location_key(uk): 1}}
        rows = [{"RaceID": "cup25", "LocationData": peru},
                {"RaceID": "finals", "LocationData": uk}]
        with tempfile.TemporaryDirectory() as d:
            path = os.path.join(d, "result" + gen.SHARD_SUFFIX)

            def problems(rs):
                with open(path, "w") as f:
                    f.write("".join(json.dumps(r) + "\n" for r in rs))
                return gen.check_fan_shard(d, "result", exp)

            self.assertEqual(problems(rows), [])
            self.assertTrue(problems(rows[:1]))
            self.assertTrue(problems([dict(r, DeviceType=" Other") for r in rows]))
            # the wrong country's row, a changed field, a dropped field
            self.assertTrue(problems([rows[0], dict(rows[1], LocationData=gen.expected_location("USA"))]))
            self.assertTrue(problems([dict(rows[0], LocationData=dict(peru, capital="Cusco")), rows[1]]))
            self.assertTrue(problems([dict(rows[0], LocationData={k: v for k, v in peru.items()
                                                                  if k != "currency"}), rows[1]]))
            problems(rows)
            os.rename(path, os.path.join(d, "other" + gen.SHARD_SUFFIX))
            self.assertTrue(gen.check_fan_shard(d, "result", exp))


def synthetic_result():
    """A traced run with overlapping stages, a micro-batch and plan phases."""
    span = lambda i, p, name, layer, s, e: dict(id=i, parent=p, name=name, layer=layer, start=s, end=e)
    stage = lambda i, job, s, e, tasks: dict(
        id=i, job=job, start=s, end=e, num_tasks=tasks, tasks=tasks, run_ms=(e - s) // 1000,
        cpu_ns=0, gc_ms=0, shuffle_read=10, shuffle_write=20, spill=0, input=5, output=0,
        max_task_ms=4, median_task_ms=2)
    trace = {
        "spans": [span(1, 0, "run", "bench", 0, 10_000),
                  span(2, 1, "pass", "bench", 100, 9_900),
                  span(3, 2, "q_a", "operators", 200, 5_000),
                  span(4, 3, "operators.construct", "operators", 300, 2_000),
                  span(5, 3, "operators.execute", "operators", 2_100, 4_900),
                  span(6, 2, "q_stream_x", "streaming", 5_100, 9_800),
                  span(7, 6, "streaming.construct", "streaming", 5_200, 9_500)],
        "jobs": [dict(id=0, span=4, start=400, end=1_000, ok=True),
                 dict(id=1, span=5, start=2_200, end=4_800, ok=True),
                 dict(id=2, span=7, start=6_000, end=7_000, ok=True)],
        "stages": [stage(0, 1, 2_300, 3_500, 4), stage(1, 1, 3_000, 4_700, 1),
                   stage(2, 2, 6_100, 6_900, 2), stage(3, 0, 500, 12_000, 1)],
        "batches": [dict(start=5_900, end=7_500, input_rows=3, state_rows=7, state_memory_bytes=64,
                         durations={"triggerExecution": 1, "addBatch": 1})],
        "phases": [dict(name="optimization", start=2_150, end=2_190),
                   dict(name="planning", start=2_180, end=2_250)],
    }
    return {"cores": 4, "session_start_s": 1.0, "heap_after_gc_peak_mb": 10.0, "calib_s": [0.2],
            "passes": [{"section": "timed", "s": 0.01}, {"section": "traced", "s": 0.011},
                       {"section": "after", "s": 0.01}],
            "trace": trace}


class TraceTest(unittest.TestCase):
    def test_self_times_partition_the_root(self):
        root = layers.build_tree(synthetic_result()["trace"])
        total = sum(n.self_us for n in root.walk())
        self.assertEqual(total, root.dur)
        self.assertEqual(sum(layers.self_times(root).values()), root.dur)
        for n in root.walk():
            self.assertGreaterEqual(n.self_us, 0)
            self.assertLessEqual(n.self_us, n.dur)

    def test_records_attach_where_they_happened(self):
        root = layers.build_tree(synthetic_result()["trace"])
        by_key = {n.key: n for n in root.walk()}
        self.assertEqual(by_key[("job", 2)].parent.name, "streaming.batch")
        self.assertEqual(by_key[("batch", 0)].parent.name, "streaming.construct")
        self.assertEqual(by_key[("phase", 0)].parent.name, "operators.execute")
        # a stage reported past its job's end is clipped to the job
        self.assertEqual(by_key[("stage", 3)].end, 1_000)

    def test_layer_metrics_cover_the_contract_and_the_report(self):
        m = layers.layer_metrics(synthetic_result(), {"q_a": "Stats", "q_stream_x": "Streaming"})
        self.assertLessEqual({x["name"] for x in CONTRACT["per_layer"]}, set(m))
        self.assertLessEqual(set(SPEC["metrics"]["report"]) - {"about"}, set(m))
        # the contract's self times (entry = the four engine-module layers) partition the root
        selfs = sum(m[x["name"]] for x in CONTRACT["per_layer"] if x["name"].startswith("self."))
        self.assertAlmostEqual(selfs, m["bench.traced_wall_s"], places=9)
        self.assertEqual(m["spark.jobs"], 3)
        self.assertEqual(m["operators.jobs_per_query"], 2)
        self.assertEqual(m["op.jobs"], 1.5)


class ContractTest(unittest.TestCase):
    def test_metric_and_workload_names(self):
        names = [m["name"] for m in CONTRACT["end_to_end"] + CONTRACT["per_layer"]]
        names += [w["name"] for w in CONTRACT["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, NAME)
        self.assertIn("setup_s", names)

    def test_workloads_match_the_spec(self):
        self.assertEqual({w["name"] for w in CONTRACT["workloads"]}, set(SPEC["workloads"]))
        for kind in ("end_to_end", "per_layer"):
            self.assertEqual(set(SPEC["metrics"][kind]), {m["name"] for m in CONTRACT[kind]})


def run_bench(workload, traced, *extra):
    return subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload, "--seed", "5",
         "--seconds", "1", "--trace", str(int(traced)), "--tiny", *extra],
        capture_output=True, text=True, cwd=ROOT, timeout=1200)


class TinyRunTest(unittest.TestCase):
    def run_bench(self, workload, traced):
        out = run_bench(workload, traced)
        self.assertEqual(out.returncode, 0, out.stderr[-3000:])
        res = json.loads(out.stdout.strip().splitlines()[-1])
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(res["correct"])
        self.assertEqual(res["failed"], 0)
        self.assertGreaterEqual(res["attempted"], 1)
        wanted = CONTRACT["per_layer" if traced else "end_to_end"]
        self.assertEqual(set(res["metrics"]), {m["name"] for m in wanted})
        for m in wanted:
            self.assertEqual(res["metrics"][m["name"]]["unit"], m["unit"])
        return res["metrics"]

    def test_each_workload(self):
        for w in (x["name"] for x in CONTRACT["workloads"]):
            with self.subTest(workload=w):
                e2e = self.run_bench(w, False)
                for name in ("setup_s", "wall_s", "op_gmean_s"):
                    self.assertGreater(e2e[name]["value"], 0)
                per_layer = self.run_bench(w, True)
                selfs = sum(v["value"] for k, v in per_layer.items() if k.startswith("self."))
                self.assertAlmostEqual(selfs, per_layer["bench.traced_wall_s"]["value"], places=6)


class FaultTest(unittest.TestCase):
    """A wrong result on a repeat call fails the run: the checked outputs
    come from the second warm-up call, not the first."""

    def test_a_wrong_second_call_fails_the_run(self):
        for workload, op in (("ops_mix", "q_string_fns"), ("stream_replay", "q_stream_tumbling")):
            with self.subTest(workload=workload):
                out = run_bench(workload, False, "--corrupt", f"{op}:2")
                self.assertEqual(out.returncode, 1, out.stderr[-3000:])
                res = json.loads(out.stdout.strip().splitlines()[-1])
                self.assertFalse(res["correct"])
                self.assertEqual(res["failed"], 1)
                self.assertIn(op, out.stderr)


if __name__ == "__main__":
    unittest.main()
