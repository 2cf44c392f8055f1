import json
import os
import re
import sys
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import metrics  # noqa: E402
import run  # noqa: E402

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
    BENCH = json.load(f)

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def fake_raw(workload: str) -> dict:
    """A raw harness output with every sample a workload produces."""
    raw = {"workload": workload, "cpus": 4, "setup_ms": 9000.0,
           "calibration_ms": [300.0, 330.0], "peak_rss_mb": 1500.0,
           "attempted": 20, "failed": 0, "values": {}, "samples": {},
           "progress": [], "spark": {"jobs": 10, "stages": 12, "tasks": 40,
                                     "task_ms": [5.0, 7.0, 30.0], "cpu_ns": 5e8,
                                     "shuffle_read_bytes": 10, "shuffle_write_bytes": 10}}
    s = raw["samples"]
    if workload == "ingest_stream":
        raw["values"] = {"sources.rows_ok": 59000.0, "epochs_per_pass": 6.0}
        s["drain_s"] = [15.0, 14.0]
        for i in range(6):
            s[f"epoch_ms.{i}"] = [2400.0 + i, 1800.0 + i]
        raw["progress"] = [{"batch": i, "rows": 100 * (i % 2),
                            "duration_ms": {"triggerExecution": 900, "addBatch": 800},
                            "state_rows": 15, "state_bytes": 2e4, "late_dropped": 0}
                           for i in range(16)]
    elif workload == "backfill":
        s.update({"p1_s": [4.0, 3.8], "p1_rows": [98000.0, 98000.0], "p2_s": [4.3, 4.4],
                  "p3_s": [0.7, 0.6], "gate_view_ms": [300.0, 280.0]})
    else:
        for k in metrics.MIX_KEYS + metrics.CORPUS_KEYS:
            s[f"query.{k}"] = [500.0, 520.0]
        s["pass_s"] = [5.0, 5.1]
        for p in ("phase.analysis", "phase.optimization", "phase.planning", "exec_ms"):
            s[p] = [10.0, 12.0]
        raw["values"] = {f"corpus.{k}_first_ms": 2000.0 for k in metrics.CORPUS_KEYS}
    return raw


def lines(raw):
    e2e = metrics.end_to_end(raw, 0.2)
    wl = metrics.workload_metrics(raw, e2e)
    layer = metrics.per_layer(raw, wl)
    e2e_out = {k: {"value": v, "unit": metrics.END_TO_END[k]} for k, v in e2e.items()}
    return run.summary(raw, e2e_out, layer, 0), run.summary(raw, e2e_out, layer, 1)


class OutputTest(unittest.TestCase):
    def lines(self, workload):
        return lines(fake_raw(workload))

    def test_best_rep_per_operation(self):
        line, _ = self.lines("ingest_stream")
        self.assertEqual(line["metrics"]["pass_s"]["value"], 14.0)
        self.assertLess(line["metrics"]["op_geomean_ms"]["value"], 1810.0)
        line, _ = self.lines("backfill")
        self.assertAlmostEqual(line["metrics"]["pass_s"]["value"], 3.8 + 4.3 + 0.6)

    def test_an_operation_without_samples_makes_the_run_incorrect(self):
        # every rep of one operation failed: the harness counted the
        # failures and wrote no sample for it
        broken = {"ingest_stream": "epoch_ms.3", "backfill": "p2_s",
                  "query_mix": "query.q1_agg"}
        for w, name in broken.items():
            raw = fake_raw(w)
            del raw["samples"][name]
            raw["failed"] = 2
            line, traced = lines(raw)
            self.assertFalse(line["correct"], w)
            self.assertFalse(traced["correct"], w)
            self.assertEqual(set(line["metrics"]), set(metrics.END_TO_END), w)
            self.assertIsNone(line["metrics"]["op_geomean_ms"]["value"], w)
            json.dumps(line)
            json.dumps(traced)

    def test_untraced_line_has_every_end_to_end_metric(self):
        want = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
        for w in metrics.WORKLOADS:
            line, _ = self.lines(w)
            self.assertEqual(set(line), {"correct", "attempted", "failed", "metrics"})
            got = {k: v["unit"] for k, v in line["metrics"].items()}
            self.assertEqual(got, want, w)
            for k, v in line["metrics"].items():
                self.assertGreater(v["value"], 0, f"{w} {k}")
            json.dumps(line)

    def test_traced_line_has_every_per_layer_metric(self):
        want = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
        for w in metrics.WORKLOADS:
            _, line = self.lines(w)
            got = {k: v["unit"] for k, v in line["metrics"].items()}
            self.assertEqual(got, want, w)

    def test_benchmark_json_follows_the_contract(self):
        self.assertEqual(set(BENCH), {"command", "paths", "run_seconds", "workloads",
                                      "end_to_end", "per_layer"})
        self.assertEqual([w["name"] for w in BENCH["workloads"]], metrics.WORKLOADS)
        names = [m["name"] for m in BENCH["end_to_end"] + BENCH["per_layer"]]
        names += [w["name"] for w in BENCH["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, NAME)
        self.assertLessEqual(len(BENCH["per_layer"]), 128)
        for m in BENCH["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertLessEqual(m["bound"], 0.25)
        setup = [m for m in BENCH["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(setup[0]["unit"], "s")
        self.assertEqual(setup[0]["better"], "lower")
        self.assertEqual(setup[0]["bound"], max(m["bound"] for m in BENCH["end_to_end"]))
        for m in BENCH["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})
            self.assertIn(m["better"], ("lower", "higher"))
        for w in BENCH["workloads"]:
            self.assertEqual(set(w), {"name", "why"})
            self.assertLessEqual(len(w["why"]), 200)
            self.assertNotIn("\n", w["why"])


if __name__ == "__main__":
    unittest.main()
