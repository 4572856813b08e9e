import json
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(HERE))

import run  # noqa: E402


class ContractTest(unittest.TestCase):
    """run.py prints exactly the metrics BENCHMARK.json declares, with their units."""

    @classmethod
    def setUpClass(cls):
        cls.bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
        cls.summary = {"session_s": 5.0, "build_s": [3.0, 1.0, 2.0], "warmup_s": 4.0,
                       "timed_s": 10.0, "peak_rss_kb": 2048, "counters": {}}
        cls.ops = [{"id": 1, "kind": "write", "type": "append", "surface": "", "ok": True,
                    "ms": 5.0, "attrs": {}},
                   {"id": 2, "kind": "read", "type": "raw_head", "surface": "engine", "ok": True,
                    "ms": 3.0, "attrs": {"engine.files_kept": 1.0, "engine.files_total": 2.0}}]

    def test_end_to_end(self):
        want = {m["name"]: m["unit"] for m in self.bench["end_to_end"]}
        for w in self.bench["workloads"]:
            got = run.end_to_end(w["name"], self.summary, self.ops, set())
            self.assertEqual({k: u for k, (_, u) in got.items()}, want)

    def test_per_layer(self):
        want = {m["name"]: m["unit"] for m in self.bench["per_layer"]}
        for w in self.bench["workloads"]:
            got = run.per_layer(w["name"], self.summary, self.ops, set(), [], [])
            self.assertEqual({k: u for k, (_, u) in got.items()}, want)

    def test_setup_is_the_median_build_between_session_and_warmup(self):
        got = run.end_to_end("commit_mix", self.summary, self.ops, set())
        self.assertEqual(got["setup_s"][0], 5.0 + 2.0 + 4.0)

    def test_a_failed_check_removes_the_op_from_every_latency(self):
        got = run.end_to_end("commit_mix", self.summary, self.ops, {2})
        self.assertEqual(got["read_gm_ms"][0], 0.0)
        self.assertEqual(got["ops_per_s"][0], 0.1)


if __name__ == "__main__":
    unittest.main()
