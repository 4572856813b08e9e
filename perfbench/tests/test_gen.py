import datetime as dt
import json
import re
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import gen  # noqa: E402


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_plan(self):
        for w in gen.WORKLOADS:
            self.assertEqual(json.dumps(gen.plan(w, 7)), json.dumps(gen.plan(w, 7)), w)

    def test_two_seeds_differ(self):
        for w in gen.WORKLOADS:
            a, b = gen.plan(w, 1), gen.plan(w, 2)
            key = {"sql_read": "queries", "commit_mix": "ops", "pipeline_batch": "passes"}[w]
            self.assertNotEqual(a[key], b[key], w)

    def test_warmup_does_not_depend_on_the_seed(self):
        for w in ("sql_read", "commit_mix"):
            self.assertEqual(gen.plan(w, 1)["warmup"], gen.plan(w, 2)["warmup"], w)

    def test_sql_read_blocks_keep_the_mix(self):
        qs = gen.plan("sql_read", 3)["queries"]
        n = len(gen.SQL_READ_BLOCK)
        self.assertEqual(n, 12)
        first = None
        for i in range(0, 10 * n, n):
            block = qs[i:i + n]
            fixed = sorted((q["shape"], q["surface"]) for q in block
                           if q["shape"] not in gen.HISTORY)
            first = first or fixed
            self.assertEqual(fixed, first)  # the same lookups and aggregates
            shapes = [q["shape"] for q in block]
            self.assertEqual(shapes.count("lookup"), 6)
            self.assertEqual(sorted(s for s in shapes if s.startswith("q")),
                             ["q1", "q10", "q3", "q5"])
            self.assertEqual(len([s for s in shapes if s in gen.HISTORY]), 2)

    def test_sql_read_parameters_fall_in_the_data(self):
        for q in gen.plan("sql_read", 4)["queries"]:
            for d in re.findall(r"DATE '(\d{4}-\d\d-\d\d)'", q["sql"]):
                self.assertTrue(dt.date(1995, 1, 1) <= dt.date.fromisoformat(d)
                                <= dt.date(2001, 11, 4), q["sql"])
            for ts in re.findall(r"TIMESTAMP '(\d{4}-\d\d-\d\d)", q["sql"]):
                self.assertTrue(dt.date(2024, 1, 1) <= dt.date.fromisoformat(ts)
                                <= dt.date(2024, 1, 31), q["sql"])
            for a, b in re.findall(r"l_orderkey BETWEEN (\d+) AND (\d+)", q["sql"]):
                self.assertTrue(0 <= int(a) <= int(b) <= gen.ORDERKEY_MAX, q["sql"])
            for a, b in re.findall(r"user_id BETWEEN (\d+) AND (\d+)", q["sql"]):
                self.assertTrue(0 <= int(a) <= int(b) < gen.USERS, q["sql"])

    def test_surfaces_name_their_tables(self):
        for q in gen.plan("sql_read", 5)["queries"]:
            if q["surface"] == "dsv2":
                self.assertIn("{cat}.", q["sql"])
            else:
                self.assertNotIn("{cat}", q["sql"])
            self.assertNotIn("tpch.", q["duck"])

    def test_commit_mix_never_appends_an_id_twice(self):
        # appends do not deduplicate; merges and upserts may rewrite any id
        p = gen.plan("commit_mix", 6)
        for ops, known in ((p["ops"], gen.EVENT_IDS), (p["warmup"], p["warmup_rows"])):
            written = set(range(known))
            for op in ops:
                if op["op"] == "append":
                    new = set(range(op["first_id"], op["first_id"] + op["n"]))
                    self.assertFalse(new & written, op["first_id"])
                    written |= new
                elif op["op"] in ("merge", "upsert"):
                    written |= set(op["ids"])

    def test_commit_mix_blocks_keep_the_mix(self):
        p = gen.plan("commit_mix", 8)
        n = p["block"]
        for b in range(6):
            block = p["ops"][b * n:(b + 1) * n]
            kinds = [o["op"] for o in block]
            self.assertEqual(kinds, gen.COMMIT_BLOCK + ["compact", "expire"])
            self.assertEqual(kinds.count("append"), 10)
            sizes = sorted(o["n"] for o in block if o["op"] == "append")
            self.assertEqual(sizes, sorted(gen.APPEND_ROWS * 2))
            self.assertEqual(len([o for o in block if "read_range" in o]), 5)
            self.assertEqual(len([o for o in block if o["read_surface"] == "core"]), 2)

    def test_commit_mix_warms_every_write_kind(self):
        warm = [o["op"] for o in gen.plan("commit_mix", 1)["warmup"]]
        self.assertEqual(sorted(warm), sorted(set(gen.COMMIT_BLOCK) | {"compact", "expire"}))


if __name__ == "__main__":
    unittest.main()
