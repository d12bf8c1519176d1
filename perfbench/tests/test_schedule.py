import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import workloads  # noqa: E402


class ScheduleDeterminism(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.corpus = os.path.join(cls.tmp.name, "corpus")
        gen.generate(cls.corpus, 0.001)
        cls.answers = workloads.glue_answers(cls.corpus)

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def test_corpus_is_fixed(self):
        other = os.path.join(self.tmp.name, "again")
        gen.generate(other, 0.001)
        for t in ("lineitem", "orders", "events", "documents"):
            with open(os.path.join(self.corpus, f"{t}.parquet"), "rb") as a, \
                    open(os.path.join(other, f"{t}.parquet"), "rb") as b:
                self.assertEqual(a.read(), b.read(), t)

    def schedule(self, seed, n=300):
        return workloads.glue_schedule(self.answers, self.corpus, seed, n, 1.0)

    def test_glue_same_seed_same_ops(self):
        a = self.schedule(7)
        self.assertEqual(a, self.schedule(7))
        self.assertNotEqual(a["ops"], self.schedule(8)["ops"])

    def test_glue_names_outnumber_the_caches(self):
        ops = self.schedule(7, 3000)["ops"]
        names = {r["table"] for o in ops if o["kind"] == "read" for r in o["refs"]}
        self.assertGreater(len(names), 100)
        self.assertTrue(all(o["expect"] for o in ops if o["kind"] == "read"))

    def test_fill_plans_the_hot_names_last(self):
        s = self.schedule(7, 3000)
        fill = [f["table"] for f in s["fill"]]
        self.assertEqual(len(set(fill)), workloads.HOT * len(self.answers["tables"]))
        self.assertGreater(len(fill), 100)
        reads = [r["table"] for o in s["ops"] if o["kind"] == "read" for r in o["refs"]]
        hits = {n: reads.count(n) for n in fill}
        self.assertGreater(hits[fill[-1]], hits[fill[0]])

    def test_every_window_has_the_same_tail_reads(self):
        ops = self.schedule(7, 3000)["ops"]
        fill = {f["table"] for f in self.schedule(7)["fill"]}
        for start in (0, 100, 1000):
            window = ops[start:start + 200]
            tail = [r["table"].split("__")[0] for o in window if o["kind"] == "read"
                    for r in o["refs"] if r["table"] not in fill and not r["table"].startswith("lake_")]
            counts = [tail.count(t) for t in self.answers["tables"]]
            self.assertLessEqual(max(counts) - min(counts), 2, counts)

    def test_lake_ops_are_one_append_to_three_reads(self):
        lake = [o for o in self.schedule(3, 3000)["ops"]
                if o["kind"] == "append" or "lake_" in o["sql"]]
        self.assertTrue(0.15 < len(lake) / 3000 < 0.25)
        appends = sum(o["kind"] == "append" for o in lake)
        self.assertTrue(0.18 < appends / len(lake) < 0.32)

    def test_lake_reads_follow_the_batches(self):
        ops = self.schedule(3, 3000)["ops"]
        last = {}
        for o in ops:
            if o["kind"] == "read" and "lake_" in o["sql"]:
                n = int(o["expect"][0].split("|")[0])
                self.assertGreaterEqual(n, last.get(o["sql"], 0))
                last[o["sql"]] = n

    def test_pipeline_same_seed_same_passes(self):
        a = workloads.pipeline_schedule(5, 10, 3)
        self.assertEqual(a, workloads.pipeline_schedule(5, 10, 3))
        self.assertTrue(all(sorted(p) == sorted(workloads.PIPELINE) for p in a["passes"]))


if __name__ == "__main__":
    unittest.main()
