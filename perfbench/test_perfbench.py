"""Self-tests of the benchmark: determinism of its inputs, and that every
output check rejects a corrupted result.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import copy
import os
import tempfile
import unittest

import checks
import gen


def tree(root):
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


class SeedDeterminism(unittest.TestCase):
    def generate(self, workload, seed):
        with tempfile.TemporaryDirectory() as work:
            gen.write_inputs(workload, seed, work, trace=True)
            return tree(work)

    def test_same_seed_gives_identical_inputs(self):
        for workload in sorted(gen.WORKLOADS):
            with self.subTest(workload=workload):
                a, b = self.generate(workload, 7), self.generate(workload, 7)
                self.assertIn("spec.json", a)
                self.assertEqual(sorted(a), sorted(b))
                for name in a:
                    self.assertEqual(a[name], b[name], name)

    def test_other_seed_gives_other_inputs(self):
        for workload in sorted(gen.WORKLOADS):
            with self.subTest(workload=workload):
                a, b = self.generate(workload, 7), self.generate(workload, 8)
                self.assertNotEqual(a["spec.json"], b["spec.json"])


class SyncWriteQueries(unittest.TestCase):
    def test_ingest_query_is_an_indexable_sentence(self):
        # the chunker drops chunks under 50 characters; the query that must
        # find a just-ingested file has to be one it keeps
        for seed in range(20):
            with tempfile.TemporaryDirectory() as work:
                spec = gen.write_inputs("sync_write", seed, work)
            for rnd in spec["rounds"]:
                for m in rnd["mutations"]:
                    if m["kind"] == "ingest":
                        self.assertIn(m["q"], m["text"].splitlines())
                        self.assertGreaterEqual(len(m["q"]), 50)


def call(kind, out, cid="c1"):
    return {"id": cid, "kind": kind, "out": out}


SPEC = {"workload": "serve_read", "expect_files": 3, "expect_min_chunks": 10,
        "long_doc": "corpus/long.txt"}
GOOD = {
    "query": call("query", {"limit": 3, "rows": [
        ["corpus/a/x.txt", 0, 0.1], ["corpus/b/y.txt", 2, 0.2]]}),
    "scoped": call("query_filtered", {"limit": 3, "scope": ["corpus/a"],
                                      "rows": [["corpus/a/x.txt", 0, 0.1]]}),
    "max_files": call("query_filtered", {"limit": 3, "maxFiles": 1, "rows": [
        ["corpus/a/x.txt", 0, 0.1], ["corpus/a/x.txt", 1, 0.3]]}),
    "ingested": call("query", {"limit": 3, "expect_present": "corpus/a/x.txt",
                               "rows": [["corpus/a/x.txt", 0, 0.1]]}),
    "deleted": call("query", {"limit": 3, "expect_absent": "corpus/b/y.txt",
                              "rows": [["corpus/a/x.txt", 0, 0.1]]}),
    "neighbors": call("neighbors", {"target": 1, "n_chunks": 9, "rows": [
        [0, False, "corpus/long.txt"], [1, True, "corpus/long.txt"],
        [2, False, "corpus/long.txt"], [3, False, "corpus/long.txt"]]}),
    "list_files": call("list_files", {"rows": 3, "ingested": 3, "chunks": 12}),
    "status": call("status", {"files": 3, "chunks": 12}),
    "sync": call("sync_small", {"upserted": 2, "skipped": 5, "pruned": 1,
                                "empty": 0, "held": 0, "status_files": 7,
                                "expect": {"upserted": 2, "skipped": 5,
                                           "pruned": 1, "files": 7}}),
    "mutate": call("mutate", {"op": "ingest", "chunks": 4, "path": "a.txt"}),
}
CORRUPT = {
    "query": [lambda o: o["rows"].append(["corpus/c.txt", 0, 0.3]) or
              o["rows"].append(["corpus/d.txt", 0, 0.4]),
              lambda o: o["rows"].reverse(),
              lambda o: o["rows"].clear()],
    "scoped": [lambda o: o["rows"].append(["corpus/ab/z.txt", 0, 0.5])],
    "max_files": [lambda o: o["rows"].append(["corpus/b/y.txt", 0, 0.4])],
    "ingested": [lambda o: o.update(expect_present="corpus/c.txt")],
    "deleted": [lambda o: o.update(expect_absent="corpus/a/x.txt")],
    "neighbors": [lambda o: o["rows"].pop(0),
                  lambda o: o["rows"].reverse(),
                  lambda o: o["rows"][2].__setitem__(1, True),
                  lambda o: o["rows"][0].__setitem__(2, "corpus/a/x.txt")],
    "list_files": [lambda o: o.update(ingested=2), lambda o: o.update(rows=4)],
    "status": [lambda o: o.update(files=2), lambda o: o.update(chunks=9)],
    "sync": [lambda o: o.update(upserted=3), lambda o: o.update(pruned=0),
             lambda o: o.update(skipped=4), lambda o: o.update(status_files=8),
             lambda o: o.update(empty=1)],
    "mutate": [lambda o: o.update(chunks=0)],
}


class OutputCheckers(unittest.TestCase):
    def run_checks(self, c):
        return checks.check_calls(SPEC, {"calls": [c]})

    def test_valid_results_pass(self):
        for name, c in GOOD.items():
            with self.subTest(name=name):
                self.assertEqual(self.run_checks(copy.deepcopy(c)), [])

    def test_each_corruption_is_rejected(self):
        for name, corruptions in CORRUPT.items():
            for i, corrupt in enumerate(corruptions):
                with self.subTest(name=name, corruption=i):
                    c = copy.deepcopy(GOOD[name])
                    corrupt(c["out"])
                    self.assertNotEqual(self.run_checks(c), [])

    def test_failed_call_is_rejected(self):
        c = dict(copy.deepcopy(GOOD["status"]), error="boom")
        self.assertNotEqual(self.run_checks(c), [])

    def test_diverging_chunk_totals_are_rejected(self):
        a = copy.deepcopy(GOOD["status"])
        b = call("list_files", {"rows": 3, "ingested": 3, "chunks": 13}, "c2")
        self.assertNotEqual(checks.check_calls(SPEC, {"calls": [a, b]}), [])


if __name__ == "__main__":
    unittest.main()
