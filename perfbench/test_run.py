"""Tests of the runner that need no build: run with
`python3 perfbench/test_run.py` from the repository root.

The measurement loop's own rules (failed ops add no latency sample) are
tested in src/test/scala/perfbench/LoopSpec.scala (`sbt test` here).
"""
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402


def run(cwd, *args):
    return subprocess.run([sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
                          cwd=cwd, capture_output=True, text=True, timeout=120)


class RunnerTest(unittest.TestCase):
    def test_unknown_workload_fails_fast(self):
        p = run(os.path.dirname(HERE), "--workload", "clif_dashbord", "--seed", "1",
                "--seconds", "1", "--trace", "0")
        self.assertEqual(p.returncode, 2)
        self.assertIn("unknown workload", p.stderr)
        self.assertEqual(p.stdout, "")

    def test_without_graft_sources_fails_without_a_result(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copytree(HERE, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns(".work", "target", "project"))
            p = run(d, "--workload", "clif_dashboard", "--seed", "1",
                    "--seconds", "1", "--trace", "0")
        self.assertNotEqual(p.returncode, 0)
        self.assertNotIn('"correct"', p.stdout)


class GenTest(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        import numpy as np
        a = gen.documents(np.random.default_rng(7), 300)
        b = gen.documents(np.random.default_rng(7), 300)
        c = gen.documents(np.random.default_rng(8), 300)
        self.assertTrue(a.equals(b))
        self.assertFalse(a.equals(c))

    def test_copies_point_at_earlier_documents(self):
        import numpy as np
        t = gen.documents(np.random.default_rng(3), 2000)
        ids = t.column("doc_id").to_pylist()
        self.assertEqual(ids, sorted(set(ids)))
        texts = t.column("text").to_pylist()
        first = {}
        for i, x in zip(ids, texts):
            first.setdefault(x, i)
        # exact copies exist, and each keeps a smaller-id original
        dups = [i for i, x in zip(ids, texts) if first[x] != i]
        self.assertTrue(dups)
        self.assertTrue(all(first[texts[ids.index(i)]] < i for i in dups))


if __name__ == "__main__":
    unittest.main()
