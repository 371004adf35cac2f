"""Self-tests of the lifecycle benchmark: percentile and self-time
arithmetic, and generator determinism (same seed, byte-identical files;
another seed, other files).

    python3 lifebench/run.py --selftest
"""
import hashlib
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import metrics  # noqa: E402


def span(i, parent, t0, t1, name="x"):
    return {"id": i, "parent": parent, "t0": t0, "t1": t1, "name": name}


class Arithmetic(unittest.TestCase):
    def test_percentile_interpolates(self):
        xs = [4, 1, 3, 2]
        self.assertEqual(metrics.percentile(xs, 0), 1)
        self.assertEqual(metrics.percentile(xs, 100), 4)
        self.assertAlmostEqual(metrics.percentile(xs, 50), 2.5)
        self.assertAlmostEqual(metrics.percentile(range(101), 99), 99)
        self.assertAlmostEqual(metrics.percentile([1, 2], 25), 1.25)
        self.assertEqual(metrics.percentile([7], 99), 7)
        with self.assertRaises(ValueError):
            metrics.percentile([], 50)

    def test_tail_percentile_keeps_ten_beyond(self):
        self.assertEqual(metrics.tail_percentile(1000), 99)
        self.assertEqual(metrics.tail_percentile(999), 95)
        self.assertEqual(metrics.tail_percentile(100), 90)
        self.assertEqual(metrics.tail_percentile(40), 75)
        self.assertEqual(metrics.tail_percentile(39), 50)

    def test_self_time_subtracts_covered_children(self):
        spans = [span(1, 0, 0.0, 10.0), span(2, 1, 1.0, 4.0),
                 span(3, 1, 3.0, 6.0),   # overlaps 2: union is 1..6
                 span(4, 2, 1.5, 2.0),   # grandchild: only 2 loses it
                 span(5, 0, 20.0, 21.0)]
        st = metrics.self_times(spans)
        self.assertAlmostEqual(st[1], 5.0)
        self.assertAlmostEqual(st[2], 2.5)
        self.assertAlmostEqual(st[3], 3.0)
        self.assertAlmostEqual(st[4], 0.5)
        self.assertAlmostEqual(st[5], 1.0)

    def test_self_times_of_a_sequential_tree_add_up(self):
        spans = [span(1, 0, 0.0, 10.0), span(2, 1, 1.0, 3.0),
                 span(3, 1, 3.0, 6.0), span(4, 3, 4.0, 5.0)]
        self.assertAlmostEqual(sum(metrics.self_times(spans).values()), 10.0)

    def test_child_outside_parent_is_clipped(self):
        st = metrics.self_times([span(1, 0, 0.0, 2.0), span(2, 1, 1.0, 5.0)])
        self.assertAlmostEqual(st[1], 1.0)

    def test_roots_and_slope(self):
        spans = [span(1, 0, 0, 1), span(2, 1, 0, 1), span(3, 2, 0, 1)]
        self.assertEqual(metrics.roots_of(spans), {1: 1, 2: 1, 3: 1})
        self.assertAlmostEqual(metrics.slope([1.0, 3.0, 5.0]), 2.0)
        self.assertEqual(metrics.slope([4.0]), 0.0)
        self.assertAlmostEqual(metrics.skew([1, 1, 4]), 4.0)

    def test_per_layer_names_are_unique_and_valid(self):
        names = [n for n, _, _ in metrics.per_layer_spec()]
        self.assertEqual(len(names), len(set(names)))
        self.assertLessEqual(len(names), 128)
        for n in names:
            self.assertLessEqual(len(n), 64)


class Generator(unittest.TestCase):
    """Runs the benchmark JVM's generator twice per seed."""

    @classmethod
    def setUpClass(cls):
        cls.cp = build.build()
        cls.tmp = tempfile.mkdtemp(prefix="gen-", dir=os.path.join(HERE, ".build"))

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.tmp, ignore_errors=True)

    def digest(self, seed, name):
        d = os.path.join(self.tmp, name)
        subprocess.run([build.java(), "-cp", self.cp, "lifebench.Main", "gen",
                        d, str(seed), "3000"], check=True,
                       stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
        h = hashlib.sha256()
        for f in sorted(os.listdir(d)):
            h.update(f.encode())
            with open(os.path.join(d, f), "rb") as fh:
                h.update(fh.read())
        return h.hexdigest()

    def test_same_seed_same_bytes(self):
        self.assertEqual(self.digest(7, "a"), self.digest(7, "b"))

    def test_other_seed_other_bytes(self):
        self.assertNotEqual(self.digest(7, "c"), self.digest(8, "d"))


def main():
    suite = unittest.defaultTestLoader.loadTestsFromModule(sys.modules[__name__])
    ok = unittest.TextTestRunner(verbosity=2).run(suite).wasSuccessful()
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
