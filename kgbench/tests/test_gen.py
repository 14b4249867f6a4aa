"""The input generator is deterministic for a given seed.

    python3 -m unittest discover -s kgbench/tests
"""

import hashlib
import os
import shutil
import sys
import tempfile
import unittest
from unittest import mock

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import gen  # noqa: E402


def tree_digest(root):
    h = hashlib.sha256()
    for dirpath, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(dirpath, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


# small sizes keep the test fast; the generator's logic is size-independent
SMALL = {"BULK_DOCS": 60, "KG_DOCS": 40}


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.dir = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.dir)

    def run_gen(self, workload, seed, name):
        out = os.path.join(self.dir, name)
        with mock.patch.multiple(gen, **SMALL):
            gen.generate(workload, seed, out)
        return tree_digest(out)

    def test_same_seed_gives_identical_tables(self):
        for w in gen.GENERATORS:
            with self.subTest(workload=w):
                self.assertEqual(self.run_gen(w, 7, w + "-a"),
                                 self.run_gen(w, 7, w + "-b"))

    def test_other_seed_gives_other_tables(self):
        for w in gen.GENERATORS:
            with self.subTest(workload=w):
                self.assertNotEqual(self.run_gen(w, 7, w + "-a"),
                                    self.run_gen(w, 8, w + "-b"))

    def test_blocking_keys_follow_the_programs_simplification(self):
        self.assertEqual(gen.blocking_keys("Nova Lumen Inc.", "ORGANIZATION"),
                         {"ORGANIZATION|nova", "ORGANIZATION|umen"})


if __name__ == "__main__":
    unittest.main()
