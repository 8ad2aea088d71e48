"""The benchmark's own test: its input generators are pure functions of the
seed.

    python3 perfbench/test_generators.py
"""
import hashlib
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import clgen  # noqa: E402
import sfgen  # noqa: E402


def digest(root):
    """Relative path and bytes of every file under root."""
    h = hashlib.sha256()
    for d, dirs, files in sorted(os.walk(root)):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.addCleanup(self.tmp.cleanup)

    def path(self, name):
        return os.path.join(self.tmp.name, name)

    def test_changelog_tree_is_a_function_of_the_seed(self):
        clgen.generate(self.path("a"), 5)
        clgen.generate(self.path("b"), 5)
        clgen.generate(self.path("c"), 6)
        self.assertEqual(digest(self.path("a")), digest(self.path("b")))
        self.assertNotEqual(digest(self.path("a")), digest(self.path("c")))

    def test_truth_covers_every_drift_kind(self):
        t = clgen.generate(self.path("a"), 5)
        diff = t["file_diff"]
        self.assertTrue(any(o and not n for _, o, n, _ in diff), "a removed file")
        self.assertTrue(any(n and not o for _, o, n, _ in diff), "an added file")
        self.assertIn("speciesgroups", {k for k, o, n, _ in diff if o and n})
        self.assertNotIn("speciesgroups", t["pairs"], "extension mismatch is skipped")
        self.assertTrue(any(p["old_rows"] != p["new_rows"] for p in t["pairs"].values()))
        self.assertEqual({e for e, _, _ in t["country_species"]}, {"country", "species"})
        self.assertGreater(t["sink_rows"], 0)

    def test_sf_tables_are_a_function_of_the_seed(self):
        sfgen.generate(self.path("a"), 0.001, 42)
        sfgen.generate(self.path("b"), 0.001, 42)
        sfgen.generate(self.path("c"), 0.001, 43)
        self.assertEqual(sorted(os.listdir(self.path("a"))),
                         sorted(f"{t}.parquet" for t in sfgen.TABLES))
        self.assertEqual(digest(self.path("a")), digest(self.path("b")))
        self.assertNotEqual(digest(self.path("a")), digest(self.path("c")))


if __name__ == "__main__":
    unittest.main()
