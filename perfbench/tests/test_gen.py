import os
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lib import gen  # noqa: E402


def read(path):
    with open(path) as f:
        return f.read()


def tiny(root, seed=7):
    return gen.gen_ingest(root, seed, portals=3, links=6, delta=2,
                          unconfigured=1, limit=5, conn_portals=2,
                          conn_pages=4, conn_links=3)


class IngestGenerator(unittest.TestCase):
    def test_expected_counts_on_a_tiny_seed(self):
        with tempfile.TemporaryDirectory() as d:
            e = tiny(f"{d}/in")
            # 3 configured portals, 6 meetings each, limit 5
            self.assertEqual(e["empty"], 15)
            self.assertEqual(e["rerun"], 0)
            # 2 new meetings per portal land inside the limit window
            self.assertEqual(e["delta"], 6)
            self.assertEqual(len(e["sink_files"]), 21)
            self.assertEqual(len(set(e["sink_files"])), 21)
            self.assertEqual(e["pages_generated"], 8)
            self.assertLessEqual(e["pages_opened"], 8)
            self.assertEqual(len(os.listdir(f"{d}/in/portals")), 4)
            csv = read(f"{d}/in/municipalities.csv").splitlines()
            self.assertEqual(len(csv), 4)  # header + configured portals

    def test_same_seed_same_inputs(self):
        with tempfile.TemporaryDirectory() as d:
            a, b = tiny(f"{d}/a"), tiny(f"{d}/b")
            self.assertEqual(a, b)
            for f in sorted(os.listdir(f"{d}/a/portals")):
                self.assertEqual(read(f"{d}/a/portals/{f}"),
                                 read(f"{d}/b/portals/{f}"))
            self.assertNotEqual(a["sink_files"], tiny(f"{d}/c", 8)["sink_files"])

    def test_candidates_follow_the_pipeline_rules(self):
        good = "/vis?Referat-x-d.01-02-2020&id=" + "a" * 36
        links = [(good, ""), ("/om-kommunen", ""), (good, "again"),
                 ("/vis?Dagsorden-x-d.02-02-2020&id=" + "b" * 36, ""),
                 ("/vis?Referat-x&id=BADLY-FORMED", ""),
                 ("/vis?Referat-x-d.03-02-2020&id=" + "c" * 36, "")]
        self.assertEqual(gen.expected_candidates(links, 10),
                         [good, links[5][0]])
        self.assertEqual(gen.expected_candidates(links, 1), [good])

    def test_connector_stops_after_the_first_page_older_than_the_bound(self):
        with tempfile.TemporaryDirectory() as d:
            e = tiny(f"{d}/in")
            for f in e["connector_files"]:
                self.assertGreaterEqual(f[:10], e["min_date"])


class SupplierChains(unittest.TestCase):
    def test_disjoint_chains_of_two_to_five_with_a_five_first(self):
        pairs = gen.supplier_chains(3, 100)
        self.assertEqual(pairs[:4], [(0, 1), (1, 2), (2, 3), (3, 4)])
        heads = {a for a, _ in pairs} - {b for _, b in pairs}
        for h in heads:
            n, s = 1, h
            while (s, s + 1) in pairs:
                n, s = n + 1, s + 1
            self.assertTrue(2 <= n <= 5, (h, n))
        self.assertLessEqual(max(b for _, b in pairs), 99)
        self.assertGreater(len(heads), 10)
        self.assertEqual(pairs, gen.supplier_chains(3, 100))


if __name__ == "__main__":
    unittest.main()
