"""Tests of the generator's expectations at a tiny size: the expected outcome
is re-derived here from the generated files alone, by replaying the loader's
contract (first-wins per key in file then line order, per-state count
reconciliation, movers dropped against the published table), and must equal
what `gen.py` wrote into `expect.json`. The catalog tables must repeat
byte for byte under one seed and keep the fixtures' key structure. Also
checks that the metrics `run.py` reports are the ones `BENCHMARK.json`
declares.

    python3 perfbench/test_gen.py
"""

import filecmp
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import run  # noqa: E402

TINY = 0.05


def read(path):
    with open(path) as f:
        header = f.readline().rstrip("\n").split("\t")
        rows = [line.rstrip("\n").split("\t") for line in f]
    return header, rows


def first_wins(files, dir_):
    """key -> (state, first row) over files in file-number order."""
    kept, lines = {}, {}
    for name in sorted(files, key=lambda n: int(n.split("--")[0])):
        st = name.split("--")[1]
        header, rows = read(os.path.join(dir_, name))
        lines[name] = len(rows)
        for r in rows:
            kept.setdefault(r[0], (st, dict(zip(header, r))))
    return kept, lines


def replay(files, dir_, published):
    """The per-state table after loading `files` on top of `published`
    (state -> set of keys), plus the alerts raised."""
    kept, lines = first_wins(files, dir_)
    alerts, bad = [], set()
    for name in files:
        st = name.split("--")[1]
        loaded = sum(1 for s, _ in kept.values() if s == st)
        if abs(loaded - lines[name]) > gen.TOLERANCE:
            alerts.append("Error: state %s loaded %d rows, expected %d" % (st, loaded, lines[name]))
            bad.add(st)
    good = {n.split("--")[1] for n in files} - bad
    existing = {k for s, ks in published.items() if s not in good for k in ks}
    out = {s: set(ks) for s, ks in published.items() if s not in good}
    for k, (st, _) in kept.items():
        if st in good and k not in existing:
            out.setdefault(st, set()).add(k)
    return out, sorted(alerts), kept


class GeneratorTest(unittest.TestCase):

    def check(self, expect, table, alerts):
        self.assertEqual(expect["alerts"], alerts)
        self.assertEqual({s: [v["rows"], v["keys"]] for s, v in expect["states"].items()},
                         {s: [len(ks), len(ks)] for s, ks in table.items()})

    def test_full_width(self):
        with tempfile.TemporaryDirectory() as d:
            e = gen.gen_full_width(7, d, TINY)
            table, alerts, kept = replay(e["timed_files"], d, {})
            self.check(e, table, alerts)
            self.assertEqual(len(gen.STATES), len(e["timed_files"]))
            header, rows = read(os.path.join(d, e["timed_files"][0]))
            self.assertEqual([c for c, _ in gen.voter_columns()], header)
            self.assertEqual(339, len(header))
            self.assertTrue(all(len(r) == len(header) for r in rows))
            filled = sum(1 for r in rows for v in r if v) / (len(rows) * len(header))
            self.assertTrue(0.4 < filled < 0.6, filled)
            # first-wins keeps originals only; duplicates are marked DUP
            self.assertFalse(any(r["Voters_FirstName"].endswith("DUP") for _, r in kept.values()))
            dups = sum(v["in_file_dups"] for v in e["states"].values())
            self.assertEqual(e["delivered_rows"] - sum(v["rows"] for v in e["states"].values()), dups)
            # at the workload's own size the largest state is ~35x the smallest
            sizes = gen.state_sizes(gen.FULL_WIDTH_ROWS).values()
            self.assertTrue(30 < max(sizes) / min(sizes) <= 35.5)

    def test_incremental(self):
        with tempfile.TemporaryDirectory() as d:
            e = gen.gen_incremental(7, d, TINY)
            base, alerts, _ = replay(e["base_files"], d, {})
            self.assertEqual([], alerts)
            table, alerts, _ = replay(e["timed_files"], d, base)
            self.check(e, table, alerts)
            self.assertEqual(1, len(alerts))
            self.assertEqual(base[e["alert_state"]], table[e["alert_state"]])
            self.assertEqual([f for f in e["timed_files"] if "--%s--" % e["alert_state"] in f],
                             e["rerun_files"])
            movers = sum(v["movers_dropped"] for v in e["states"].values())
            self.assertGreater(movers, 0)
            # a re-run retries only the alerted file, which alerts again
            again, alerts2, _ = replay(e["rerun_files"], d, table)
            self.assertEqual(table, again)
            self.assertEqual(alerts, alerts2)

    def test_seeded(self):
        with tempfile.TemporaryDirectory() as d:
            a = gen.gen_full_width(3, os.path.join(d, "a"), TINY)
            b = gen.gen_full_width(3, os.path.join(d, "b"), TINY)
            c = gen.gen_full_width(4, os.path.join(d, "c"), TINY)
            f = a["timed_files"][0]
            self.assertTrue(filecmp.cmp(os.path.join(d, "a", f), os.path.join(d, "b", f), shallow=False))
            self.assertFalse(filecmp.cmp(os.path.join(d, "a", f), os.path.join(d, "c", f), shallow=False))
            # other seeds, same work: sizes and counts do not depend on the seed
            self.assertEqual(a["states"], c["states"])
            self.assertEqual(a["delivered_rows"], c["delivered_rows"])

    def test_catalog(self):
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory() as d:
            a = gen.gen_catalog(3, os.path.join(d, "a"))
            gen.gen_catalog(3, os.path.join(d, "b"))
            c = gen.gen_catalog(4, os.path.join(d, "c"))
            self.assertEqual(gen.CATALOG_ROWS, a["rows"])
            self.assertEqual(a["rows"], c["rows"])
            for t in gen.CATALOG_ROWS:
                same = [os.path.join(d, x, t + ".parquet") for x in "ab"]
                self.assertTrue(filecmp.cmp(*same, shallow=False), t)
            tab = {t: pq.read_table(os.path.join(d, "a", t + ".parquet")).to_pylist()
                   for t in gen.CATALOG_ROWS}
            self.assertFalse(filecmp.cmp(os.path.join(d, "a", "orders.parquet"),
                                         os.path.join(d, "c", "orders.parquet"), shallow=False))
            # foreign keys resolve, and a line ships after its order
            orders = {o["o_orderkey"]: o for o in tab["orders"]}
            self.assertTrue(all(o["o_custkey"] < len(tab["customer"]) for o in tab["orders"]))
            self.assertTrue(all(l["l_shipdate"] > orders[l["l_orderkey"]]["o_orderdate"]
                                for l in tab["lineitem"]))
            self.assertTrue(all(abs(sum(x * x for x in e["embedding"]) - 1) < 1e-5
                                for e in tab["embeddings"]))
            # near-duplicate documents: some pairs share all but one token
            texts = [set(r["text"].split()) for r in tab["documents"]]
            self.assertEqual([len(r["text"]) for r in tab["documents"]],
                             [r["n_chars"] for r in tab["documents"]])
            near = sum(1 for i, x in enumerate(texts) for y in texts[i + 1:]
                       if len(x ^ y) <= 1 and len(x) > 8)
            self.assertGreater(near, 5)


class DeclarationTest(unittest.TestCase):

    def test_metrics_match_benchmark_json(self):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
            b = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in b["end_to_end"]}, run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in b["per_layer"]}, run.PER_LAYER_UNITS)
        self.assertEqual(sorted(w["name"] for w in b["workloads"]), sorted(run.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
