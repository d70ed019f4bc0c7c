"""Tests of the seeded generators: deterministic per seed, and producing the
shares of duplicates, gaps, failover and key skew that gen.py states.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import collections
import math
import os
import tempfile
import unittest

import gen


def ordered(log):
    return [tuple(sorted(m.items())) for m in log.messages]


class CdcLogTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.log = gen.cdc_log(7)

    def test_same_seed_same_log(self):
        self.assertEqual(ordered(self.log), ordered(gen.cdc_log(7)))
        self.assertNotEqual(ordered(self.log), ordered(gen.cdc_log(8)))

    def test_redelivered_share(self):
        seen = collections.Counter((m["publisher"], m["seq"]) for m in self.log.messages)
        dups = sum(n - 1 for n in seen.values())
        share = dups / len(self.log.messages)
        self.assertGreater(share, gen.DUP_SHARE * 0.6)
        self.assertLess(share, gen.DUP_SHARE * 1.4)
        # a redelivery is an exact copy that arrives after the original
        first = {}
        for m in self.log.messages:
            body = {k: v for k, v in m.items() if k != "arrival"}
            key = (m["publisher"], m["seq"])
            if key in first:
                self.assertEqual(first[key][1], body)
                self.assertGreater(m["arrival"], first[key][0])
            else:
                first[key] = (m["arrival"], body)

    def test_sequence_gaps_are_the_lost_messages(self):
        seqs = collections.defaultdict(set)
        for m in self.log.messages:
            seqs[m["publisher"]].add(m["seq"])
        holes = sorted((p, s) for p, ss in seqs.items()
                       for s in range(max(ss)) if s not in ss)
        self.assertEqual(len(holes), gen.GAPS)
        self.assertEqual(holes, self.log.lost)

    def test_one_failover_mid_transaction(self):
        pubs = {m["publisher"] for m in self.log.messages}
        self.assertEqual(len(pubs), gen.PUBLISHERS + 1)
        old, new = self.log.failover
        self.assertIn(old, pubs)
        self.assertIn(new, pubs)
        by_seq = sorted({m["seq"]: m for m in self.log.messages
                         if m["publisher"] == old}.values(), key=lambda m: m["seq"])
        self.assertEqual(by_seq[-1]["op"], "mutation")  # died inside a txn
        self.assertEqual(min(m["seq"] for m in self.log.messages
                             if m["publisher"] == new), 0)

    def test_brackets(self):
        for pub in {m["publisher"] for m in self.log.messages}:
            msgs = sorted({m["seq"]: m for m in self.log.messages
                           if m["publisher"] == pub}.values(), key=lambda m: m["seq"])
            in_txn = False
            for m in msgs:
                if m["op"] == "begin":
                    self.assertFalse(in_txn)
                    in_txn = True
                elif m["op"] == "mutation":
                    self.assertTrue(in_txn)
                else:
                    self.assertTrue(in_txn)
                    in_txn = False

    def test_zipf_key_skew(self):
        keys = collections.Counter(m["user_id"] for m in self.log.messages
                                   if m["op"] == "mutation")
        n = sum(keys.values())
        harmonic = sum(1 / r ** gen.ZIPF_S for r in range(1, gen.CUSTOMERS + 1))
        top = keys.most_common(1)[0][1] / n
        self.assertAlmostEqual(top, 1 / harmonic, delta=0.25 / harmonic)
        self.assertTrue(all(0 <= k < gen.CUSTOMERS for k in keys))
        other_hot = gen.cdc_log(8)
        hot8 = collections.Counter(m["user_id"] for m in other_hot.messages
                                   if m["op"] == "mutation").most_common(1)[0][0]
        self.assertNotEqual(keys.most_common(1)[0][0], hot8)

    def test_tombstones_and_event_order(self):
        muts = [m for m in self.log.messages if m["op"] == "mutation"]
        share = sum(m["event_type"] == gen.TOMBSTONE for m in muts) / len(muts)
        self.assertAlmostEqual(share, 1 / len(gen.EVENT_TYPES), delta=0.03)
        firsts = {}
        for m in muts:
            firsts.setdefault(m["event_id"], m)
        ids = list(firsts)
        self.assertEqual(ids, sorted(ids))
        ts = [firsts[i]["ts"] for i in ids]
        self.assertEqual(ts, sorted(ts))

    def test_written_tables(self):
        with tempfile.TemporaryDirectory() as d:
            gen.write_cdc(7, d)
            h1 = gen.fixture_hash(d)
            self.assertEqual(sorted(os.listdir(d)),
                             ["customer.parquet", "events.parquet", "log.parquet"])
        with tempfile.TemporaryDirectory() as d:
            gen.write_cdc(7, d)
            self.assertEqual(gen.fixture_hash(d), h1)


class CurateTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.base_docs, cls.base_emb, _, _ = gen.curate_tables(None)
        cls.docs, cls.emb, cls.bij, cls.rot = gen.curate_tables(3)

    def test_deterministic(self):
        docs, emb, _, _ = gen.curate_tables(3)
        self.assertEqual(docs.to_pylist(), self.docs.to_pylist())
        self.assertEqual(emb.to_pylist(), self.emb.to_pylist())
        self.assertNotEqual(gen.curate_tables(4)[0].to_pylist(), self.docs.to_pylist())

    def test_vocabulary_bijection_keeps_duplicate_families(self):
        before = self.base_docs.column("text").to_pylist()
        after = self.docs.column("text").to_pylist()
        self.assertEqual(sorted(self.bij), sorted(self.bij.values()))
        self.assertEqual(gen.vocabulary(before), gen.vocabulary(after))
        for a, b in zip(before, after):
            self.assertEqual(len(a.split(" ")), len(b.split(" ")))
        for i in range(0, len(before), 7):
            for j in range(i + 1, min(i + 40, len(before))):
                self.assertEqual(before[i] == before[j], after[i] == after[j])
                sa, sb = set(before[i].split()), set(before[j].split())
                ta, tb = set(after[i].split()), set(after[j].split())
                self.assertEqual(len(sa & sb) * len(ta | tb), len(ta & tb) * len(sa | sb))

    def test_rotation_keeps_cosines(self):
        before = self.base_emb.column("embedding").to_pylist()
        after = self.emb.column("embedding").to_pylist()

        def cos(u, v):
            return sum(x * y for x, y in zip(u, v)) / math.sqrt(
                sum(x * x for x in u) * sum(y * y for y in v))
        for i in range(0, len(before), 25):
            for j in range(i + 1, len(before), 97):
                self.assertAlmostEqual(cos(before[i], before[j]),
                                       cos(after[i], after[j]), places=9)
        self.assertNotEqual(before[0], after[0])


if __name__ == "__main__":
    unittest.main()
