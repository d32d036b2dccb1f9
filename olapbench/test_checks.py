"""Each output check accepts a correct result and rejects a perturbed one.

Run from the root of a checkout: python3 -m unittest olapbench/test_checks.py
"""
import copy
import os
import random
import shutil
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import checks  # noqa: E402
import gen  # noqa: E402

WORK = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".work")

# tx1 restated in DuckDB over `events`, independently of the program's
# own oracle text: the reference result the tx checks are fed with.
TX1_SQL = """
WITH r AS (
  SELECT event_id % 97 = 0 AS short_card,
         NOT (event_id % 89 = 0 OR event_id % 83 = 0 OR round(value * 100) <= 0)
           AS amount_ok,
         event_id % 43 = 0 OR event_type = 'error' AS is_error,
         event_id % 37 = 0 AS is_fraud,
         event_id % 101 <> 0 AS good_ts
  FROM events),
s AS (SELECT *, NOT short_card AND amount_ok AND good_ts AS ok FROM r)
SELECT 'error' AS bucket, count(*) FILTER (WHERE is_error) AS n FROM s
UNION ALL SELECT 'fraud', count(*) FILTER (WHERE is_fraud) FROM s
UNION ALL SELECT 'invalid', count(*) FILTER (WHERE NOT is_error AND NOT is_fraud AND NOT ok) FROM s
UNION ALL SELECT 'valid', count(*) FILTER (WHERE ok) FROM s
"""
MERCHANTS_SQL = """
SELECT event_type, count(*) AS n, sum(value) AS total
FROM events GROUP BY event_type ORDER BY event_type
"""


class IngestCheckTest(unittest.TestCase):
    def setUp(self):
        rng = random.Random(7)
        labels = [lab for _, lab in gen.ingest_rows(
            rng, 3000, gen.EPOCH, 24)]
        self.expected = {"files": 3, "rows": 3000,
                         "buckets": gen.expected_buckets(labels)}
        b = self.expected["buckets"]
        status = {"new_batches": 3, **{k: v[0] for k, v in b.items()}}
        self.good = {"check": {"statuses": [status, dict(status)],
                               "read_back": {k: list(v) for k, v in b.items()}}}

    def problems(self, mutate):
        r = copy.deepcopy(self.good)
        mutate(r)
        return checks.check_ingest(r, self.expected)

    def test_accepts_exact_result(self):
        self.assertEqual(self.problems(lambda r: None), [])

    def test_rejects_a_lost_row(self):
        def m(r): r["check"]["statuses"][1]["valid"] -= 1
        self.assertTrue(self.problems(m))

    def test_rejects_a_replayed_batch(self):
        def m(r):
            for k in checks.BUCKETS:
                r["check"]["statuses"][0][k] += self.expected["buckets"][k][0] // 3
        self.assertTrue(self.problems(m))

    def test_rejects_a_wrong_cent_sum(self):
        def m(r): r["check"]["read_back"]["fraud"][1] += 1
        self.assertTrue(self.problems(m))

    def test_rejects_batches_not_matching_files(self):
        def m(r): r["check"]["statuses"][0]["new_batches"] = 2
        self.assertTrue(self.problems(m))

    def test_rejects_no_drain(self):
        def m(r): r["check"]["statuses"] = []
        self.assertTrue(self.problems(m))

    def test_split_quirks(self):
        clean = {"user": 1, "card": "4" * 16, "cents": 500, "good_ts": True,
                 "err": "", "fraud": "No"}
        self.assertEqual(gen.buckets_of(clean), ["valid"])
        self.assertEqual(gen.buckets_of(dict(clean, user=None)), [])
        self.assertEqual(gen.buckets_of(dict(clean, fraud="Yes ")),
                         ["valid", "fraud"])
        self.assertEqual(gen.buckets_of(dict(clean, err="  Bad CVV ", fraud="Yes")),
                         ["valid", "fraud", "errors"])
        self.assertEqual(gen.buckets_of(dict(clean, cents=0)), ["invalid_log"])
        self.assertEqual(gen.buckets_of(dict(clean, cents=0, user=None)),
                         ["invalid_log"])


class TxCheckTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        import duckdb
        os.makedirs(WORK, exist_ok=True)
        cls.dir = tempfile.mkdtemp(prefix="test-checks-", dir=WORK)
        cls.events = os.path.join(cls.dir, "events")
        cls.tx1 = gen.write_events(3, cls.events, n=5000)["tx1"]
        cls.con = duckdb.connect()
        cls.con.execute("CREATE VIEW events AS SELECT * FROM read_parquet('%s')"
                        % os.path.join(cls.events, "events.parquet"))
        cls.oracles = {"tx1_bucket_counts": TX1_SQL, "tx_by_type": MERCHANTS_SQL}

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.dir)

    def problems(self, mutate=None, entries=None):
        results = tempfile.mkdtemp(dir=self.dir)
        for name, sql in self.oracles.items():
            df = self.con.execute(sql).df()
            if mutate:
                df = mutate(name, df)
            os.makedirs(os.path.join(results, name))
            df.to_parquet(os.path.join(results, name, "part-0.parquet"))
        return checks.check_tx(results, self.events, entries or list(self.oracles),
                               self.oracles, self.tx1)

    def test_accepts_exact_result(self):
        self.assertEqual(self.problems(), [])

    def test_rejects_a_changed_value(self):
        def m(name, df):
            if name == "tx_by_type":
                df.loc[0, "total"] += 0.01
            return df
        self.assertTrue(self.problems(m))

    def test_rejects_a_missing_row(self):
        self.assertTrue(self.problems(
            lambda name, df: df.iloc[1:] if name == "tx_by_type" else df))

    def test_rejects_a_renamed_column(self):
        self.assertTrue(self.problems(
            lambda name, df: df.rename(columns={"n": "count"})
            if name == "tx_by_type" else df))

    def test_rejects_tx1_off_the_generator(self):
        def m(name, df):
            if name == "tx1_bucket_counts":
                df.loc[df.bucket == "valid", "n"] += 1
            return df
        # the oracle itself is fed the same change, so only the
        # generator-side expectation can catch it
        self.oracles["tx1_bucket_counts"] = TX1_SQL.replace(
            "count(*) FILTER (WHERE ok)", "count(*) FILTER (WHERE ok) + 1")
        try:
            self.assertTrue(self.problems(m))
        finally:
            self.oracles["tx1_bucket_counts"] = TX1_SQL

    def test_rejects_an_entry_without_oracle(self):
        self.assertTrue(self.problems(entries=list(self.oracles) + ["tx_none"]))


if __name__ == "__main__":
    unittest.main()
