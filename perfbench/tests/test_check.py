"""The checker passes an intact result and fails a corrupted copy of it.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import shutil
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import check  # noqa: E402
import run  # noqa: E402
import scalegen  # noqa: E402

# a few events in the input's schema
EVENTS_SQL = """
SELECT i AS event_id,
       TIMESTAMP '2024-01-01 00:00:00' + INTERVAL (i * 997) SECOND AS ts,
       i % 7 AS user_id,
       ['purchase', 'view', 'signup'][1 + i % 3] AS event_type,
       round(i * 1.37, 2) AS value,
       '{}' AS props
FROM range(60) t(i)
"""

# a catalog-style result and the oracle SQL it should match
ORACLE_SQL = """
SELECT event_type, count(*) AS n, sum(value) AS total
FROM events GROUP BY 1
"""

# the stores as the program writes them (transfers: one edge row per event;
# wallets: one document per (token, wallet) holding a balance log)
TRANSFERS_SQL = """
SELECT CAST(event_id % 100 AS VARCHAR) || '_' || CAST(event_id AS VARCHAR) || '_'
         || CAST(user_id AS VARCHAR) || '_'
         || CAST((user_id * 7 + event_id) % 1000 AS VARCHAR) AS _key,
       'wallets/' || CAST(user_id AS VARCHAR) AS _from,
       'wallets/' || CAST((user_id * 7 + event_id) % 1000 AS VARCHAR) AS _to,
       event_type AS contract_address, event_id AS block_number
FROM events
"""
WALLETS_SQL = """
WITH legs AS (
  SELECT event_type AS c, CAST(user_id AS VARCHAR) AS a, -value AS d FROM events
  UNION ALL
  SELECT event_type, CAST((user_id * 7 + event_id) % 1000 AS VARCHAR), value FROM events
)
SELECT c || '_' || a AS _key, a AS address,
       MAP([CAST(0 AS BIGINT)], [{'is_whale': false,
           'balance': CAST(SUM(CAST(d AS DECIMAL(25,2))) AS DOUBLE)}]) AS balanceChangeLogs,
       CAST(1 AS BIGINT) AS ver
FROM legs GROUP BY c, a
"""


class CheckTest(unittest.TestCase):

    def setUp(self):
        self.dir = tempfile.mkdtemp(prefix="perfbench-test-")
        self.con = check.connect(2)
        self.events = os.path.join(self.dir, "events.parquet")
        self.con.execute(f"COPY ({EVENTS_SQL}) TO '{self.events}' (FORMAT PARQUET)")
        self.con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{self.events}')")

    def tearDown(self):
        self.con.close()
        shutil.rmtree(self.dir)

    def write(self, sql, name):
        d = os.path.join(self.dir, name)
        os.makedirs(d, exist_ok=True)
        self.con.execute(f"COPY ({sql}) TO '{d}/part-0.parquet' (FORMAT PARQUET)")
        return d

    def corrupt(self, src, name, sql):
        """A copy of src rewritten by sql over {t}, src's rows."""
        t = f"(SELECT * FROM read_parquet('{src}/*.parquet'))"
        return self.write(sql.format(t=t), name)

    def test_result_check(self):
        expected = check.summarize(self.con.execute(ORACLE_SQL).fetch_df())
        good = self.write(ORACLE_SQL, "good")
        self.assertIsNone(check.check_result(self.con, good, expected))
        dropped = self.corrupt(good, "dropped",
                               "SELECT * FROM {t} WHERE event_type <> 'view'")
        self.assertIn("rowcount", check.check_result(self.con, dropped, expected))
        changed = self.corrupt(good, "changed",
                               "SELECT event_type, n + (event_type = 'view')::INT AS n, "
                               "total FROM {t}")
        self.assertEqual(check.check_result(self.con, changed, expected), "value mismatch")
        self.assertEqual(check.check_result(self.con, os.path.join(self.dir, "none"),
                                            expected), "no result files")

    def test_run_verdict(self):
        """A run is correct only if no check found a result wrong; an
        operation that threw counts as failed without making it wrong."""
        expected = {"q_x": check.summarize(self.con.execute(ORACLE_SQL).fetch_df())}
        run_dir = os.path.join(self.dir, "run")
        good = self.write(ORACLE_SQL, "run/pass0/q_x")
        shutil.copytree(good, os.path.join(run_dir, "pass1", "q_x"))

        def op(error=None):
            return {"name": "q_x", "seconds": 0.1, "error": error}

        def record(warm_error=None):
            return {"passes": [
                {"index": 0, "kind": "cold", "shared": [], "ops": [op()]},
                {"index": 1, "kind": "warm", "shared": [], "ops": [op(warm_error)]}]}

        def verdict(rec):
            failures, wrong = run.verify("graph_loops", rec, run_dir, expected, None)
            return run.outcome(rec, failures, wrong, per_pass=1)

        self.assertEqual(verdict(record()), (2, 0, True))
        self.assertEqual(verdict(record("java.lang.RuntimeException: boom")), (2, 1, True))
        shutil.rmtree(os.path.join(run_dir, "pass1", "q_x"))
        self.corrupt(good, "run/pass1/q_x",
                     "SELECT * FROM {t} WHERE event_type <> 'view'")
        self.assertEqual(verdict(record()), (2, 1, False))

    def stores(self, name, transfers_sql, wallets_sql):
        root = os.path.join(self.dir, name)
        self.write(transfers_sql, f"{name}/transfers")
        self.write(wallets_sql, f"{name}/wallets")
        return root

    def test_store_check(self):
        good = self.stores("good", TRANSFERS_SQL, WALLETS_SQL)
        for pipeline in ("rawLoad", "enrichWallets"):
            self.assertIsNone(check.check_store(self.con, self.events, good, pipeline))
        t = f"(SELECT * FROM read_parquet('{good}/transfers/*.parquet'))"
        w = f"(SELECT * FROM read_parquet('{good}/wallets/*.parquet'))"
        cases = {
            "dropped": (f"SELECT * FROM {t} WHERE block_number <> 7",
                        f"SELECT * FROM {w} WHERE _key <> (SELECT min(_key) FROM {w})"),
            "changed": (f"SELECT _key, _from, _to, contract_address, "
                        f"block_number + (block_number = 7)::BIGINT AS block_number FROM {t}",
                        f"SELECT _key, address, CASE WHEN _key = (SELECT min(_key) FROM {w}) "
                        f"THEN MAP([CAST(0 AS BIGINT)], [{{'is_whale': false, 'balance': 1e9}}]) "
                        f"ELSE balanceChangeLogs END AS balanceChangeLogs, ver FROM {w}"),
            "duplicated": (f"SELECT * FROM {t} UNION ALL "
                           f"SELECT * FROM {t} WHERE block_number = 7",
                           f"SELECT * FROM {w} UNION ALL "
                           f"SELECT * FROM {w} WHERE _key = (SELECT min(_key) FROM {w})"),
        }
        for case, (ts, ws) in cases.items():
            bad = self.stores(case, ts, ws)
            for pipeline in ("rawLoad", "enrichWallets"):
                with self.subTest(case=case, pipeline=pipeline):
                    self.assertIsNotNone(
                        check.check_store(self.con, self.events, bad, pipeline))
                    # a repeat load that left such a store behind is caught too
                    self.assertNotEqual(check.store_digest(self.con, bad, pipeline),
                                        check.store_digest(self.con, good, pipeline))
        self.assertEqual(check.store_digest(self.con, good, "rawLoad"),
                         check.store_digest(self.con, self.stores(
                             "again", TRANSFERS_SQL, WALLETS_SQL), "rawLoad"))


class ScaleGenTest(unittest.TestCase):

    def test_seed_permutes_rows_only(self):
        src = tempfile.mkdtemp(prefix="perfbench-test-")
        try:
            con = check.connect(2)
            con.execute(f"COPY ({EVENTS_SQL}) TO '{src}/events.parquet' (FORMAT PARQUET)")
            for seed in (1, 2):
                scalegen.make_events(src, os.path.join(src, f"s{seed}"), 3, seed)
            a, b = (f"read_parquet('{src}/s{s}/events.parquet')" for s in (1, 2))
            self.assertEqual(con.execute(f"SELECT count(*) FROM {a}").fetchone()[0], 180)
            self.assertEqual(con.execute(
                f"SELECT count(*) FROM (SELECT * FROM {a} EXCEPT ALL SELECT * FROM {b})"
            ).fetchone()[0], 0)
            self.assertNotEqual(con.execute(f"SELECT list(event_id) FROM {a}").fetchone(),
                                con.execute(f"SELECT list(event_id) FROM {b}").fetchone())
            # replica r shifts event_id by r*|E| and user_id by r*(max+1)
            self.assertEqual(con.execute(
                f"SELECT max(event_id), max(user_id), count(DISTINCT event_id) FROM {a}"
            ).fetchone(), (179, 20, 180))
            con.close()
        finally:
            shutil.rmtree(src)


if __name__ == "__main__":
    unittest.main()
