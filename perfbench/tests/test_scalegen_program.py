"""perfbench/scalegen.py makes the same events as the program's own
graft.tools.ScaleGen at the same k: same row count, same keys, same rows
(ScaleGen writes the timestamp as epoch nanoseconds, so it is compared as
such). Needs the benchmark built (one run of perfbench/run.py) and the
input directory; slow (it starts a Spark session), so it runs once by hand:

    python3 -m unittest perfbench/tests/test_scalegen_program.py
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import check  # noqa: E402
import run  # noqa: E402
import scalegen  # noqa: E402

STAMP = os.path.join(BENCH, ".work", "build.json")
K = run.K


@unittest.skipUnless(os.path.exists(STAMP) and os.path.isdir(run.DATA),
                     "benchmark not built or input missing")
class ScaleGenMatchesProgram(unittest.TestCase):

    def test_same_events_as_program(self):
        with open(STAMP) as f:
            cp = json.load(f)["classpath"]
        tmp = tempfile.mkdtemp(prefix="perfbench-scalegen-")
        try:
            cmd = run.java_cmd(cp, [], tmp)
            cmd[-1] = "graft.tools.ScaleGen"
            cmd += [run.DATA, os.path.join(tmp, "program"), str(K), "events"]
            env = dict(os.environ, SPARK_GRAFT_CPUS=str(run.cores()))
            subprocess.run(cmd, check=True, env=env, stdout=subprocess.DEVNULL,
                           stderr=subprocess.DEVNULL)
            scalegen.make_events(run.DATA, os.path.join(tmp, "bench"), K, seed=7)
            con = check.connect(run.cores())
            prog = (f"(SELECT event_id, ts AS ts_ns, user_id, event_type, value, props "
                    f"FROM read_parquet('{tmp}/program/events.parquet/*.parquet'))")
            ours = (f"(SELECT event_id, epoch_ns(ts) AS ts_ns, user_id, event_type, "
                    f"value, props FROM read_parquet('{tmp}/bench/events.parquet'))")
            n_prog, n_ours = (con.execute(f"SELECT count(*) FROM {t}").fetchone()[0]
                              for t in (prog, ours))
            self.assertEqual(n_prog, n_ours)
            for a, b in ((prog, ours), (ours, prog)):
                self.assertEqual(con.execute(
                    f"SELECT count(*) FROM (SELECT event_id FROM {a} "
                    f"EXCEPT SELECT event_id FROM {b})").fetchone()[0], 0)
                self.assertEqual(con.execute(
                    f"SELECT count(*) FROM (SELECT * FROM {a} EXCEPT ALL "
                    f"SELECT * FROM {b})").fetchone()[0], 0)
            print(f"\n{n_ours} events at k={K} match graft.tools.ScaleGen")
            con.close()
        finally:
            shutil.rmtree(tmp)


if __name__ == "__main__":
    unittest.main()
