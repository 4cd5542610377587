"""Self-tests of the benchmark harness (no Spark, no build needed).

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import socket
import subprocess
import sys
import tempfile
import time
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import check  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

TOPICS = [("gaming", ["game", "play", "stream", "level", "boss", "speedrun"]),
          ("music", ["song", "music", "band", "album", "concert", "playlist"])]


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_messages_and_schedule(self):
        a, b = gen.ChatGenerator(7, TOPICS), gen.ChatGenerator(7, TOPICS)
        self.assertEqual([a.next_message() for _ in range(500)],
                         [b.next_message() for _ in range(500)])
        self.assertEqual([a.next_gap(1000.0) for _ in range(100)],
                         [b.next_gap(1000.0) for _ in range(100)])
        self.assertNotEqual(gen.messages(7, TOPICS, 50), gen.messages(8, TOPICS, 50))

    def test_live_chat_tail_keeps_growing(self):
        msgs = gen.messages(3, TOPICS, 4000)
        seen = lambda n: len({t for _, b in msgs[:n] for t in b.split()})
        self.assertGreater(seen(4000) - seen(2000), 50)

    def test_same_seed_same_fixtures(self):
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory() as d:
            gen.write_fixtures(5, os.path.join(d, "a"))
            gen.write_fixtures(5, os.path.join(d, "b"))
            for f in sorted(os.listdir(os.path.join(d, "a"))):
                self.assertTrue(pq.read_table(os.path.join(d, "a", f)).equals(
                    pq.read_table(os.path.join(d, "b", f))), f)


class ExpectedCountsTest(unittest.TestCase):
    def test_three_lines(self):
        stop = frozenset({"the", "is", "this"})
        words, cats = check.expected_counts([
            "The GAME is a boss level game",        # gaming: game, boss, level = 3/6
            "play the game boss level stream",      # gaming: 5/6
            "this song rocks 12:30",                # music: 1/6
        ], TOPICS, stop)
        self.assertEqual(words, {"game": 3, "boss": 2, "level": 2, "play": 1, "stream": 1,
                                 "song": 1, "rocks": 1, "12:30": 1})
        self.assertEqual(cats, {"gaming": 1})


class LatencyTest(unittest.TestCase):
    def test_hand_built_timeline(self):
        # two queries read the same connection; the server sent one line
        # (pre=1) before message 0. Messages 0-3 are due at t=100.0..100.3.
        q1 = [{"batchId": 0, "numInputRows": 3, "sources": [{"endOffset": 3}]},
              {"batchId": 1, "numInputRows": 2, "sources": [{"endOffset": 5}]}]
        q2 = [{"batchId": 0, "numInputRows": 5, "sources": [{"endOffset": 5}]}]
        writes = [
            {"query": "a", "batch": "0", "end_us": 101_000_000, "table": "x", "ms": 1.0},
            {"query": "a", "batch": "1", "end_us": 102_000_000, "table": "x", "ms": 1.0},
            {"query": "b", "batch": "0", "end_us": 101_500_000, "table": "y", "ms": 1.0},
        ]
        res = {"rounds": [{"queries": ["a", "b"], "progress": [q1, q2], "end_msg": 4}],
               "server": {"active": [{"pre": 1, "first_msg": 0}]},
               "window": {"first_msg": 0},
               "writes": writes, "session_build_s": 1.0, "setup_round_s": [3.0, 1.0, 2.0],
               "heap_retained_mb": 50.0}
        slog = {"sched": [100.0, 100.1, 100.2, 100.3], "emit": [100.0, 100.1, 100.2, 100.3]}
        lo, refl = metrics.line_reflections(res, slog)
        # offsets 2,3 are in q1's batch 0 (101.0) and q2's batch 0 (101.5);
        # offsets 4,5 need q1's batch 1 (102.0)
        self.assertEqual(refl, [101.5, 101.5, 102.0, 102.0])
        e2e = metrics.stream_e2e(res, slog)
        self.assertAlmostEqual(e2e["latency_geomean_ms"][0], (1500 * 1400 * 1800 * 1700) ** 0.25)
        self.assertAlmostEqual(metrics.also_reported(res, e2e, "live-chat", slog)["latency_p50_ms"][0], 1600.0)
        self.assertAlmostEqual(e2e["items_per_s"][0], 4 / 2.0)
        self.assertEqual(e2e["setup_s"][0], 3.0)


class FakeServerTest(unittest.TestCase):
    def test_ping_and_broadcast_to_two_connections(self):
        with tempfile.TemporaryDirectory() as d:
            ports = os.path.join(d, "ports.json")
            topics = os.path.join(d, "topics.json")
            with open(topics, "w") as f:
                json.dump(dict(TOPICS), f)
            srv = subprocess.Popen([sys.executable, os.path.join(BENCH, "ircserver.py"),
                                    "--seed", "1", "--topics", topics,
                                    "--port-file", ports, "--log", os.path.join(d, "log.json")])
            try:
                while not os.path.exists(ports):
                    time.sleep(0.02)
                with open(ports) as f:
                    p = json.load(f)
                clients = []
                for i in range(2):
                    c = socket.create_connection(("127.0.0.1", p["irc"]), timeout=10)
                    c.sendall(f"PASS x\r\nNICK n{i}\r\nJOIN #{gen.CHANNEL}\r\n".encode())
                    clients.append((c, c.makefile("r", encoding="utf-8")))
                for c, rf in clients:
                    self.assertTrue(rf.readline().startswith("PING"))
                    c.sendall(b"PONG :tmi.twitch.tv\r\n")
                ctl = socket.create_connection(("127.0.0.1", p["ctl"]), timeout=10)
                cf = ctl.makefile("r", encoding="utf-8")
                ctl.sendall(b"OPEN 3 1000\n")
                self.assertEqual(json.loads(cf.readline())["n"], 3)
                for _, rf in clients:
                    got = [rf.readline() for _ in range(3)]
                    self.assertTrue(all(" PRIVMSG #" + gen.CHANNEL + " :" in g for g in got))
                ctl.sendall(b"STATS\n")
                st = json.loads(cf.readline())
                self.assertEqual(st["joined_total"], 2)
                self.assertEqual(st["sent"], 3)
                self.assertEqual(sorted(c["pongs"] for c in st["active"]), [1, 1])
                self.assertEqual([c["lines"] for c in st["active"]], [3, 3])
                ctl.sendall(b"QUIT\n")
                json.loads(cf.readline())
                srv.wait(10)
                for c, _ in clients:
                    c.close()
                ctl.close()
            finally:
                if srv.poll() is None:
                    srv.kill()
                srv.wait()


class FingerprintTest(unittest.TestCase):
    def test_small_query_matches_oracle(self):
        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory() as d:
            pq.write_table(pa.table({"k": pa.array([1, 2, 2, 3], pa.int64()),
                                     "v": pa.array([0.5, 1.25, 2.0, 4.0])}),
                           os.path.join(d, "t.parquet"))
            con = check.oracle_connection(d)
            want = check.canon(con.sql("SELECT k, sum(v) AS total FROM t GROUP BY k").df(), "oracle")
            # a program's result: other column order, other row order
            got = check.canon(pd.DataFrame({"TOTAL": [4.0, 0.5, 3.25], "k": [3, 1, 2]}), "spark")
            self.assertEqual(check.fingerprint(*want), check.fingerprint(*got))
            wrong = check.canon(pd.DataFrame({"total": [4.0, 0.5, 3.0], "k": [3, 1, 2]}), "spark")
            self.assertNotEqual(check.fingerprint(*want), check.fingerprint(*wrong))


if __name__ == "__main__":
    unittest.main()
