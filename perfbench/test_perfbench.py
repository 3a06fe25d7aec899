"""Tests of the benchmark's own analysis: the tail-percentile rule, the
chunk -> batch -> commit latency join over a synthetic checkpoint, and span
self time.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import sys
import tempfile
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import run  # noqa: E402


class TailPercentileRule(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertEqual(run.tail_percentile(40), 75.0)
        self.assertEqual(run.tail_percentile(45), 100 * 35 / 45)
        self.assertEqual(run.tail_percentile(100), 90.0)
        self.assertEqual(run.tail_percentile(1000), 99.0)

    def test_tail_leaves_exactly_ten_samples_beyond(self):
        for n in (22, 30, 33, 57, 100, 1000):
            xs = [float(x) for x in range(n)]
            t = run.tail(xs)
            self.assertEqual(sum(x > t for x in xs), 10, n)

    def test_small_samples_have_no_tail_beyond_the_median(self):
        for n in (1, 2, 5, 11, 16, 20):
            xs = [float(x) for x in range(n)]
            self.assertEqual(run.tail_rank(n), n // 2 + 1, n)
            self.assertGreaterEqual(run.tail(xs), run.median(xs), n)


class LatencyJoin(unittest.TestCase):
    """Two queries over the same three chunk files: the join must take, per
    file, the commit of the batch that held it on the slowest query."""

    def checkpoint(self, root, name, batches, commits, compact=None):
        q = root / name
        (q / "sources" / "0").mkdir(parents=True)
        (q / "commits").mkdir()
        for b, files in batches.items():
            fname = f"{b}.compact" if b == compact else str(b)
            entries = [] if b != compact else [
                {"path": f"file:///w/{f}", "timestamp": 1, "batchId": ob}
                for ob, fs in batches.items() if ob < b for f in fs]
            entries += [{"path": f"file:///w/{f}", "timestamp": 1, "batchId": b} for f in files]
            (q / "sources" / "0" / fname).write_text(
                "v1\n" + "".join(json.dumps(e) + "\n" for e in entries))
        (q / "sources" / "0" / ".0.crc").write_text("x")
        for b, t in commits.items():
            f = q / "commits" / str(b)
            f.write_text("v1\n{}\n")
            os.utime(f, (t, t))
        (q / "commits" / ".0.crc").write_text("x")
        return q

    def test_join_takes_slowest_query(self):
        with tempfile.TemporaryDirectory() as d:
            root = Path(d)
            fast = self.checkpoint(root, "fast", {0: ["a", "b"], 1: ["c"]},
                                   {0: 100.0, 1: 101.0})
            slow = self.checkpoint(root, "slow", {0: ["a"], 1: ["b"], 2: ["c"]},
                                   {0: 100.5, 1: 102.0, 2: 103.0}, compact=2)
            got = run.chunk_commits([fast, slow], ["a", "b", "c"])
            self.assertEqual(got, {"a": 100.5, "b": 102.0, "c": 103.0})

    def test_uncommitted_chunk_is_none(self):
        with tempfile.TemporaryDirectory() as d:
            root = Path(d)
            q1 = self.checkpoint(root, "q1", {0: ["a"], 1: ["b"]}, {0: 10.0, 1: 11.0})
            # q2 planned batch 1 (b is in its file log) but never committed it,
            # and never saw c at all.
            q2 = self.checkpoint(root, "q2", {0: ["a"], 1: ["b"]}, {0: 10.5})
            got = run.chunk_commits([q1, q2], ["a", "b", "c"])
            self.assertEqual(got, {"a": 10.5, "b": None, "c": None})


class SelfTime(unittest.TestCase):
    def test_overlapping_and_overhanging_children(self):
        span = {"start_us": 0, "end_us": 100}
        kids = [{"start_us": 10, "end_us": 30}, {"start_us": 20, "end_us": 40},
                {"start_us": 90, "end_us": 120}]
        self.assertEqual(run.self_time_us(span, kids), 100 - 30 - 10)
        self.assertEqual(run.self_time_us(span, []), 100)


if __name__ == "__main__":
    unittest.main()
