"""Unit tests of the benchmark's pure helpers.

    python3 -m unittest discover -s perfbench/tests
"""
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import fold  # noqa: E402


def span(sid, parent, t0, t1, layer="Dedup", op=False):
    return {"e": "span", "id": sid, "parent": parent, "layer": layer, "name": sid,
            "t0": t0, "t1": t1, "ok": True, "op": op}


class TailTest(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(fold.tail(list(range(19))))
        p, v, n = fold.tail(list(range(1, 21)))
        self.assertEqual((p, v, n), (50.0, 10, 20))

    def test_picks_highest_percentile_with_ten_beyond(self):
        xs = list(range(1, 1001))
        p, v, n = fold.tail(xs)
        self.assertEqual(p, 99.0)          # 10 samples above p99 of 1000
        self.assertEqual(v, 990)
        self.assertEqual(n, 1000)
        p, v, _ = fold.tail(list(range(1, 201)))
        self.assertEqual((p, v), (95.0, 190))

    def test_order_does_not_matter(self):
        xs = [5, 1, 9, 3, 7] * 10
        self.assertEqual(fold.tail(xs), fold.tail(sorted(xs)))


class AttributionTest(unittest.TestCase):
    def events(self):
        return [
            span("s1", "", 0.0, 10.0, op=True),
            span("s2", "s1", 2.0, 4.0, layer="TextAnalysis"),
            # set-up job without a group, and one under another span
            {"e": "job", "job": 0, "group": "", "exec": "", "t": 0.0, "stages": [0]},
            {"e": "job", "job": 1, "group": "s1", "exec": "7", "t": 1.0, "stages": [1, 2]},
            {"e": "job", "job": 2, "group": "s2", "exec": "8", "t": 2.5, "stages": [3]},
            # a later job lists an already-run stage: it stays with job 1
            {"e": "job", "job": 3, "group": "s2", "exec": "8", "t": 3.0, "stages": [2, 4]},
            {"e": "job_end", "job": 1, "t": 1.5, "ok": True},
            {"e": "job_end", "job": 2, "t": 3.0, "ok": True},
            {"e": "stage", "stage": 0, "attempt": 0, "task_s": 9.0, "shuffle_write": 9,
             "shuffle_read": 0, "input": 9},
            {"e": "stage", "stage": 1, "attempt": 0, "task_s": 1.0, "shuffle_write": 100,
             "shuffle_read": 0, "input": 10},
            {"e": "stage", "stage": 2, "attempt": 0, "task_s": 2.0, "shuffle_write": 0,
             "shuffle_read": 100, "input": 0},
            {"e": "stage", "stage": 3, "attempt": 0, "task_s": 0.5, "shuffle_write": 5,
             "shuffle_read": 0, "input": 0},
            {"e": "stage", "stage": 4, "attempt": 0, "task_s": 0.25, "shuffle_write": 0,
             "shuffle_read": 0, "input": 0},
            {"e": "plan", "exec": "7", "doc_scans": 2},
            {"e": "plan", "exec": "8", "doc_scans": 1},
        ]

    def test_jobs_stages_and_plans_follow_the_group(self):
        own = fold.attribute(self.events())
        self.assertEqual(own["s1"]["jobs"], 1)
        self.assertEqual(own["s1"]["task_s"], 3.0)
        self.assertEqual(own["s1"]["shuffle_write"], 100)
        self.assertEqual(own["s1"]["input"], 10)
        self.assertEqual(own["s1"]["doc_scans"], 2)
        self.assertEqual(own["s2"]["jobs"], 2)
        self.assertEqual(own["s2"]["task_s"], 0.75)
        self.assertEqual(own["s2"]["doc_scans"], 1)

    def test_timing_does_not_matter(self):
        ev = self.events()
        ev.reverse()     # events delivered in another order still attribute the same
        self.assertEqual(fold.attribute(ev), fold.attribute(self.events()))

    def test_unfinished_jobs_are_reported(self):
        own = fold.attribute(self.events())
        self.assertEqual(own["s1"]["open_jobs"], 0)
        self.assertEqual(own["s2"]["open_jobs"], 1)   # job 3 never ended

    def test_self_time_subtracts_children(self):
        s1, s2 = self.events()[0], self.events()[1]
        late = span("s3", "s1", 3.0, 12.0)   # overlaps s2, runs past s1's end
        self.assertAlmostEqual(fold.self_time(s1, [s2, late]), 10.0 - 8.0)

    def test_storage_peak_within_interval(self):
        tl = fold.storage_timeline([
            {"e": "block", "id": "rdd_1_0", "t": 1.0, "bytes": 100},
            {"e": "block", "id": "rdd_1_1", "t": 2.0, "bytes": 50},
            {"e": "block", "id": "rdd_1_0", "t": 3.0, "bytes": 0},
            {"e": "block", "id": "rdd_2_0", "t": 5.0, "bytes": 500},
        ])
        self.assertEqual(fold.storage_peak(tl, 0.0, 4.0), 150)
        self.assertEqual(fold.storage_peak(tl, 3.5, 4.0), 50)   # held from before
        self.assertEqual(fold.storage_peak(tl, 0.0, 9.0), 550)


class FoldTest(unittest.TestCase):
    def stream_events(self):
        env = {"e": "env", "workload": "ingest_stream", "jvm_start": 0.0, "session_s": 3.0}
        gen = [dict(span(f"g{r}", "", 4.0 + 3 * r, d, layer="gen"), rep=r)
               for r, d in enumerate([9.0, 8.0, 12.0])]   # reps of 5, 1 and 2 s
        ticks = []
        for k, (t0, t1) in enumerate([(20.0, 24.0), (30.0, 31.0), (40.0, 41.5)]):
            ticks.append(span(f"t{k}", "", t0, t1, layer="Ingest.curate", op=True))
        ops = [{"e": "op", "name": f"tick {k}", "layer": "Ingest", "pass": 0,
                "due": 20.0 + 10 * k, "t0": 20.0 + 10 * k, "t1": s["t1"],
                "cdc_t1": s["t0"], "cpu_s": 1.0, "ok": True} for k, s in enumerate(ticks)]
        phases = [{"e": "phase", "name": "run", "t": 20.0},
                  {"e": "phase", "name": "check", "t": 45.0}]
        return [env] + gen + ticks + ops + phases

    def test_stream_wall_is_drain_time(self):
        m, _, _ = fold.fold(self.stream_events())
        self.assertAlmostEqual(m["wall_s"][0], 4.0 + 1.0 + 1.5)   # not 41.5 - 20
        self.assertAlmostEqual(m["busy_frac"][0], 6.5 / 21.5)

    def test_setup_counts_the_median_repetition(self):
        m, layers, _ = fold.fold(self.stream_events())
        self.assertAlmostEqual(m["setup_s"][0], 20.0 - (5 + 1 + 2) + 2)
        self.assertAlmostEqual(layers["gen.busy_s"], 2.0)

    def test_failed_check_fails_its_pass_only(self):
        ev = [{"e": "env", "workload": "batch", "jvm_start": 0.0, "session_s": 1.0},
              {"e": "phase", "name": "run", "t": 1.0}, {"e": "phase", "name": "check", "t": 9.0}]
        for p in (0, 1):
            ev.append({"e": "op", "name": "Curate.run", "layer": "Curate", "pass": p,
                       "due": 1.0 + p, "t0": 1.0 + p, "t1": 2.0 + p, "cpu_s": 1.0, "ok": True})
        ev.append({"e": "check", "name": "Curate.run#1", "ok": False, "detail": ""})
        m, _, d = fold.fold(ev)
        self.assertEqual(d["failed"], 1)
        self.assertEqual(m["failed_frac"][0], 0.5)
        _, _, d = fold.fold(ev, failed_checks=["Curate.run"])   # an oracle row fails every pass
        self.assertEqual(d["failed"], 2)


class DigestTest(unittest.TestCase):
    def test_order_insensitive(self):
        a = [(1, "x", 0.5), (2, None, 1.0)]
        self.assertEqual(fold.digest(a), fold.digest(list(reversed(a))))

    def test_strict_values(self):
        self.assertNotEqual(fold.digest([(1.0,)]), fold.digest([(1,)]))
        self.assertNotEqual(fold.digest([(0.1 + 0.2,)]), fold.digest([(0.3,)]))
        self.assertEqual(fold.digest([(None,)]), fold.digest([(float("nan"),)]))

    def test_counts_duplicates(self):
        self.assertNotEqual(fold.digest([(1,), (1,)]), fold.digest([(1,)]))
        self.assertEqual(fold.digest([(1,), (1,)])[0], 2)


if __name__ == "__main__":
    unittest.main()
