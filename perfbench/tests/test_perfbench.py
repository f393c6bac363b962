"""Tests of the benchmark's own logic. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import pandas as pd            # noqa: E402
import pyarrow.parquet as pq   # noqa: E402

import gen                     # noqa: E402
import metrics                 # noqa: E402
import oracle                  # noqa: E402


class TailPercentile(unittest.TestCase):
    def test_ten_samples_beyond(self):
        xs = list(range(1, 41))              # 40 samples
        pct, v = metrics.tail_percentile(xs)
        self.assertEqual(pct, 75.0)
        self.assertEqual(v, 30)
        self.assertEqual(sum(1 for x in xs if x > v), 10)

    def test_capped_at_p90(self):
        xs = list(range(1, 201))             # p95 would qualify
        pct, v = metrics.tail_percentile(xs)
        self.assertEqual(pct, 90.0)
        self.assertEqual(v, 180)
        self.assertGreaterEqual(sum(1 for x in xs if x > v), 10)

    def test_order_does_not_matter(self):
        xs = [5, 1, 4, 2, 3] * 6
        self.assertEqual(metrics.tail_percentile(xs),
                         metrics.tail_percentile(sorted(xs)))

    def test_too_few_samples(self):
        # with under 20 samples any percentile with ten beyond it lies
        # below the median
        self.assertEqual(metrics.tail_percentile([1.0] * 10), (None, None))
        self.assertEqual(metrics.tail_percentile(list(range(19))), (None, None))
        self.assertEqual(metrics.tail_percentile(list(range(20))), (50.0, 9))


class CallMedians(unittest.TestCase):
    def calls(self, passes):
        # 30 distinct calls; call k takes k seconds, plus 0.5 s in pass 1
        return [{"pass": p, "key": f"k{k}", "total_s": k + 0.5 * (p == 1)}
                for p in passes for k in range(30)]

    def test_tail_does_not_depend_on_pass_count(self):
        one = metrics.call_medians(self.calls([0]))
        three = metrics.call_medians(self.calls([0, 1, 2]))
        self.assertEqual(len(one), len(three))
        self.assertEqual(metrics.tail_percentile(one), metrics.tail_percentile(three))

    def test_warm_up_calls_are_not_timed(self):
        raw = {"calls": self.calls([-1, 0])}
        timed = metrics.timed_calls(raw)
        self.assertEqual(len(timed), 30)
        self.assertTrue(all(c["pass"] == 0 for c in timed))


def span(i, kind, start_us, end_us, parent=0):
    return {"id": i, "parent": parent, "kind": kind, "name": kind,
            "start_us": start_us, "end_us": end_us}


class Attribution(unittest.TestCase):
    spans = [
        span(1, "call", 1_000_000, 1_900_000),
        span(2, "construct", 1_000_000, 1_200_400, parent=1),
        span(3, "plan", 1_200_400, 1_300_000, parent=1),
        span(4, "execute", 1_300_000, 1_900_000, parent=1),
    ]

    def job(self, i, submit_ms, end_ms=-1):
        return {"id": i, "submit_ms": submit_ms, "end_ms": end_ms,
                "details": "", "stages": []}

    def test_by_submission_time(self):
        jobs = [self.job(1, 1100), self.job(2, 1350), self.job(3, 1899)]
        owner = metrics.attribute(jobs, self.spans)
        self.assertEqual([owner[j]["kind"] for j in (1, 2, 3)],
                         ["construct", "execute", "execute"])

    def test_event_order_is_irrelevant(self):
        # the bus may deliver a call's job events after the call returned:
        # only the timestamp on the event counts, not arrival order
        jobs = [self.job(3, 1899), self.job(1, 1100)]
        owner = metrics.attribute(jobs, self.spans)
        self.assertEqual(owner[1]["kind"], "construct")
        self.assertEqual(owner[3]["kind"], "execute")

    def test_millisecond_boundary_prefers_later_phase(self):
        # submitted during ms 1200, which both construct (to 1200.4) and
        # plan (from 1200.4) overlap: the innermost, latest-starting wins
        owner = metrics.attribute([self.job(1, 1200)], self.spans)
        self.assertEqual(owner[1]["kind"], "plan")

    def test_outside_every_phase(self):
        owner = metrics.attribute([self.job(1, 500), self.job(2, 2500)], self.spans)
        self.assertIsNone(owner[1])
        self.assertIsNone(owner[2])

    def test_self_time_subtracts_children_and_jobs(self):
        jobs = [self.job(1, 1400, end_ms=1600), self.job(2, 1500, end_ms=1700)]
        owner = metrics.attribute(jobs, self.spans)
        selfs = metrics.self_times(self.spans, jobs, owner)
        self.assertAlmostEqual(selfs[1], 0.0)              # phases tile the call
        self.assertAlmostEqual(selfs[4], 0.6 - 0.3)        # jobs cover 1400..1700


class Classification(unittest.TestCase):
    def detail(self, *frames):
        return "\n".join(frames)

    def test_first_graft_frame_decides(self):
        d = self.detail(
            "org.apache.spark.sql.Dataset.collect(Dataset.scala:1)",
            "graft.ops.Materialize$.collectIfDriverSized(Materialize.scala:74)",
            "graft.ext.Dedup$.minHashPairs(Dedup.scala:10)")
        self.assertEqual(metrics.classify(d), "ops.materialize")

    def test_layers(self):
        cases = {
            "graft.io.Tables$.table(Tables.scala:19)": "io",
            "graft.ops.Layout$.ensureDerived(Layout.scala:300)": "ops.layout",
            "graft.ops.Joins$.withCount(Joins.scala:30)": "operators",
            "graft.ext.Search$.bm25(Search.scala:5)": "operators",
            "graft.queries.Marketplace$.adsSearch(Marketplace.scala:56)": "operators",
            "graft.streaming.CorpusIngest$.ingestEdges(CorpusIngest.scala:1042)": "streaming",
        }
        for frame, layer in cases.items():
            self.assertEqual(metrics.classify("x\n" + frame), layer, frame)

    def test_no_graft_frame(self):
        self.assertEqual(metrics.classify(
            "org.apache.spark.sql.DataFrameWriter.save(DataFrameWriter.scala:1)\n"
            "perfbench.Bench.timeRead(Main.scala:160)"), "sink")
        self.assertEqual(metrics.classify(
            "java.util.concurrent.CompletableFuture$AsyncSupply.run"), "unattributed")
        self.assertEqual(metrics.classify(""), "unattributed")


class Digest(unittest.TestCase):
    def frame(self):
        return pd.DataFrame({"b": [1.5, float("nan"), 3.0], "a": [3, 2, 1],
                             "s": ["x", None, "z"]})

    def test_deterministic_and_column_order_free(self):
        f = self.frame()
        self.assertEqual(oracle.digest(f), oracle.digest(self.frame()))
        self.assertEqual(oracle.digest(f), oracle.digest(f[["s", "a", "b"]]))

    def test_sensitive_to_values_rows_and_kinds(self):
        base = oracle.digest(self.frame())
        changed = self.frame()
        changed.loc[0, "b"] = 1.5000000001
        self.assertNotEqual(base, oracle.digest(changed))
        self.assertNotEqual(base, oracle.digest(self.frame().iloc[::-1]))
        kinds = self.frame()
        kinds["a"] = kinds["a"].astype(float)
        self.assertNotEqual(base, oracle.digest(kinds))

    def test_compare_reports_mismatch(self):
        got, exp = self.frame(), self.frame()
        self.assertEqual(oracle.compare(got, exp[["s", "b", "a"]]), "")
        exp.loc[2, "s"] = "y"
        self.assertIn("mismatched", oracle.compare(got, exp))

    def test_generated_inputs_follow_the_seed(self):
        def digests(seed, shards):
            with tempfile.TemporaryDirectory() as d:
                gen.generate(d, seed, 0.01, shards=shards)
                out = {}
                for root, _, files in os.walk(d):
                    for f in files:
                        path = os.path.join(root, f)
                        out[os.path.relpath(path, d)] = oracle.digest(
                            pq.read_table(path).to_pandas())
                return out
        a, b = digests(7, 2), digests(7, 2)
        self.assertEqual(a, b)
        self.assertNotEqual(a, digests(8, 2))
        self.assertIn(os.path.join("shards", "01", "lineitem.parquet"), a)


if __name__ == "__main__":
    unittest.main()
