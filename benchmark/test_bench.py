"""Tests of the benchmark itself.

    python3 -m unittest discover -s benchmark -p 'test_*.py'

The statistics and input tests are instant. The smoke tests build the
engine and run each workload once on inputs cut from the sf0.001 extract,
about a minute each; set GRAFTBENCH_SKIP_SMOKE=1 to skip them.
"""
import contextlib
import io
import json
import os
import unittest

import inputs
import run


def span(id_, name, parent, start, end, round_=0, **counters):
    return {"id": id_, "name": name, "parent": parent, "round": round_,
            "start_us": start, "end_us": end, "counters": counters}


class TailRule(unittest.TestCase):
    def test_needs_more_than_ten_samples(self):
        self.assertIsNone(run.tail(list(range(10))))
        self.assertEqual(run.tail(list(range(11))), (100.0 * 1 / 11, 0))

    def test_ten_samples_beyond_the_reported_one(self):
        xs = [float(x) for x in range(100, 0, -1)]  # unsorted input
        pct, v = run.tail(xs)
        self.assertEqual(pct, 90.0)
        self.assertEqual(sum(1 for x in xs if x > v), 10)
        pct, v = run.tail(list(range(20)))
        self.assertEqual((pct, v), (50.0, 9))


class SelfTime(unittest.TestCase):
    def test_children_are_subtracted_once_where_they_overlap(self):
        spans = [span(0, "round", -1, 0, 100_000_000),
                 span(1, "a", 0, 10_000_000, 30_000_000),
                 span(2, "b", 0, 20_000_000, 50_000_000),   # overlaps a
                 span(3, "c", 0, 60_000_000, 70_000_000),
                 span(4, "d", 3, 61_000_000, 62_000_000)]   # grandchild
        st = run.self_times(spans)
        self.assertAlmostEqual(st[0], 100 - 40 - 10)
        self.assertAlmostEqual(st[1], 20)
        self.assertAlmostEqual(st[3], 10 - 1)
        self.assertAlmostEqual(st[4], 1)

    def test_child_outside_the_parent_is_clipped(self):
        spans = [span(0, "p", -1, 0, 10_000_000), span(1, "c", 0, 8_000_000, 15_000_000)]
        self.assertAlmostEqual(run.self_times(spans)[0], 8)

    def test_layer_metrics_use_self_time_and_zero_for_unused_layers(self):
        raw = {"samples": {"round_traced": [1.0], "round_untraced": [0.9]},
               "spans": [span(0, "cdc_serve.round", -1, 0, 4_000_000, **{"spark.exec_run_s": 0.5}),
                         span(1, "olap.status", 0, 1_000_000, 3_000_000,
                              **{"spark.tasks": 8.0, "spark.exec_run_s": 1.0}),
                         span(2, "queries.plan", 1, 1_000_000, 1_500_000)]}
        m = run.layer_metrics(raw, cores=4)
        self.assertEqual(set(m), set(run.PER_LAYER))
        self.assertAlmostEqual(m["olap.status_s"], 1.5)
        self.assertAlmostEqual(m["queries.plan_s"], 0.5)
        self.assertAlmostEqual(m["olap.status.spark_busy_frac"], 1.0 / (2.0 * 4))
        self.assertAlmostEqual(m["spark.busy_frac"], 1.5 / (4.0 * 4))
        self.assertEqual(m["ops.minhash_lsh_s"], 0.0)
        self.assertEqual(m["trace.traced_round_s"], 1.0)


class Inputs(unittest.TestCase):
    def test_same_seed_same_tables_other_seed_other_window(self):
        src = inputs.DATA["sf0.001"]
        (a, wa), (b, wb), (c, wc) = (inputs.tables(s, src) for s in (7, 7, 8))
        self.assertEqual(wa, wb)
        for name in a:
            self.assertTrue(a[name].equals(b[name]), name)
        self.assertNotEqual(wa, wc)

    def test_only_orders_lineitem_and_documents_are_cut(self):
        src = inputs.DATA["sf0.1"]
        ts, (first, end) = inputs.tables(3, src)
        self.assertEqual((end - first).days, inputs.DAYS)
        days = {d.date() for d in ts["orders"]["o_orderdate"].to_pylist()}
        self.assertTrue(all(first <= d < end for d in days))
        self.assertEqual(len(days), inputs.DAYS)
        keys = set(ts["orders"]["o_orderkey"].to_pylist())
        self.assertLessEqual(set(ts["lineitem"]["l_orderkey"].to_pylist()), keys)
        whole = inputs.pq.read_table(f"{src}/lineitem.parquet")
        self.assertEqual(ts["lineitem"].num_rows, sum(
            1 for k in whole["l_orderkey"].to_pylist() if k in keys))
        for name in ("customer", "part", "events"):
            self.assertTrue(ts[name].equals(inputs.pq.read_table(f"{src}/{name}.parquet")))
        docs = ts["documents"].to_pylist()
        self.assertEqual(len(docs), inputs.DOCS)
        ids = [d["doc_id"] for d in docs]
        self.assertEqual(ids, sorted(ids))
        whole = {d["doc_id"]: d for d in inputs.pq.read_table(f"{src}/documents.parquet").to_pylist()}
        self.assertTrue(all(whole[d["doc_id"]] == d for d in docs))


@unittest.skipIf(os.environ.get("GRAFTBENCH_SKIP_SMOKE"), "smoke runs skipped")
class Smoke(unittest.TestCase):
    def result(self, *args):
        out = io.StringIO()
        with contextlib.redirect_stdout(out):
            run.main(["--data", "sf0.001", "--seconds", "0", *args])
        lines = out.getvalue().strip().splitlines()
        last = json.loads(lines[-1])
        self.assertEqual(set(last), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(last["correct"])
        self.assertEqual(last["failed"], 0)
        self.assertGreaterEqual(last["attempted"], 1)
        return last, json.loads(lines[-2])["detail"]

    def test_cdc_serve(self):
        last, det = self.result("--workload", "cdc_serve", "--seed", "5", "--trace", "0")
        self.assertEqual(set(last["metrics"]), {k for k, _ in run.END_TO_END})
        self.assertTrue(all(v["value"] > 0 for v in last["metrics"].values()))
        self.assertGreater(det["cdc_over_full"], 0)

    def test_cdc_serve_traced(self):
        last, _ = self.result("--workload", "cdc_serve", "--seed", "6", "--trace", "1")
        m = {k: v["value"] for k, v in last["metrics"].items()}
        self.assertEqual(set(m), set(run.PER_LAYER))
        for k in ("sources.fact_open_tasks", "olap.rows_rewritten", "olap.dims_build_s",
                  "sources.fact_files", "streaming.scd1_merge_s", "sources.read_files"):
            self.assertGreater(m[k], 0, k)
        self.assertEqual(m["ops.minhash_lsh_s"], 0.0)

    def test_curation_matches_the_registry_entry(self):
        # seed 0 selects residue 0 and target src0, the corpus_roundtrip
        # registry entry's parameters, so the run also checks against it
        last, det = self.result("--workload", "curation", "--seed", "0", "--trace", "0")
        self.assertEqual((det["residue"], det["target"]), (0, "src0"))
        self.assertIn("ladder_equals_corpus_roundtrip", det["check_names"])


if __name__ == "__main__":
    unittest.main()
