"""Tests of the benchmark's own code (no JVM needed).

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import json
import statistics
import tempfile
import unittest
from datetime import datetime
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

import checks
import stats
import tables

BENCH = Path(__file__).resolve().parent


def job(wall, traced=False, **kw):
    j = {"traced": traced, "wall_s": wall, "cpu_s": wall / 2, "out_bytes": 2000,
         "gc_s": 0.5, "jit_s": 3.0, "tasks": 40, "task_retries": 0, "spill_mb": 0.0,
         "spans": {}, "extras": {}}
    j.update(kw)
    return j


class StatsTest(unittest.TestCase):
    def test_median_counts_every_sample(self):
        self.assertEqual(stats.median([3.0, 1.0, 2.0]), 2.0)
        self.assertEqual(stats.median([4.0, 1.0, 2.0, 3.0]), 2.5)
        with self.assertRaises(ValueError):
            stats.median([])

    def test_spread_uses_statistics_quartiles(self):
        values = [10.0, 10.4, 9.8, 10.1, 10.9, 9.7, 10.2, 10.0, 10.3, 9.9]
        q1, q2, q3 = statistics.quantiles(values, n=4)
        self.assertAlmostEqual(stats.spread(values), (q3 - q1) / q2)
        self.assertEqual(stats.spread([2.0] * 10), 0.0)

    def test_percentile_interpolates_between_samples(self):
        values = [float(v) for v in range(1, 11)]
        self.assertEqual(stats.percentile(values, 50), statistics.median(values))
        self.assertAlmostEqual(stats.percentile(values, 90),
                               statistics.quantiles(values, n=10, method="inclusive")[8])
        self.assertEqual(stats.percentile([3.0], 90), 3.0)
        with self.assertRaises(ValueError):
            stats.percentile([], 50)

    def test_slot_util(self):
        # 10.9 CPU-s over 21.0 s of execution on 4 slots
        self.assertAlmostEqual(stats.slot_util(10.9, 21.0), 10.9 / 84.0)
        self.assertEqual(stats.slot_util(1.0, 0.0), 0.0)

    def test_write_amp(self):
        self.assertEqual(stats.write_amp(3000, 1000), 3.0)
        with self.assertRaises(ValueError):
            stats.write_amp(10, 0)

    def test_task_skew(self):
        self.assertEqual(stats.task_skew([10, 20, 30, 200]), 200 / 25)
        # sub-millisecond medians are floored at Spark's 1 ms resolution
        self.assertEqual(stats.task_skew([0, 0, 0, 5]), 5.0)
        self.assertEqual(stats.task_skew([]), 0.0)

    def test_end_to_end_medians_over_untraced_jobs(self):
        run = {"records": 200, "session_s": 6.0, "warmup_s": 20.0, "peak_rss_mb": 900.0,
               "jobs": [job(10.0), job(12.0), job(14.0), job(99.0, traced=True)]}
        m = stats.end_to_end(run)
        self.assertEqual(m["job_wall_s"], 12.0)
        self.assertEqual(m["throughput_per_s"], 200 / 12.0)
        self.assertEqual(m["job_cpu_s"], 6.0)
        self.assertEqual(m["setup_s"], 26.0)
        self.assertEqual(set(m), set(stats.END_TO_END))

    def test_untraced_metrics(self):
        run = {"jobs": [job(10.0, extras={"query_s": [1.0, 2.0, 3.0]}),
                        job(12.0, out_bytes=4000, extras={"query_s": [4.0, 5.0, 6.0]}),
                        job(14.0, extras={"query_s": [7.0, 8.0, 9.0]}),
                        job(99.0, traced=True, out_bytes=0, extras={"query_s": [99.0]})]}
        m = stats.untraced(run, input_bytes=1000)
        self.assertEqual(m["write_amp"], 2.0)
        self.assertEqual(m["query_p50_s"], 5.0)  # 9 samples, traced job left out
        self.assertAlmostEqual(m["query_p90_s"], 8.2)
        m = stats.untraced({"jobs": [job(10.0)]}, input_bytes=1000)
        self.assertEqual((m["query_p50_s"], m["query_p90_s"]), (0.0, 0.0))

    def test_per_layer_from_traced_jobs(self):
        spans = {"fhir.facts": {"wall_s": 1.5, "cpu_s": 0.5, "tasks": 7,
                                "jobs": 7, "shuffle_mb": 0.0, "task_ms": [1]},
                 "ext.semdedup": {"wall_s": 2.0, "cpu_s": 1.0, "tasks": 4, "jobs": 2,
                                  "shuffle_mb": 0.1, "task_ms": [2, 2, 4, 40]}}
        jobs = [job(10.0, jit_s=5.0), job(11.0, traced=True, spans=spans,
                                          extras={"fhir.bundles_skipped": 3}),
                job(10.4, jit_s=1.0), job(11.2, traced=True, spans=spans)]
        m = stats.per_layer({"jobs": jobs, "session_s": 6.0, "warmup_s": 20.0,
                             "peak_rss_mb": 900.0}, input_bytes=1000)
        self.assertEqual(set(m), set(stats.PER_LAYER))
        self.assertEqual(m["fhir.facts.wall_s"], 1.5)
        self.assertEqual(m["fhir.facts.jobs"], 7)
        self.assertEqual(m["fhir.bundles_skipped"], 1.5)  # median of 3 and 0
        self.assertEqual(m["ext.semdedup.task_skew"], 40 / 3)
        self.assertEqual(m["ext.scrub.wall_s"], 0)  # a span the job never opened
        self.assertAlmostEqual(m["trace.overhead_s"], 11.1 - 10.2)
        self.assertEqual(m["runtime.jit_s"], 3.0)
        self.assertEqual(m["runtime.peak_rss_mb"], 900.0)
        self.assertEqual(m["runtime.session_s"], 6.0)
        self.assertEqual(m["write_amp"], 2.0)

    def test_query_metrics_sum_the_plan_and_exec_spans(self):
        def totals(wall, cpu, jobs):
            return {"wall_s": wall, "cpu_s": cpu, "tasks": 2 * jobs, "jobs": jobs,
                    "shuffle_mb": 0.5, "task_ms": [1]}
        spans = {"queries.plan": totals(0.5, 0.0, 0), "queries.exec": totals(2.0, 4.0, 12)}
        jobs = [job(3.0), job(3.1, traced=True, spans=spans),
                job(3.2, traced=True, spans=spans), job(2.9)]
        m = stats.per_layer({"jobs": jobs, "session_s": 6.0, "peak_rss_mb": 900.0},
                            input_bytes=1000)
        self.assertEqual(m["queries.plan_s"], 0.5)
        self.assertEqual(m["queries.exec_s"], 2.0)
        self.assertEqual(m["queries.cpu_s"], 4.0)
        self.assertEqual(m["queries.jobs"], 12)
        self.assertEqual(m["queries.shuffle_mb"], 1.0)
        self.assertEqual(m["queries.slot_util"], 4.0 / (2.0 * 4))

    def test_benchmark_json_names_the_metrics_run_py_prints(self):
        spec = json.loads((BENCH.parent / "BENCHMARK.json").read_text())
        self.assertEqual({m["name"]: (m["unit"], m["better"]) for m in spec["end_to_end"]},
                         stats.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]}, stats.PER_LAYER)


def write(path, table):
    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(table, path)


SNOMED = "http://snomed.info/sct"


def bundle(i, city, gender, codes, deceased=False):
    """A bundle shaped like `GenBundles.bundleJson`'s."""
    patient = {"resourceType": "Patient", "gender": gender, "birthDate": "1950-01-01",
               "address": [{"city": city, "postalCode": "01000"}]}
    if deceased:
        patient["deceasedBoolean"] = True
    entry = [{"fullUrl": f"urn:uuid:p{i}", "resource": patient}]
    entry += [{"fullUrl": f"urn:uuid:c{i}-{k}", "resource": {
        "resourceType": "Condition", "code": {"coding": [{"system": SNOMED, "code": c}]},
        "subject": {"reference": f"urn:uuid:p{i}"}}} for k, c in enumerate(codes)]
    entry.append({"fullUrl": f"urn:uuid:e{i}-0", "resource": {
        "resourceType": "Encounter", "status": "finished",
        "subject": {"reference": f"urn:uuid:p{i}"}}})
    return {"resourceType": "Bundle", "type": "transaction", "entry": entry}


def fhir_data(dest):
    """Bundles, malformed files and dims like the harness's `FhirIngest`."""
    bundles = [bundle(0, "Springfield", "male", ["44054006", "10509002"]),
               bundle(1, "Agawam", "female", ["195662009", "271737000"]),
               bundle(2, "Quincy", "female", ["38341003"], deceased=True),
               bundle(3, "Springfield", "female", ["38341003"])]
    for i, b in enumerate(bundles):
        path = dest / "bundles" / f"shard{i % 2}" / f"b{i}.json"
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(b))
    (dest / "bundles" / "shard0" / "bad-text.json").write_text("not a bundle\n")
    (dest / "bundles" / "shard0" / "bad-noentry.json").write_text(
        '{"resourceType": "Bundle", "type": "transaction"}')
    write(dest / "cousub.parquet" / "part-0.parquet", pa.table({
        "cs_name": ["Springfield", "Agawam Town", "Quincy"],
        "ct_fips": ["25013", "25013", "25021"],
        "cs_fips": ["2501367000", "2501300840", "2502155745"]}))
    write(dest / "disease.parquet" / "part-0.parquet", pa.table({
        "code_system": [SNOMED, SNOMED, SNOMED, SNOMED, "icd-10"],
        "code": ["44054006", "38341003", "195662009", "10509002", "271737000"],
        "condition_id": pa.array([1, 2, 3, 4, 5], pa.int32()),
        "disease_id": pa.array([10, 20, None, 10, 50], pa.int32())}))
    return dest


class FhirCheckTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.dir = Path(self.tmp.name)
        self.expected = checks.fhir_expected(fhir_data(self.dir / "data"))
        self.job = self.dir / "job"
        for coll, n in self.expected["collections"].items():
            write(self.job / "resources" / f"collection={coll}" / "part-0.parquet",
                  pa.table({"x": list(range(n))}))
        write(self.job / "rawstat" / "part-0.parquet",
              pa.table({"x": list(range(self.expected["rawstat"]))}))
        for table, cols in checks.FACT_COLUMNS.items():
            self.write_facts(table, cols, self.expected[table])

    def tearDown(self):
        self.tmp.cleanup()

    def write_facts(self, table, cols, rows):
        names = [c.strip() for c in cols.split(",")]
        write(self.job / table / "part-0.parquet",
              pa.table({n: [r[i] for r in rows] for i, n in enumerate(names)}))

    def test_expected_outputs_follow_the_reference_semantics(self):
        self.assertEqual(self.expected["rawstat"], 4)  # malformed files skipped
        self.assertEqual(self.expected["collections"],
                         {"patients": 4, "conditions": 6, "encounters": 4})
        # the deceased patient is left out; ' Town' is stripped from the dim
        self.assertEqual(self.expected["synth_pop_facts"], [
            ("2501300840", 1, 1, 0, 1), ("2501367000", 1, 2, 1, 1)])
        # two codes share disease 10; NULL (-999) and the icd-10 miss drop out
        self.assertEqual(self.expected["synth_disease_facts"], [
            ("2501367000", 10, 1, 1, 1, 0), ("2501367000", 20, 1, 1, 0, 1)])
        self.assertEqual([r[1] for r in self.expected["synth_condition_facts"]], [3, 1, 2, 4])

    def test_correct_output_passes(self):
        self.assertEqual(checks.check_fhir(self.job, self.expected), [])

    def test_corrupted_fact_table_fails(self):
        rows = [list(r) for r in self.expected["synth_condition_facts"]]
        rows[0][3] += 1
        self.write_facts("synth_condition_facts",
                         checks.FACT_COLUMNS["synth_condition_facts"], rows)
        problems = checks.check_fhir(self.job, self.expected)
        self.assertEqual(len(problems), 1)
        self.assertIn("synth_condition_facts", problems[0])

    def test_missing_collection_fails(self):
        (self.job / "resources" / "collection=encounters" / "part-0.parquet").unlink()
        self.assertTrue(checks.check_fhir(self.job, self.expected))


class CorpusCheckTest(unittest.TestCase):
    ROWS = [{"doc_id": i, "source": f"src{i % 3}", "split": ("train", "val")[i % 2],
             "n_tokens": 10 + i, "label": i % 4, "text": f"doc {i}"} for i in range(12)]

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.job = Path(self.tmp.name)
        self.write_shards(self.ROWS)
        totals = {}
        for r in self.ROWS:
            t = totals.setdefault((r["split"], r["source"]), [0, 0])
            t[0] += 1
            t[1] += r["n_tokens"]
        write(self.job / "manifest" / "part-0.parquet", pa.table({
            "split": [k[0] for k in totals], "source": [k[1] for k in totals],
            "n_docs": [v[0] for v in totals.values()],
            "total_tokens": [v[1] for v in totals.values()]}))

    def tearDown(self):
        self.tmp.cleanup()

    def write_shards(self, rows):
        for split in ("train", "val"):
            part = [r for r in rows if r["split"] == split]
            write(self.job / "shards" / f"split={split}" / "part-0.parquet", pa.table(
                {k: [r[k] for r in part] for k in ("doc_id", "source", "n_tokens",
                                                   "label", "text")}))

    def test_correct_output_passes(self):
        self.assertEqual(checks.check_corpus(self.job, self.ROWS), [])

    def test_corrupted_shard_fails(self):
        rows = [dict(r) for r in self.ROWS]
        rows[3]["text"] = "changed"
        self.write_shards(rows)
        self.assertTrue(checks.check_corpus(self.job, self.ROWS))

    def test_dropped_shard_row_fails(self):
        self.write_shards(self.ROWS[:-1])
        self.assertTrue(checks.check_corpus(self.job, self.ROWS))


class TablesTest(unittest.TestCase):
    def test_same_seed_same_tables(self):
        a, b, c = tables.tables(3), tables.tables(3), tables.tables(4)
        self.assertTrue(all(a[t].equals(b[t]) for t in a))
        self.assertFalse(a["lineitem"].equals(c["lineitem"]))

    def test_shapes_the_queries_exercise(self):
        t = {k: v.to_pydict() for k, v in tables.tables(3).items()}
        self.assertTrue(any(n.endswith(" Town") for n in t["nation"]["n_name"]))
        self.assertIn(0, t["part"]["p_size"])
        self.assertLess(len(set(t["orders"]["o_custkey"])), tables.CUSTOMERS)
        self.assertGreaterEqual(max(t["lineitem"]["l_suppkey"]), tables.SUPPLIERS)
        ts = t["events"]["ts"]
        self.assertEqual(len(set(ts)), len(ts))
        self.assertEqual(tables.tables(3)["events"].schema.field("ts").type,
                         pa.timestamp("us"))


class QueriesCheckTest(unittest.TestCase):
    ORACLE = {
        "q08_type_routing": """SELECT l_returnflag, l_linestatus, count(*) AS n
            FROM lineitem GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus""",
        "q12_events_minmax": "SELECT count(*) AS n, min(ts) AS mn, max(ts) AS mx FROM events",
    }

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.dir = Path(self.tmp.name)
        self.data = tables.make(self.dir / "data", seed=3)
        self.check = self.dir / "check"
        self.check.mkdir()
        (self.check / "oracle_sql.json").write_text(json.dumps(self.ORACLE))
        con = checks._views(self.data, checks.QUERY_TABLES)
        for name, sql in self.ORACLE.items():
            (self.check / name).mkdir()
            con.execute(f"COPY ({sql}) TO '{self.check / name / 'part-0.parquet'}'")
        self.expected = checks.queries_expected(self.data, self.check)

    def tearDown(self):
        self.tmp.cleanup()

    def test_correct_results_pass(self):
        self.assertEqual(checks.check_queries_run(self.check, self.expected), [])
        self.assertEqual(checks.check_pass({"q08_type_routing": 6, "q12_events_minmax": 1},
                                           self.expected), [])

    def test_changed_result_fails(self):
        write(self.check / "q12_events_minmax" / "part-0.parquet", pa.table({
            "n": pa.array([tables.EVENTS], pa.int64()),
            "mn": pa.array([datetime(2024, 1, 1)], pa.timestamp("us")),
            "mx": pa.array([datetime(2024, 2, 1)], pa.timestamp("us"))}))
        problems = checks.check_queries_run(self.check, self.expected)
        self.assertEqual(len(problems), 1)
        self.assertIn("q12_events_minmax", problems[0])

    def test_wrong_type_fails(self):
        rows = self.expected["q08_type_routing"]
        write(self.check / "q08_type_routing" / "part-0.parquet", pa.table({
            "l_linestatus": rows["l_linestatus"].tolist(),
            "l_returnflag": rows["l_returnflag"].tolist(),
            "n": pa.array(rows["n"].tolist(), pa.int32())}))
        self.assertTrue(checks.check_queries_run(self.check, self.expected))

    def test_pass_that_counted_other_rows_fails(self):
        self.assertTrue(checks.check_pass({"q08_type_routing": 5, "q12_events_minmax": 1},
                                          self.expected))
        self.assertTrue(checks.check_pass({"q08_type_routing": 6}, self.expected))


if __name__ == "__main__":
    unittest.main()
