"""Unit tests for the benchmark's own arithmetic. From the repository root:

    python3 -m unittest discover -s framesbench -p 'test_*.py'
"""
import importlib.util
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import benchlib  # noqa: E402

COMPARE_ORACLE = os.path.join(HERE, "..", "tools", "compare_oracle.py")


def span(id_, kind, parent, start, end, **counts):
    return {"id": id_, "kind": kind, "name": f"{kind}{id_}", "parent": parent,
            "start_ms": start, "end_ms": end, "counts": counts}


class Intervals(unittest.TestCase):
    def test_union_of_overlapping_nested_and_touching(self):
        self.assertEqual(benchlib.union_length([(10, 30), (20, 50), (25, 26), (50, 60)]), 50)
        self.assertEqual(benchlib.union_length([]), 0)

    def test_driver_self_time_from_overlapping_jobs(self):
        # pass [0, 100]; jobs overlap, one sticks out past the pass end
        jobs = [(10, 30), (20, 50), (60, 70), (95, 120)]
        # covered: [10, 50] + [60, 70] + [95, 100] = 55
        self.assertEqual(benchlib.self_time(0, 100, jobs), 45)

    def test_self_time_without_children_is_the_span(self):
        self.assertEqual(benchlib.self_time(5, 9, []), 4)


class Percentiles(unittest.TestCase):
    def test_median(self):
        self.assertEqual(benchlib.median([3, 1, 2]), 2)
        self.assertEqual(benchlib.median([4, 1, 2, 3]), 2.5)

    def test_tail_needs_ten_samples_beyond(self):
        self.assertIsNone(benchlib.tail_percentile(list(range(10))))
        p, v, n = benchlib.tail_percentile(list(range(1, 12)))
        self.assertEqual((p, v, n), (9, 1, 11))
        p, v, n = benchlib.tail_percentile(list(range(1, 101)))
        self.assertEqual((p, v, n), (90, 90, 100))
        for n in range(11, 300):
            xs = list(range(n))
            p, v, _ = benchlib.tail_percentile(xs)
            self.assertGreaterEqual(sum(1 for x in xs if x > v), 10)
            self.assertGreaterEqual(v, 0)


@unittest.skipUnless(os.path.exists(COMPARE_ORACLE), "tools/compare_oracle.py not present")
class Canonicalisation(unittest.TestCase):
    def test_agrees_with_compare_oracle_canon(self):
        import duckdb
        spec = importlib.util.spec_from_file_location("compare_oracle", COMPARE_ORACLE)
        co = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(co)
        con = duckdb.connect()
        sql = """
          SELECT * FROM (VALUES
            (1, 2.675, 'b', TIMESTAMP '2024-01-02 03:04:05', 0.1 + 0.2, NULL::DOUBLE),
            (2, -1e-12, 'a|x', TIMESTAMP '1999-12-31 23:59:59', 1e17, 'NaN'::DOUBLE),
            (NULL, 123456789.123456789, NULL, NULL, 1.0, 3.0))
            AS t(Id, price, name, ts, tiny, maybe)"""
        self.assertEqual(benchlib.canon(con.sql(sql).df()), co.canon(con.sql(sql)))
        agg = "SELECT k, sum(v) AS s, count(*) AS n FROM (VALUES (1, 5), (1, 7), (2, 9)) t(k, v) GROUP BY k"
        self.assertEqual(benchlib.canon(con.sql(agg).df()), co.canon(con.sql(agg)))

    def test_digest_ignores_row_order_and_name_case(self):
        import duckdb
        con = duckdb.connect()
        a = con.sql("SELECT * FROM (VALUES (1, 'x'), (2, 'y')) t(A, b)").df()
        b = con.sql("SELECT * FROM (VALUES (2, 'y'), (1, 'x')) t(a, B)").df()
        self.assertEqual(benchlib.digest(a), benchlib.digest(b))
        c = con.sql("SELECT * FROM (VALUES (2, 'y'), (1, 'z')) t(a, b)").df()
        self.assertNotEqual(benchlib.digest(a)[0], benchlib.digest(c)[0])


class Spans(unittest.TestCase):
    def fixture(self):
        spans = [
            span(1, "pass", 0, 1000, 3000),
            span(2, "op", 1, 1000, 2000),
            span(3, "job", 2, 1100, 1500),
            span(4, "job", 2, 1400, 1900),
            span(5, "op", 1, 2000, 3000),
            span(6, "job", 5, 2500, 2600),
            span(7, "stage", 3, 1100, 1500, tasks=4, run_ms=1200, input_bytes=1048576,
                 input_records=10, output_bytes=0, peak_exec_bytes=100),
            span(8, "stage", 4, 1400, 1900, tasks=4, run_ms=800, output_bytes=2097152,
                 peak_exec_bytes=300),
            span(9, "stage", 6, 2500, 2600, tasks=1, run_ms=100, shuffle_write_bytes=1048576),
        ]
        passes = [
            {"kind": "timed", "wall_s": 1.8, "span": 0, "ops": []},
            {"kind": "traced", "wall_s": 2.0, "span": 1, "ops": [
                {"name": "a", "wall_s": 1.0}, {"name": "b", "wall_s": 1.0}]},
        ]
        return {"spans": spans, "passes": passes, "probes": {"sources.csv_read_s": 0.5}}

    def test_nesting(self):
        raw = self.fixture()
        self.assertEqual(benchlib.nesting_violations(raw["spans"]), [])
        late = raw["spans"] + [span(10, "job", 5, 2900, 3100), span(11, "job", 0, 10, 20)]
        self.assertEqual([s["id"] for s in benchlib.nesting_violations(late)], [10, 11])

    def test_layer_metrics(self):
        m = benchlib.layer_metrics(self.fixture(), ["a", "b", "c"], cores=4)
        self.assertEqual(m["operators.a_s"], 1.0)
        self.assertEqual(m["operators.c_s"], 0.0)  # not in this workload
        self.assertEqual(m["driver.jobs"], 3)
        # pass 2.0 s; jobs cover [1100, 1900] and [2500, 2600] = 0.9 s
        self.assertAlmostEqual(m["driver.self_s"], 1.1)
        # first job 100 ms after op a, 500 ms after op b
        self.assertAlmostEqual(m["driver.first_job_s"], 0.6)
        self.assertEqual(m["executor.tasks"], 9)
        self.assertAlmostEqual(m["executor.busy_frac"], 2.1 / (2.0 * 4))
        self.assertEqual(m["Tables.input_mb"], 1.0)
        self.assertEqual(m["storage.output_mb"], 2.0)
        self.assertEqual(m["storage.write_amp"], 2.0)
        self.assertEqual(m["memory.peak_exec_mb"], 300 / 1048576)
        self.assertAlmostEqual(m["trace.overhead_s"], 0.2)
        self.assertEqual(m["sources.csv_read_s"], 0.5)


class Spec(unittest.TestCase):
    def test_benchmark_json_mirrors_layers_json(self):
        path = os.path.join(HERE, "..", "BENCHMARK.json")
        if not os.path.exists(path):
            self.skipTest("no BENCHMARK.json")
        with open(path) as f:
            bench = json.load(f)
        with open(os.path.join(HERE, "layers.json")) as f:
            spec = json.load(f)
        self.assertEqual([w["name"] for w in bench["workloads"]], list(spec["workloads"]))
        self.assertEqual([(m["name"], m["unit"], m["better"], m["bound"]) for m in bench["end_to_end"]],
                         [(m["name"], m["unit"], m["better"], m["bound"]) for m in spec["end_to_end"]])
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]],
                         [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]])
        ops = [o for w in spec["workloads"].values() for o in w["ops"] + w["probe_ops"]]
        self.assertEqual(sorted(m["name"] for m in spec["per_layer"] if m["name"].startswith("operators.")),
                         sorted(f"operators.{o}_s" for o in ops))

    def test_every_operation_has_a_digest(self):
        with open(os.path.join(HERE, "layers.json")) as f:
            spec = json.load(f)
        with open(os.path.join(HERE, "oracle", "digests.json")) as f:
            digests = json.load(f)["digests"]
        for w, v in spec["workloads"].items():
            for op in v["ops"] + v["probe_ops"]:
                self.assertEqual(digests[op]["workload"], w)


if __name__ == "__main__":
    unittest.main()
