"""Negative controls for the benchmark's correctness checks.

Each test builds a tiny correct result with DuckDB, shows the checker
accepts it, then alters one value and shows the checker rejects it.
Run: python3 perfbench/test_check.py
"""
import os
import shutil
import tempfile
import unittest

import duckdb

import check

SCRATCH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", ".bench_work")


def _tmpdir():
    os.makedirs(SCRATCH, exist_ok=True)
    return tempfile.mkdtemp(prefix="test-", dir=SCRATCH)


def _copy(con, sql, path, opts="FORMAT PARQUET"):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    con.execute(f"COPY ({sql}) TO '{path}' ({opts})")


RAW_IOT = ("SELECT 'sensor-' || i AS sensor_id, 'Oslo' AS city, "
           "'2025-03-0' || (1 + i % 3) || 'T00:00:00Z' AS timestamp, "
           "(i % 30)::DOUBLE AS temperature_c, 50.0 AS humidity_pct, 20.0 AS aqi, "
           "(i * 7 % 100)::DOUBLE AS battery_level FROM range(30) t(i)")
RAW_W = ("SELECT 'run' AS ingestion_id, 'Oslo' AS city, 1.0 AS latitude, 2.0 AS longitude, "
         "'2025-03-0' || (1 + i % 2) || 'T0' || (i % 10) || ':00' AS timestamp, "
         "(i * 1.1)::DOUBLE AS temperature_c, 40.0 AS humidity_pct, 3.0 AS windspeed_kmh, "
         "0.5 AS precipitation_mm, '2025-03-01T06:00:00+00:00' AS ingested_at "
         "FROM range(10) t(i)")


def iot_curated_sql(d):
    """The correct curated IoT rows of the lifecycle under `d`."""
    return ("SELECT sha256(sensor_id) AS sensor_id_hash, city, timestamp, temperature_c, "
            "humidity_pct, aqi, battery_level, CASE WHEN battery_level >= 50 THEN 'PASS' "
            "WHEN battery_level >= 20 THEN 'WARN' ELSE 'FAIL' END AS quality_score, "
            f"substr(timestamp, 1, 10) AS date FROM {check.raw_json(f'{d}/raw/iot', check.IOT_COLS)}")


def write_curated_iot(con, d, sql):
    shutil.rmtree(f"{d}/curated/iot", ignore_errors=True)
    con.execute(f"COPY ({sql}) TO '{d}/curated/iot' (FORMAT PARQUET, PARTITION_BY (date))")


def make_lake(con, d):
    """A correct ingest-to-catalog lifecycle under `d`; returns its run record."""
    os.makedirs(f"{d}/curated")
    _copy(con, RAW_IOT, f"{d}/raw/iot/day=01/part-0.json", "FORMAT JSON")
    _copy(con, RAW_W, f"{d}/raw/weather/date=2025-03-01/part-0.json", "FORMAT JSON")
    raw_w = check.raw_json(f"{d}/raw/weather", check.WEATHER_COLS)
    write_curated_iot(con, d, iot_curated_sql(d))
    con.execute(
        "COPY (SELECT *, round(temperature_c * 9.0 / 5.0 + 32.0, 2) AS temperature_f, "
        f"substr(timestamp, 1, 10) AS date FROM {raw_w}) TO '{d}/curated/weather' "
        "(FORMAT PARQUET, PARTITION_BY (date))")
    return {
        "raw_iot": f"{d}/raw/iot", "raw_weather": f"{d}/raw/weather",
        "curated_iot": f"{d}/curated/iot", "curated_weather": f"{d}/curated/weather",
        "land_rows": 30, "iot_rows": 30, "weather_rows": 10,
        "iot_validation": {"evaluated": 9, "passed": 9, "success": True, "counts": [30] * 9},
        "weather_validation": {"evaluated": 6, "passed": 6, "success": True,
                               "counts": [10] * 6}}


class LakeCheckTest(unittest.TestCase):
    def setUp(self):
        self.dir = _tmpdir()
        self.con = duckdb.connect()
        self.run = make_lake(self.con, self.dir)

    def tearDown(self):
        shutil.rmtree(self.dir)

    def write_curated(self, sql):
        write_curated_iot(self.con, self.dir, sql)

    def test_accepts_a_correct_lifecycle(self):
        self.assertEqual(check.check_lake({"lake_runs": [self.run]}, self.con), [])

    def test_rejects_an_altered_derived_column(self):
        self.write_curated(iot_curated_sql(self.dir).replace("ELSE 'FAIL'", "ELSE 'WARN'"))
        fails = check.check_lake({"lake_runs": [self.run]}, self.con)
        self.assertEqual(len(fails), 1)
        self.assertIn("derived rows differ", fails[0])

    def test_rejects_a_lost_partition(self):
        shutil.rmtree(f"{self.dir}/curated/iot/date=2025-03-02")
        fails = check.check_lake({"lake_runs": [self.run]}, self.con)
        self.assertIn("per-date counts differ", fails[0])

    def test_rejects_a_failed_validation_report(self):
        self.run["iot_validation"]["passed"] = 8
        self.assertEqual(len(check.check_lake({"lake_runs": [self.run]}, self.con)), 1)


class ServeCheckTest(unittest.TestCase):
    ORACLE = "SELECT n_regionkey, count(*) AS n FROM nation GROUP BY 1 ORDER BY 1"

    def setUp(self):
        self.dir = _tmpdir()
        self.con = duckdb.connect()
        d = self.dir
        for t in check.TPCH_TABLES:
            sql = ("SELECT i::INT AS n_nationkey, 'NATION_' || i AS n_name, "
                   "(i % 5)::INT AS n_regionkey FROM range(25) t(i)" if t == "nation"
                   else "SELECT 1 AS x")
            _copy(self.con, sql, f"{d}/tpch/{t}.parquet/part-0.parquet")
        lake = make_lake(self.con, f"{d}/lake")
        self.res = {"tpch_dir": f"{d}/tpch", "curated_iot": lake["curated_iot"],
                    "curated_weather": lake["curated_weather"], "lake_run": lake,
                    "queries": [{"name": "nation_count", "oracle": self.ORACLE,
                                 "result": f"{d}/result"}]}

    def tearDown(self):
        shutil.rmtree(self.dir)

    def write_result(self, sql):
        self.con.execute(
            "CREATE OR REPLACE VIEW nation AS SELECT * FROM "
            f"read_parquet('{self.dir}/tpch/nation.parquet/*.parquet')")
        _copy(self.con, sql, f"{self.dir}/result/part-0.parquet")

    def test_accepts_the_oracle_result(self):
        self.write_result(self.ORACLE)
        self.assertEqual(check.check_serve(self.res, self.con), [])

    def test_rejects_an_altered_row(self):
        self.write_result("SELECT n_regionkey, CASE WHEN n_regionkey = 2 THEN n + 1 ELSE n END "
                          f"AS n FROM ({self.ORACLE})")
        fails = check.check_serve(self.res, self.con)
        self.assertEqual(len(fails), 1)
        self.assertIn("nation_count", fails[0])

    def test_rejects_a_renamed_column(self):
        self.write_result("SELECT n_regionkey, count(*) AS cnt FROM nation GROUP BY 1 ORDER BY 1")
        self.assertIn("columns", check.check_serve(self.res, self.con)[0])

    def test_rejects_a_wrong_lake_build(self):
        # the query result is right, but the curated tables it read lost a partition
        self.write_result(self.ORACLE)
        shutil.rmtree(f"{self.dir}/lake/curated/iot/date=2025-03-02")
        fails = check.check_serve(self.res, self.con)
        self.assertEqual(len(fails), 1)
        self.assertIn("serve_sql lake build", fails[0])
        self.assertIn("per-date counts differ", fails[0])


class CorpusCheckTest(unittest.TestCase):
    # 20 docs: 0-3 one exact group, 4-7 one near group, then singles
    KINDS = ["exact"] * 4 + ["near"] * 4 + ["foreign", "short", "contaminated"] + ["plain"] * 9
    SURVIVORS = [0, 4, 5, 12, 13, 14, 15]

    def setUp(self):
        self.dir = _tmpdir()
        self.con = duckdb.connect()
        d = self.dir
        kinds = ", ".join(f"({i}, '{k}')" for i, k in enumerate(self.KINDS))
        _copy(self.con, f"SELECT * FROM (VALUES {kinds}) t(doc_id, kind)", f"{d}/corpus/c.parquet")
        self.write_ids("ref", self.SURVIVORS)
        self.write_ids("op0", self.SURVIVORS)
        # 20 docs - 1 foreign - 1 short - 3 exact copies - 1 near copy - 1 contaminated
        self.res = {"corpus_dir": f"{d}/corpus", "setup_output": f"{d}/ref",
                    "outputs": [f"{d}/op0"], "exact_groups": 1, "near_groups": 1,
                    "stage_counts": {"language": 19, "quality": 18, "exact_dedup": 15,
                                     "near_dedup": 14, "decontaminate": 13, "mixture": 7}}

    def tearDown(self):
        shutil.rmtree(self.dir)

    def write_ids(self, name, ids):
        shutil.rmtree(f"{self.dir}/{name}", ignore_errors=True)
        _copy(self.con, "SELECT unnest(" + str(ids) + ")::BIGINT AS doc_id",
              f"{self.dir}/{name}/part-0.parquet")

    def test_accepts_a_consistent_run(self):
        fails, seen = check.check_corpus(self.res, 7, {}, self.con)
        self.assertEqual(fails, [])
        self.assertEqual(check.check_corpus(self.res, 7, {"7": seen}, self.con)[0], [])

    def test_rejects_an_altered_timed_output(self):
        self.write_ids("op0", self.SURVIVORS[:-1] + [16])
        fails, _ = check.check_corpus(self.res, 7, {}, self.con)
        self.assertEqual(fails, ["corpus_curate op 0: surviving doc_ids differ from the "
                                 "reference call"])

    def test_rejects_a_wrong_stage_count(self):
        self.res["stage_counts"]["exact_dedup"] = 16
        self.assertEqual(len(check.check_corpus(self.res, 7, {}, self.con)[0]), 1)

    def test_rejects_a_survivor_of_a_filtered_kind(self):
        self.write_ids("ref", self.SURVIVORS[:-1] + [9])
        self.write_ids("op0", self.SURVIVORS[:-1] + [9])
        fails, _ = check.check_corpus(self.res, 7, {}, self.con)
        self.assertIn("filtered-kind docs survived", fails[0])

    def test_rejects_a_digest_other_than_the_recorded_one(self):
        recorded = {"7": {"stage_counts": self.res["stage_counts"], "digest": "0" * 64}}
        fails, _ = check.check_corpus(self.res, 7, recorded, self.con)
        self.assertIn("recorded", fails[0])


if __name__ == "__main__":
    unittest.main()
