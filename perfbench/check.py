"""Out-of-process correctness checks for the benchmark's workloads.

Each check reads what the engine wrote (curated Parquet, query results,
curated corpora) with DuckDB and compares it with an independent
recomputation over the generated inputs. A check returns a list of
failure messages, one per failed operation; an empty list means correct.
"""
import hashlib
import json

import duckdb

IOT_COLS = {"sensor_id": "VARCHAR", "city": "VARCHAR", "timestamp": "VARCHAR",
            "temperature_c": "DOUBLE", "humidity_pct": "DOUBLE", "aqi": "DOUBLE",
            "battery_level": "DOUBLE"}
WEATHER_COLS = {"ingestion_id": "VARCHAR", "city": "VARCHAR", "latitude": "DOUBLE",
                "longitude": "DOUBLE", "timestamp": "VARCHAR", "temperature_c": "DOUBLE",
                "humidity_pct": "DOUBLE", "windspeed_kmh": "DOUBLE",
                "precipitation_mm": "DOUBLE", "ingested_at": "VARCHAR"}
TPCH_TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]
CORPUS_STAGES = ["language", "quality", "exact_dedup", "near_dedup", "decontaminate",
                 "mixture"]


def _cols(d):
    return "{" + ", ".join(f"'{k}': '{v}'" for k, v in d.items()) + "}"


def raw_json(path, cols):
    return (f"read_json('{path}/**/*.json', columns={_cols(cols)}, "
            f"format='newline_delimited', hive_partitioning=false)")


def curated_parquet(path):
    return (f"read_parquet('{path}/**/*.parquet', hive_partitioning=true, "
            f"hive_types={{'date': 'VARCHAR'}})")


def _diff_count(con, expected_sql, actual_sql):
    return con.execute(
        f"SELECT count(*) FROM (({expected_sql}) EXCEPT ALL ({actual_sql})) UNION ALL "
        f"SELECT count(*) FROM (({actual_sql}) EXCEPT ALL ({expected_sql}))").fetchall()


def _validation_errors(report, evaluated, raw_rows, label):
    if report is None:
        return [f"{label}: no validation report"]
    errs = []
    if report["evaluated"] != evaluated or report["passed"] != evaluated \
            or not report["success"]:
        errs.append(f"{label}: validation {report['passed']}/{report['evaluated']} "
                    f"success={report['success']}, want {evaluated}/{evaluated}")
    if any(int(c) != raw_rows for c in report["counts"]):
        errs.append(f"{label}: validation counts {report['counts']} != raw rows {raw_rows}")
    return errs


def check_lake_run(con, run):
    """Errors of one ingest-to-catalog lifecycle (empty when correct)."""
    errs = []
    raw_iot = raw_json(run["raw_iot"], IOT_COLS)
    raw_w = raw_json(run["raw_weather"], WEATHER_COLS)
    cur_iot = curated_parquet(run["curated_iot"])
    cur_w = curated_parquet(run["curated_weather"])
    n_iot = con.execute(f"SELECT count(*) FROM {raw_iot}").fetchone()[0]
    n_w = con.execute(f"SELECT count(*) FROM {raw_w}").fetchone()[0]
    if n_iot != run["land_rows"]:
        errs.append(f"landed {n_iot} raw rows, want {run['land_rows']}")
    if run["iot_rows"] != n_iot or run["weather_rows"] != n_w:
        errs.append(f"transform reported {run['iot_rows']}/{run['weather_rows']} rows, "
                    f"raw zone has {n_iot}/{n_w}")
    for raw, cur, label in ((raw_iot, cur_iot, "iot"), (raw_w, cur_w, "weather")):
        want = dict(con.execute(
            f"SELECT substr(timestamp, 1, 10), count(*) FROM {raw} GROUP BY 1").fetchall())
        got = dict(con.execute(f"SELECT date, count(*) FROM {cur} GROUP BY 1").fetchall())
        if want != got:
            bad = sorted(d for d in set(want) | set(got) if want.get(d) != got.get(d))
            errs.append(f"{label}: curated per-date counts differ on {bad[:3]}")
    iot_expected = (
        "SELECT sha256(sensor_id) AS sensor_id_hash, city, timestamp, temperature_c, "
        "humidity_pct, aqi, battery_level, CASE WHEN battery_level >= 50 AND "
        "temperature_c IS NOT NULL AND humidity_pct IS NOT NULL AND aqi IS NOT NULL "
        "THEN 'PASS' WHEN battery_level >= 20 THEN 'WARN' ELSE 'FAIL' END AS quality_score, "
        f"substr(timestamp, 1, 10) AS date FROM {raw_iot}")
    iot_actual = ("SELECT sensor_id_hash, city, timestamp, temperature_c, humidity_pct, aqi, "
                  f"battery_level, quality_score, date FROM {cur_iot}")
    w_expected = (
        "SELECT ingestion_id, city, latitude, longitude, timestamp, temperature_c, "
        "humidity_pct, windspeed_kmh, precipitation_mm, ingested_at, "
        "round(temperature_c * 9.0 / 5.0 + 32.0, 2) AS temperature_f, "
        f"substr(timestamp, 1, 10) AS date FROM {raw_w}")
    w_actual = ("SELECT ingestion_id, city, latitude, longitude, timestamp, temperature_c, "
                "humidity_pct, windspeed_kmh, precipitation_mm, ingested_at, temperature_f, "
                f"date FROM {cur_w}")
    for exp, act, label in ((iot_expected, iot_actual, "iot"), (w_expected, w_actual, "weather")):
        (missing,), (extra,) = _diff_count(con, exp, act)
        if missing or extra:
            errs.append(f"{label}: derived rows differ from the DuckDB recomputation "
                        f"({missing} missing, {extra} unexpected)")
    errs += _validation_errors(run["iot_validation"], 9, n_iot, "iot")
    errs += _validation_errors(run["weather_validation"], 6, n_w, "weather")
    return errs


def check_lake(res, con=None):
    con = con or duckdb.connect()
    fails = []
    for i, run in enumerate(res["lake_runs"]):
        errs = check_lake_run(con, run)
        if errs:
            fails.append(f"lake_etl cycle {i}: " + "; ".join(errs))
    return fails


def _norm(rows):
    return [tuple("NULL" if v is None else repr(v) for v in r) for r in rows]


def query_rows(con, sql):
    rel = con.sql(sql)
    cols = sorted(rel.columns)
    rows = con.execute(
        f"SELECT {', '.join(chr(34) + c + chr(34) for c in cols)} FROM ({sql})").fetchall()
    return cols, _norm(rows)


def check_serve(res, con=None):
    con = con or duckdb.connect()
    # the curated tables come from the lake code: check that build first
    errs = check_lake_run(con, res["lake_run"])
    fails = ["serve_sql lake build: " + "; ".join(errs)] if errs else []
    for t in TPCH_TABLES:
        con.execute(f"CREATE OR REPLACE VIEW {t} AS "
                    f"SELECT * FROM read_parquet('{res['tpch_dir']}/{t}.parquet/*.parquet')")
    con.execute("CREATE OR REPLACE VIEW curated_sensor_readings AS SELECT * FROM "
                + curated_parquet(res["curated_iot"]))
    con.execute("CREATE OR REPLACE VIEW curated_weather AS SELECT * FROM "
                + curated_parquet(res["curated_weather"]))
    for q in res["queries"]:
        try:
            got_cols, got = query_rows(con, f"SELECT * FROM read_parquet('{q['result']}/*.parquet')")
            want_cols, want = query_rows(con, q["oracle"])
        except duckdb.Error as e:
            fails.append(f"serve_sql {q['name']}: {e}")
            continue
        if got_cols != want_cols:
            fails.append(f"serve_sql {q['name']}: columns {got_cols} != oracle {want_cols}")
        elif got != want:
            diffs = [(a, b) for a, b in zip(got, want) if a != b]
            fails.append(f"serve_sql {q['name']}: {len(got)} rows vs oracle {len(want)}, "
                         f"first diffs {diffs[:2]}")
    return fails


def survivors_digest(con, path):
    ids = [r[0] for r in con.execute(
        f"SELECT doc_id FROM read_parquet('{path}/*.parquet') ORDER BY doc_id").fetchall()]
    return len(ids), len(set(ids)), hashlib.sha256(
        ",".join(map(str, ids)).encode()).hexdigest()


def corpus_truth(con, corpus_dir):
    """Stage bounds implied by the generator's ground-truth labels."""
    n, foreign, short, contaminated = con.execute(
        "SELECT count(*), count(*) FILTER (kind = 'foreign'), count(*) FILTER (kind = 'short'), "
        "count(*) FILTER (kind = 'contaminated') "
        f"FROM read_parquet('{corpus_dir}/*.parquet')").fetchone()
    return n, foreign, short, contaminated


def check_corpus(res, seed, expected, con=None):
    con = con or duckdb.connect()
    fails = []
    counts = {k: int(v) for k, v in res["stage_counts"].items()}
    n, foreign, short, contaminated = corpus_truth(con, res["corpus_dir"])
    eg, ng = int(res["exact_groups"]), int(res["near_groups"])
    c = [counts.get(s, -1) for s in CORPUS_STAGES]
    errs = []
    if c[0] != n - foreign:
        errs.append(f"language kept {c[0]}, want {n - foreign}")
    if c[1] != c[0] - short:
        errs.append(f"quality kept {c[1]}, want {c[0] - short}")
    if c[2] != c[1] - 3 * eg:
        errs.append(f"exact_dedup kept {c[2]}, want {c[1] - 3 * eg}")
    if not c[2] - 3 * ng <= c[3] < c[2]:
        errs.append(f"near_dedup kept {c[3]}, want within [{c[2] - 3 * ng}, {c[2]})")
    if c[4] != c[3] - contaminated:
        errs.append(f"decontaminate kept {c[4]}, want {c[3] - contaminated}")
    if not 0 < c[5] <= c[4]:
        errs.append(f"mixture kept {c[5]}, want within (0, {c[4]}]")
    rows, distinct, digest = survivors_digest(con, res["setup_output"])
    if rows != distinct or rows != c[5]:
        errs.append(f"curated corpus has {rows} rows ({distinct} distinct), "
                    f"stage count says {c[5]}")
    leaked = con.execute(
        "SELECT count(*) FROM read_parquet('" + res["setup_output"] + "/*.parquet') o "
        "JOIN read_parquet('" + res["corpus_dir"] + "/*.parquet') d USING (doc_id) "
        "WHERE d.kind IN ('foreign', 'short', 'contaminated')").fetchone()[0]
    if leaked:
        errs.append(f"{leaked} filtered-kind docs survived")
    want = expected.get(str(seed))
    if want is not None:
        if want["stage_counts"] != counts:
            errs.append(f"stage counts {counts} != recorded {want['stage_counts']}")
        if want["digest"] != digest:
            errs.append("surviving doc_id digest differs from the recorded one")
    if errs:
        fails.append("corpus_curate reference call: " + "; ".join(errs))
    for i, out in enumerate(res["outputs"]):
        if survivors_digest(con, out)[2] != digest:
            fails.append(f"corpus_curate op {i}: surviving doc_ids differ from the reference call")
    return fails, {"stage_counts": counts, "digest": digest}


def load_expected(path):
    try:
        with open(path) as f:
            return json.load(f)
    except FileNotFoundError:
        return {}
