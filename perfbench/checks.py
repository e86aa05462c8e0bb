"""Untimed output checks for perfbench (DuckDB).

check(workload, result, sf_dir) -> (failed_operations, notes, extra_metrics)

Every operation whose output fails a check counts once in `failed`. The
registry compare is tools/check_oracle.py's: columns sorted by name, rows
sorted, exact values.
"""
import csv
import glob
import hashlib
import json
import os

import duckdb
import numpy as np
import pandas as pd

NOT_SPECIFIED = "Не указано"
UNCLASSIFIED = "Не определена"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def _csv(paths):
    files = ", ".join("'" + p.replace("'", "''") + "'" for p in paths)
    return f"read_csv([{files}], header=true, all_varchar=true, auto_detect=true)"


# Input rows as the pipeline reads them: the CSV writer trims values and
# writes nulls as empty, so both sides compare as trimmed, empty-for-null text
# with the salary as a number.
_NORM = ("CAST(id AS BIGINT) AS id, coalesce(trim(title), '') AS t, "
         "coalesce(trim(ai_field_of_activity), '') AS f, created_at AS d, "
         "TRY_CAST(salary_to AS DOUBLE) AS s")


def _load_inputs(con, inputs):
    con.sql(f"CREATE OR REPLACE TABLE inp AS SELECT {_NORM} FROM {_csv(inputs)}")


def _pipeline_common(con, out_dir):
    """Row-level checks of one output against table `inp`; returns problems."""
    parts = sorted(glob.glob(os.path.join(out_dir, "part-*.csv")))
    if not parts:
        return ["no output files"]
    con.sql(f"CREATE OR REPLACE TABLE o AS SELECT *, {_NORM} FROM {_csv(parts)}")
    problems = []
    n, ids = con.sql("SELECT count(*), count(DISTINCT id) FROM o").fetchone()
    if n != ids:
        problems.append(f"{n - ids} duplicate ids")
    missing = con.sql("SELECT count(*) FROM (SELECT DISTINCT id FROM inp EXCEPT SELECT id FROM o)").fetchone()[0]
    if missing:
        problems.append(f"{missing} input ids missing from the output")
    # dropDuplicates("id") keeps an arbitrary row of a re-posted id: any one
    # of that id's input rows is accepted
    foreign = con.sql("""SELECT count(*) FROM (
        SELECT id, t, f, d, s FROM o EXCEPT SELECT id, t, f, d, s FROM inp)""").fetchone()[0]
    if foreign:
        problems.append(f"{foreign} output rows match none of their id's input rows")
    return problems


def _daily(res):
    info = res["info"]
    expected = {}
    with open(info["expected"], encoding="utf-8") as fh:
        for row in csv.DictReader(fh, delimiter="\t", quoting=csv.QUOTE_NONE):
            expected[(row["role"], row["key"])] = (row["category"], row["specialization"])
    con = duckdb.connect()
    con.sql("CREATE TABLE exp (role VARCHAR, k VARCHAR, cat VARCHAR, spec VARCHAR)")
    con.executemany("INSERT INTO exp VALUES (?, ?, ?, ?)",
                    [(r, k, c, s) for (r, k), (c, s) in expected.items()])
    failed = len(res["failures"])
    notes = [f"threw: {f}" for f in res["failures"][:10]]
    rate_days = set(info["rate_days"])
    hits = {"title": [0, 0], "field": [0, 0]}
    for day in info["days"]:
        _load_inputs(con, day["inputs"])
        problems = _pipeline_common(con, day["out"])
        if not problems:
            bad = con.sql(f"""SELECT
              count(*) FILTER (WHERE t = '' AND normalized_title <> '{NOT_SPECIFIED}'),
              count(*) FILTER (WHERE t <> '' AND normalized_title IS DISTINCT FROM
                (SELECT cat FROM exp WHERE role = 'title' AND k = t)),
              count(*) FILTER (WHERE f = '' AND (category <> '{NOT_SPECIFIED}' OR specialization <> '{NOT_SPECIFIED}')),
              count(*) FILTER (WHERE f <> '' AND (category IS DISTINCT FROM
                (SELECT cat FROM exp WHERE role = 'field' AND k = f) OR specialization IS DISTINCT FROM
                (SELECT spec FROM exp WHERE role = 'field' AND k = f))),
              count(*) FILTER (WHERE t LIKE '\\_\\_hx\\_%' ESCAPE '\\' OR normalized_title = 'Галлюцинация'
                OR category = 'Галлюцинация')
              FROM o""").fetchone()
            for label, v in zip(["blank titles not 'Не указано'", "titles off the stub truth",
                                 "blank fields not 'Не указано'", "fields off the stub truth",
                                 "hallucinated keys leaked"], bad):
                if v:
                    problems.append(f"{v} {label}")
        if problems:
            failed += 1
            notes.append(f"day {day['day']}: " + "; ".join(problems))
        elif day["day"] in rate_days:
            for role, key, col in (("title", "t", "normalized_title"), ("field", "f", "category")):
                ok, n = con.sql(f"""SELECT count(*) FILTER (WHERE c <> '{UNCLASSIFIED}'), count(*)
                    FROM (SELECT {key}, any_value({col}) AS c FROM o WHERE {key} <> '' GROUP BY {key})""").fetchone()
                hits[role][0] += ok
                hits[role][1] += n
    notes.append(f"{res['attempted'] - failed}/{res['attempted']} days pass")
    extra = {f"{role}_success_rate": {"value": ok / max(1, n), "unit": "fraction"}
             for role, (ok, n) in hits.items()}
    return failed, notes, extra


def _cells(df, float_cols):
    """Each column as canonical strings: floats by repr (NaN and -0.0
    folded), datetimes at microseconds, everything else by str()."""
    out = []
    for c in sorted(df.columns):
        s = df[c]
        if c in float_cols or pd.api.types.is_float_dtype(s):
            a = s.astype(float).to_numpy()
            out.append(["nan" if np.isnan(x) else repr(float(x) + 0.0) for x in a])
        elif str(s.dtype).startswith("datetime64"):
            out.append(list(pd.to_datetime(s).astype("datetime64[us]").astype(str)))
        else:
            out.append(list(s.astype(str)))
    return out


def digest(df, float_cols):
    """Order-free digest of a result: equal digests mean the two results
    match under tools/check_oracle.py's compare (columns sorted by name,
    rows sorted, exact values)."""
    h = hashlib.sha256(json.dumps(sorted(df.columns)).encode())
    for row in sorted(zip(*_cells(df, float_cols))):
        h.update("\x1f".join(row).encode() + b"\x1e")
    return h.hexdigest()


def float_columns(df):
    return sorted(c for c in df.columns if pd.api.types.is_float_dtype(df[c]))


def sql_sha(sql):
    return hashlib.sha256(sql.encode()).hexdigest()


def testdata_fingerprint(sf_dir):
    return {t: os.path.getsize(os.path.join(sf_dir, f"{t}.parquet")) for t in TABLES
            if os.path.exists(os.path.join(sf_dir, f"{t}.parquet"))}


def duckdb_views(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def spark_result(work, name):
    files = glob.glob(os.path.join(work, "registry", name, "*.parquet"))
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True) if files else None


def _registry(res, sf_dir, work):
    """Compares each query's result with its DuckDB oracle twin. The twin's
    result depends only on the oracle SQL and the read-only testdata, so it
    is committed as a digest (oracle_digests.json, keyed by the SQL's hash).
    A query whose SQL or testdata no longer matches its digest fails: some
    twins take far longer in DuckDB than a run may, so none is evaluated
    live."""
    info = res["info"]
    with open(os.path.join(work, "oracle_sql.json"), encoding="utf-8") as fh:
        oracle = json.load(fh)
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "oracle_digests.json")) as fh:
        committed = json.load(fh)
    same_data = committed["testdata"] == testdata_fingerprint(sf_dir)
    thrown = set(info.get("failed_queries", []))
    executions = info.get("executions", {})
    failed = len(res["failures"])
    notes = [f"threw: {f}" for f in res["failures"][:10]]
    n_pass = 0
    for name in sorted(oracle):
        if name in thrown:
            continue
        spark_df = spark_result(work, name)
        ref = committed["queries"].get(name)
        if spark_df is None:
            why = "no output"
        elif same_data and ref and ref["sql_sha256"] == sql_sha(oracle[name]):
            got = digest(spark_df, set(ref["float_columns"]))
            why = None if got == ref["digest"] else f"result differs from the DuckDB oracle ({ref['rows']} rows expected, {len(spark_df)} got)"
        else:
            why = ("no committed oracle digest for its current SQL and testdata: "
                   "regenerate oracle_digests.json with perfbench/oracle_digests.py")
        if why:
            failed += executions.get(name, 1)
            notes.append(f"{name}: {why}")
        else:
            n_pass += 1
    notes.append(f"{n_pass}/{len(oracle)} queries match their DuckDB oracle")
    return failed, notes, {}


def check(workload, res, sf_dir):
    if workload == "vacancy_daily":
        return _daily(res)
    return _registry(res, sf_dir, res["info"]["work"])
