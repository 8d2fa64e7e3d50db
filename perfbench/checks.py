"""Output checks, run after the timed jobs. Each returns a list of
problems; an empty list means the job's output is correct.

- `fhir_ingest`: the expected outputs are derived here, in Python, from the
  bundle files and the dims, following the reference semantics: one
  resource row per entry in its type's collection, one rawstat row per
  readable bundle, and the three fact tables over living patients (cousub
  by city with the `' Town'` suffix stripped from the dim; condition and
  disease ids from the dim by (system, code), 0 on a miss, -999 for a NULL
  disease id; only ids > 0 counted). Malformed files are skipped.
- `corpus_pipeline`: the shards must equal the rows of the `x43_pipeline`
  oracle SQL run by DuckDB on the same corpus, and the manifest must equal
  their (split, source) totals.
- `core_queries`: each query's result must equal its oracle SQL run by
  DuckDB on the same tables, compared as the repository's `tools/check.py`
  compares them (columns sorted by name, rows in query order, values
  exact), and every timed pass must have counted as many rows.
"""

import json
import math
from collections import Counter
from pathlib import Path

import duckdb

COLLECTIONS = {
    "AllergyIntolerance": "allergyintolerances", "CarePlan": "careplans",
    "Condition": "conditions", "DiagnosticReport": "diagnosticreports",
    "Encounter": "encounters", "Immunization": "immunizations",
    "MedicationRequest": "medicationrequests", "Observation": "observations",
    "Patient": "patients", "Procedure": "procedures", "Bundle": "bundles",
}


def _rollup(rows):
    """(key, gender) rows -> sorted [(*key, pop, pop_male, pop_female)]."""
    acc = {}
    for key, gender in rows:
        a = acc.setdefault(key, [0, 0, 0])
        a[0] += 1
        a[1] += gender == "male"
        a[2] += gender == "female"
    return sorted((*k, *v) for k, v in acc.items())


def fhir_expected(data):
    con = duckdb.connect()
    cousub = {(n[:-len(" Town")] if n.endswith(" Town") else n): fips
              for n, fips in con.sql(f"SELECT cs_name, cs_fips FROM "
                                     f"{_parquet(Path(data) / 'cousub.parquet')}").fetchall()}
    dim = {(system, code): (cond, -999 if dis is None else dis)
           for system, code, cond, dis in con.sql(
               f"SELECT code_system, code, condition_id, disease_id FROM "
               f"{_parquet(Path(data) / 'disease.parquet')}").fetchall()}
    collections, rawstat = Counter(), 0
    pop, dis, cond = [], [], []
    for f in sorted((Path(data) / "bundles").rglob("*.json")):
        try:
            bundle = json.loads(f.read_text())
        except ValueError:
            continue
        entries = bundle.get("entry")
        if entries is None:
            continue
        rawstat += 1
        resources = [e["resource"] for e in entries]
        for r in resources:
            t = r["resourceType"]
            collections[COLLECTIONS.get(t, t.lower() + "s")] += 1
        patient = next(r for r in resources if r["resourceType"] == "Patient")
        deceased = (True if patient.get("deceasedDateTime") is not None
                    else patient.get("deceasedBoolean"))
        if deceased:
            continue
        cs = cousub.get(patient["address"][0]["city"], "")
        gender = patient.get("gender")
        ids = [dim.get((c["system"], c["code"]), (0, 0))
               for c in (r["code"]["coding"][0] for r in resources
                         if r["resourceType"] == "Condition")]
        pop.append(((cs, 1), gender))
        dis += [((cs, d, 1), gender) for d in {d for _, d in ids} if d > 0]
        cond += [((cs, c, 1), gender) for c in {c for c, _ in ids} if c > 0]
    return {
        "collections": dict(collections), "rawstat": rawstat,
        "synth_pop_facts": _rollup(pop),
        "synth_disease_facts": _rollup(dis),
        "synth_condition_facts": _rollup(cond),
    }


FACT_COLUMNS = {
    "synth_pop_facts": "cs_fips, age_id, pop, pop_male, pop_female",
    "synth_disease_facts": "cs_fips, disease_id, age_id, pop, pop_male, pop_female",
    "synth_condition_facts":
        "cs_fips, condition_id, age_id, pop, pop_male, pop_female",
}


def _parquet(path):
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning = true)"


def _views(data, names):
    """A DuckDB connection with a view per table under `data`."""
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    for t in names:
        path = Path(data) / f"{t}.parquet"
        src = _parquet(path) if path.is_dir() else f"read_parquet('{path}')"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM {src}")
    return con


def check_fhir(job_dir, expected):
    con = duckdb.connect()
    problems = []
    try:
        got = dict(con.sql(f"SELECT collection, count(*) FROM "
                           f"{_parquet(Path(job_dir) / 'resources')} GROUP BY 1").fetchall())
        if got != expected["collections"]:
            problems.append(f"collections {got} != {expected['collections']}")
        n = con.sql(f"SELECT count(*) FROM {_parquet(Path(job_dir) / 'rawstat')}").fetchone()[0]
        if n != expected["rawstat"]:
            problems.append(f"rawstat rows {n} != {expected['rawstat']}")
        for table, cols in FACT_COLUMNS.items():
            rows = sorted(con.sql(f"SELECT {cols} FROM "
                                  f"{_parquet(Path(job_dir) / table)}").fetchall())
            if rows != expected[table]:
                problems.append(f"{table}: {len(rows)} rows differ from the "
                                f"{len(expected[table])} expected")
    except duckdb.Error as e:
        problems.append(f"unreadable output: {e}")
    return problems


def corpus_expected(data, oracle_sql):
    """Rows (sorted by doc_id, as dicts) of the x43 oracle on the corpus."""
    con = _views(data, ("documents", "embeddings"))
    rel = con.sql(oracle_sql)
    cols = rel.columns
    return [dict(zip(cols, r)) for r in sorted(rel.fetchall(), key=lambda r: r[cols.index("doc_id")])]


def check_corpus(job_dir, expected):
    con = duckdb.connect()
    problems = []
    if not expected:
        return ["the oracle returned no rows"]
    cols = sorted(expected[0])
    try:
        shards = con.sql(f"SELECT {', '.join(cols)} FROM "
                         f"{_parquet(Path(job_dir) / 'shards')} ORDER BY doc_id").fetchall()
        want = [tuple(r[c] for c in cols) for r in expected]
        if shards != want:
            bad = sum(a != b for a, b in zip(shards, want)) + abs(len(shards) - len(want))
            problems.append(f"shards: {len(shards)} rows, {len(want)} expected, {bad} differ")
        manifest = sorted(con.sql(f"SELECT split, source, n_docs, total_tokens FROM "
                                  f"{_parquet(Path(job_dir) / 'manifest')}").fetchall())
        totals = {}
        for r in expected:
            t = totals.setdefault((r["split"], r["source"]), [0, 0])
            t[0] += 1
            t[1] += r["n_tokens"]
        if manifest != sorted((*k, *v) for k, v in totals.items()):
            problems.append("manifest differs from the shard totals")
    except duckdb.Error as e:
        problems.append(f"unreadable output: {e}")
    return problems


QUERY_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
                "lineitem", "events")


def _cell_eq(a, b):
    if isinstance(a, float) and isinstance(b, float) and math.isnan(a) and math.isnan(b):
        return True
    return a == b


def _frame(rel):
    """Columns sorted by name, timestamps as naive UTC, rows in order."""
    df = rel.df()
    df = df[sorted(df.columns)]
    for c in df.columns:
        if getattr(df[c].dtype, "tz", None) is not None:
            df[c] = df[c].dt.tz_convert("UTC").dt.tz_localize(None)
    return df


def queries_expected(data, check_dir):
    """Oracle frames, by query, of the SQL the harness wrote next to the
    results."""
    oracle = json.loads((Path(check_dir) / "oracle_sql.json").read_text())
    con = _views(data, QUERY_TABLES)
    return {name: _frame(con.sql(sql)) for name, sql in oracle.items()}


def check_query(result_dir, want):
    """Problems of one query's written result against its oracle frame."""
    con = duckdb.connect()
    try:
        got = _frame(con.sql(f"SELECT * FROM read_parquet('{result_dir}/*.parquet')"))
    except duckdb.Error as e:
        return [f"unreadable result: {e}"]
    if list(got.columns) != list(want.columns):
        return [f"columns {list(got.columns)} != {list(want.columns)}"]
    if len(got) != len(want):
        return [f"{len(got)} rows, {len(want)} expected"]
    if list(map(str, got.dtypes)) != list(map(str, want.dtypes)):
        return [f"types {list(map(str, got.dtypes))} != {list(map(str, want.dtypes))}"]
    bad = [i for i, (r, w) in enumerate(zip(got.values.tolist(), want.values.tolist()))
           if not all(_cell_eq(a, b) for a, b in zip(r, w))]
    return [f"{len(bad)} rows differ, first row {bad[0]}"] if bad else []


def check_queries_run(check_dir, expected):
    """Problems of the results written after the timed passes."""
    return [f"{name}: {p}" for name, want in sorted(expected.items())
            for p in check_query(Path(check_dir) / name, want)]


def check_pass(rows, expected):
    """Problems of one timed pass: the rows it counted per query."""
    problems = [f"{n}: counted {rows.get(n)} rows, {len(w)} expected"
                for n, w in sorted(expected.items()) if rows.get(n) != len(w)]
    return problems + [f"{n}: not in the oracle" for n in sorted(set(rows) - set(expected))]
